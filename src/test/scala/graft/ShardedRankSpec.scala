package graft

import graft.SessionConf.withConfs
import graft.ops.ShardedRank
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ShardedRank must be BIT-IDENTICAL to the single-partition window
  * forms it replaces — global row_number over every supported shard
  * topology, and SQL-standard NTILE for every (n, b) size split. The
  * catalog's ntile/rfm oracles only exercise the fixture's sizes;
  * this spec sweeps the boundary cases (empty buckets, n < b, exact
  * multiples, duplicate keys piled into one tie class). */
class ShardedRankSpec extends SparkSpecBase {

  private def seeded(n: Int) = {
    // deterministic synthetic frame with heavy tie classes: value has
    // only 7 distinct levels, id is unique
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, (i * 2654435761L % 7).toInt, (i * 40503L % 100000L))
    }.toDF("id", "level", "value")
  }

  test("rowNumber == unpartitioned row_number: exact-key + id-shard composite") {
    val df = seeded(500)
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("level").desc, col("id").asc))
        .cast("bigint"))
      .select(col("id"), col("rn"))
    val got = ShardedRank.rowNumber(df,
      Seq(col("level"), expr("id DIV 64")), Seq(true, false),
      Seq(col("level").desc, col("id").asc), "rn")
      .select(col("id"), col("rn"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("rowNumber == unpartitioned row_number: value-band shard, asc") {
    val df = seeded(500)
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("value").asc, col("id").asc))
        .cast("bigint"))
      .select(col("id"), col("rn"))
    val got = ShardedRank.rowNumber(df,
      Seq(expr("value DIV 8192")), Seq(false),
      Seq(col("value").asc, col("id").asc), "rn")
      .select(col("id"), col("rn"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("NULL shard keys: rows are kept (null-safe join-back), ranks exact") {
    // a shard key built from an aggregate can be NULL (e.g. sum over an
    // all-null group); the join-back must be null-safe or those rows
    // silently vanish. Nulls sort FIRST under asc — same as the plain
    // window's default — so the null tie class ranks first here too.
    import spark.implicits._
    val df = Seq[(Long, java.lang.Long)](
      (1L, 30L), (2L, null), (3L, 10L), (4L, null), (5L, 20L),
      (6L, 10L), (7L, null), (8L, 40L))
      .toDF("id", "v")
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("v").asc, col("id").asc))
        .cast("bigint"))
      .select(col("id"), col("rn"))
    val got = ShardedRank.rowNumber(df,
      Seq(expr("v DIV 15")), Seq(false),
      Seq(col("v").asc, col("id").asc), "rn")
      .select(col("id"), col("rn"))
    assert(got.count() == 8, "null-keyed rows must not be dropped")
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("rowNumberAdaptive: both sides of the threshold agree with the window") {
    val df = seeded(500)
    val expected = df.withColumn("rn",
      row_number().over(Window.orderBy(col("level").desc, col("id").asc))
        .cast("bigint"))
      .select(col("id"), col("rn"))
    for (thr <- Seq("0", "1000000")) { // force sharded, then plain
      withConfs(spark, Map(ShardedRank.ThresholdConf -> Some(thr))) {
        val (ranked, n) = ShardedRank.rowNumberAdaptive(df,
          Seq(col("level"), expr("id DIV 64")), Seq(true, false),
          Seq(col("level").desc, col("id").asc), "rn")
        assert(n == 500L)
        val got = ranked.select(col("id"), col("rn"))
        assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
          s"threshold=$thr")
      }
    }
  }

  test("ntileSql == ntile() for every (n, b) boundary shape") {
    import spark.implicits._
    for (n <- Seq(1, 3, 4, 5, 7, 40, 41); b <- Seq(2, 4, 5, 10)) {
      val df = (1 to n).map(_.toLong).toDF("id")
      val expected = df.select(col("id"),
        ntile(b).over(Window.orderBy(col("id"))).cast("bigint").as("t"))
      val got = ShardedRank.rowNumber(df, Seq(expr("id DIV 16")), Seq(false),
        Seq(col("id").asc), "rn")
        .crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
        .select(col("id"), expr(ShardedRank.ntileSql("rn", "n", b)).as("t"))
      assert(got.except(expected).isEmpty && expected.except(got).isEmpty,
        s"n=$n b=$b")
    }
  }
}
