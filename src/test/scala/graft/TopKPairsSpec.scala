package graft

import graft.functions.GraftFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bounded-state top-k pairs aggregate: must reproduce the rank-window
  * top-k bit-for-bit under any partitioning (the merge path), with the
  * (score DESC, id ASC) tie-break. */
class TopKPairsSpec extends SparkSpecBase {

  import spark.implicits._

  private def randRows(n: Int): Seq[(Long, Double, Long)] = {
    val rnd = new scala.util.Random(42)
    // few distinct scores → plenty of ties to exercise the id tie-break
    (0 until n).map(i =>
      (rnd.nextInt(7).toLong, rnd.nextInt(9) / 4.0, i.toLong))
  }

  test("matches the rank window under every partitioning, ties included") {
    val df = randRows(5000).toDF("g", "score", "id")
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val expected = df.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 5)
      .select(col("g"), col("id"), col("score"), col("rnk"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    for (parts <- Seq(1, 3, 32)) {
      val got = df.repartition(parts)
        .groupBy(col("g"))
        .agg(GraftFunctions.topKPairs(col("score"), col("id"), 5).as("tk"))
        .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("g"), col("e.id"), col("e.score"),
          (col("pos") + 1).cast("int").as("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
        .toSet
      assert(got === expected, s"parts=$parts")
    }
  }

  test("groups smaller than k emit all rows, still best-first") {
    val got = Seq((1L, 0.5, 10L), (1L, 0.9, 11L), (2L, 0.1, 20L))
      .toDF("g", "score", "id")
      .groupBy(col("g"))
      .agg(GraftFunctions.topKPairs(col("score"), col("id"), 5).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("g"), col("e.id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === Set((1L, 11L, 0), (1L, 10L, 1), (2L, 20L, 0)))
  }

  test("null scores and ids are skipped") {
    val got = Seq[(Long, Option[Double], Option[Long])](
      (1L, Some(0.5), Some(1L)), (1L, None, Some(2L)), (1L, Some(0.9), None))
      .toDF("g", "score", "id")
      .groupBy(col("g"))
      .agg(GraftFunctions.topKPairs(col("score"), col("id"), 5).as("tk"))
      .select(size(col("tk")))
      .head().getInt(0)
    assert(got === 1)
  }

  test("ranks ±0.0 as equal and NaN above every value, as the rank window does") {
    // 0.0 and -0.0 tie (so the id decides), NaN ties NaN and beats 1.0
    val df = Seq((1L, 0.0, 5L), (1L, -0.0, 3L), (1L, Double.NaN, 9L),
      (1L, Double.NaN, 7L), (1L, 1.0, 1L), (1L, -0.0, 8L), (1L, 0.0, 2L),
      (2L, 0.0, 5L), (2L, -0.0, 3L)).toDF("g", "score", "id")
    // scores by bit pattern: `==` would fail NaN and pass 0.0 for -0.0
    def rows(out: org.apache.spark.sql.DataFrame) =
      out.select(col("g"), col("id"), col("score"), col("rnk")).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getLong(3)))
        .toSet
    val w = Window.partitionBy(col("g"))
      .orderBy(col("score").desc, col("id").asc)
    val expected = rows(df.withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= 5))
    for (parts <- Seq(1, 3)) {
      val got = rows(df.repartition(parts)
        .groupBy(col("g"))
        .agg(GraftFunctions.topKPairs(col("score"), col("id"), 5).as("tk"))
        .select(col("g"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("g"), col("e.id").as("id"), col("e.score").as("score"),
          (col("pos") + 1).cast("bigint").as("rnk")))
      assert(got === expected, s"parts=$parts")
    }
  }
}
