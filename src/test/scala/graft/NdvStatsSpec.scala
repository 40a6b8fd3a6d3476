package graft

import graft.SessionConf.withConfs
import graft.pipeline.V2KeyedTableSink
import graft.sources.KeyedTableRegistry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-column NDV statistics from the per-file KMV sketches, reported
  * through the V2 scan's columnStats and consumed by Spark's
  * cost-based optimizer: the order of a multi-way join follows the
  * join keys' distinct counts, unhinted. */
class NdvStatsSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withCbo[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(
      withConfs(spark, Map("spark.sql.cbo.enabled" -> Some("true"),
        "spark.sql.cbo.joinReorder.enabled" -> Some("true")))(body))

  private def table(t: String): DataFrame =
    spark.read.table(s"graft_keyed.`$t`")

  test("the scan reports KMV-derived distinct counts to the optimizer") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_ndv_") + "/t"
    // 5000 rows; k unique, g has 100 distincts, s has exactly 7
    (0L until 5000L).map(k => (k, k % 100L, s"s${k % 7}"))
      .toDF("k", "g", "s")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .mode("append").save(t)
    withCbo {
      val stats = table(t).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.exists(_.toLong == 5000L),
        s"row count must reach catalyst stats: ${stats.rowCount}")
      val byName = stats.attributeStats.map { case (a, st) =>
        a.name -> st }.toMap
      assert(byName.nonEmpty,
        "V2 columnStats must convert into catalyst attributeStats")
      def ndv(c: String): Long = byName(c).distinctCount.get.toLong
      // KMV at k=64: relative error ~1/sqrt(k-2) = 12.7%; bound at 3σ
      assert(ndv("g") >= 65 && ndv("g") <= 140,
        s"g has 100 distincts, estimated ${ndv("g")}")
      assert(ndv("s") === 7L, s"s has 7 distincts, estimated ${ndv("s")}")
      // k unique (5000): KMV at k=64 lands within ~25%
      assert(ndv("k") >= 3500 && ndv("k") <= 6500,
        s"k has 5000 distincts, estimated ${ndv("k")}")
    }
  }

  test("CBO orders a 3-way join by the join keys' NDV, unhinted — and " +
      "the order flips when the NDV roles flip") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft_ndv_join_")
    // fact: 20k rows, join columns ja (1000 distincts) and jb (10)
    val fact = s"$base/fact"
    (0L until 20000L).map(k => (k, k % 1000L, k % 10L))
      .toDF("k", "ja", "jb")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .mode("append").save(fact)
    // two dims with IDENTICAL row counts and bytes; only the NDV of
    // their join columns differs (unique vs 10 distincts) — row-count
    // stats alone cannot tell them apart
    def dim(t: String, distinct: Boolean): Unit =
      (0L until 1000L).map(k =>
        (k, if (distinct) k else k % 10L, s"pay$k"))
        .toDF("k", "j", "pay")
        .write.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "4")
        .mode("append").save(t)
    val dimHi = s"$base/dim_hi" // j: 1000 distincts -> F join keeps ~N
    val dimLo = s"$base/dim_lo" // j: 10 distincts  -> F join fans out
    dim(dimHi, distinct = true)
    dim(dimLo, distinct = false)

    def firstJoined(df: DataFrame): String = {
      // the innermost (first-executed) join's non-fact side
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      assert(joins.size === 2, s"expected a 3-way join: $joins")
      val innermost = joins.last
      val tables = innermost.collectLeaves().flatMap {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => Some(r.scan.description())
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2Relation => Some(r.table.name())
        case _ => None
      }
      tables.mkString(" ")
    }

    withCbo {
      val q1 = table(fact).as("f")
        .join(table(dimHi).as("a"), col("f.ja") === col("a.k"))
        .join(table(dimLo).as("b"), col("f.jb") === col("b.j"))
        .select(col("f.k"), col("a.pay"), col("b.pay"))
      // the cardinality estimates CBO ordered by: the selective join
      // lands ~|F|, the fan-out join ~100x that
      val ests = q1.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.stats.rowCount.map(_.toLong).getOrElse(-1L)
      }
      assert(ests.forall(_ > 0L),
        s"join estimates must be positive (zero = the value intervals " +
          s"never reached the estimator): $ests")
      val inner1 = firstJoined(q1)
      assert(inner1.contains("dim_hi") && !inner1.contains("dim_lo"),
        s"CBO must join the selective (high-NDV-key) dim first: $inner1")

      // flip the roles: now b is the selective join, a the fan-out
      val q2 = table(fact).as("f")
        .join(table(dimLo).as("a"), col("f.ja") === col("a.k"))
        .join(table(dimHi).as("b"), col("f.jb") === col("b.j"))
        .select(col("f.k"), col("a.pay"), col("b.pay"))
      val inner2 = firstJoined(q2)
      assert(inner2 != inner1,
        s"flipping the NDV roles must flip the join order: " +
          s"q1=$inner1 q2=$inner2")
    }
  }
}
