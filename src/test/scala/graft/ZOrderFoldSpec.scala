package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Z-ORDER compaction: a `zorder(a,b)` sort declaration makes
  * rewriteCompact fold each bucket by the Morton interleave, so rolled
  * files cover 2-D boxes and box predicates prune on BOTH columns —
  * against the lexicographic fold's leading-column-only pruning. */
class ZOrderFoldSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // a and b are uncorrelated with each other and with k's clustering
  private def rows(lo: Long, hi: Long): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k =>
      (k, k * 2654435761L % 1009L, k * 40503L % 997L, k * 10L))
      .toDF("k", "a", "b", "c")
  }

  private def readBack(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(t)

  private def plannedFiles(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case ad: AdaptiveSparkPlanExec => walk(ad.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case bs: BatchScanExec => Seq(bs)
      }.flatten
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.size == 1)
    scans.head.inputRDD.getNumPartitions
  }

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  private def load(t: String): Unit = {
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 4000), t)
    sink.append(rows(4000, 8000), t)
  }

  // the probe: wide in a (middle half), narrow in b — the shape that
  // exposes lexicographic's leading-column-only pruning
  private def box(df: DataFrame) =
    df.where(col("a").between(252, 756) && col("b").between(498, 560))

  test("zorder fold prunes a 2-D box strictly tighter than the " +
      "lexicographic fold of the same content") {
    val base = tmpDir("graft_zof_")
    val lex = s"$base/lex"
    val zed = s"$base/zed"
    load(lex); load(zed)
    KeyedTableOps.declareSortOrder(lex, Seq("a", "b"))
    KeyedTableOps.declareZOrder(zed, Seq("a", "b"))
    assert(KeyedTableOps.rewriteCompact(spark, lex, 0,
      targetFileRows = 128).isDefined)
    assert(KeyedTableOps.rewriteCompact(spark, zed, 0,
      targetFileRows = 128).isDefined)
    // identical content after both folds
    val wantRows = box(readBack(lex)).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val gotRows = box(readBack(zed)).collect()
      .map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(gotRows === wantRows && wantRows.nonEmpty)
    // the lint: strictly fewer planned files on the interleaved layout
    val plannedLex = plannedFiles(box(readBack(lex)))
    val plannedZed = plannedFiles(box(readBack(zed)))
    val committed = KeyedTable.liveFiles(zed).size
    assert(plannedZed < plannedLex,
      s"zorder must beat lexicographic on a 2-D box: " +
        s"z=$plannedZed lex=$plannedLex of $committed live files")
  }

  test("the preshaped zorder fold keeps bucket proofs (clustered " +
      "reads stay exchange-free)") {
    val t = tmpDir("graft_zof_kgp_") + "/t"
    load(t)
    KeyedTableOps.declareZOrder(t, Seq("a", "b"))
    assert(KeyedTableOps.rewriteCompact(spark, t, 0,
      targetFileRows = 256).isDefined)
    withCatalog {
      val latest = KeyedTableOps.latest(spark, t)
      assert(graft.ops.PlanChecks.countShuffles(
        latest.queryExecution.executedPlan) == 0,
        "zorder fold must preserve KeyGroupedPartitioning — the " +
          "repartition-by-key IS the bucket routing")
      assert(latest.count() === 8000L)
    }
  }

  test("declaration guards: arity, integral types, plain re-declare") {
    val t = tmpDir("graft_zof_guard_") + "/t"
    load(t)
    intercept[IllegalArgumentException] {
      KeyedTableOps.declareZOrder(t, Seq("a"))
    }
    intercept[IllegalArgumentException] {
      KeyedTableOps.declareZOrder(t, Seq("a", "a"))
    }
    val s = spark
    import s.implicits._
    val t2 = tmpDir("graft_zof_str_") + "/t"
    Seq((1L, "x", 2L)).toDF("k", "s", "v")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t2)
    intercept[IllegalArgumentException] {
      KeyedTableOps.declareZOrder(t2, Seq("s", "v")) // string dim
    }
    // a later plain declaration replaces the interleave
    KeyedTableOps.declareZOrder(t, Seq("a", "b"))
    KeyedTableOps.declareSortOrder(t, Seq("a"))
    assert(KeyedTableOps.rewriteCompact(spark, t, 0,
      targetFileRows = 512).isDefined)
    assert(readBack(t).count() === 8000L)
  }
}
