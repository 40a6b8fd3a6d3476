package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bucket-count evolution: rebucket() rewrites the live log to a new
  * write modulus and redeclares the write contract, restoring
  * KeyGroupedPartitioning (and zero-Exchange clustered reads) after a
  * scale-out that would otherwise mix moduli forever. */
class RebucketSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"$tag$k", k * 10L)).toDF("k", "s", "c")
  }

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  private def scanPartitions(df: DataFrame): Int = {
    val ns = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }
    assert(ns.nonEmpty, "no v2 scan in the plan")
    ns.sum
  }

  test("rebucket restores clustered reads at the new modulus") {
    val t = tmpDir("graft_rebkt_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 400, "a"), t)
    sink.append(rows(0, 400, "b").where(col("k") % 3 === 0), t)
    withCatalog {
      def catRead = spark.read.table(s"graft_keyed.`$t`")
      assert(scanPartitions(catRead) === 4,
        "pre-rebucket clustered read plans one partition per old bucket")

      val folded = KeyedTableOps.rebucket(spark, t, newPartitions = 8)
      assert(folded.isDefined, "rebucket fold did not commit")

      // the live set is uniform at 8: one read partition per bucket,
      // KGP reported, and a per-key aggregate plans ZERO Exchange
      assert(scanPartitions(catRead) === 8,
        "post-rebucket clustered read must plan one partition per NEW bucket")
      val agg = KeyedTableOps.latest(spark, t)
      assert(graft.ops.PlanChecks.countShuffles(
        agg.queryExecution.executedPlan) == 0,
        "latest view must stay shuffle-free after rebucket")
      // content is exactly the pre-rebucket state
      val got = agg.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      (0L until 400L).foreach { k =>
        val want = if (k % 3 == 0) s"b$k" else s"a$k"
        assert(got(k) === want, s"key $k lost its winner across rebucket")
      }
      assert(got.size === 400)

      // future writes cluster at the new modulus: a catalog INSERT
      // reads the redeclared contract (writePartitions=8), so the new
      // commit joins the 8-bucket grouping instead of re-mixing moduli
      spark.sql(s"INSERT INTO graft_keyed.`$t` " +
        s"SELECT k + 1000, s, c FROM graft_keyed.`$t` WHERE k < 10")
      assert(scanPartitions(catRead) === 8,
        "a post-rebucket catalog INSERT must keep the 8-bucket grouping")
      assert(catRead.count() === 410L) // 400-row snapshot + 10 inserts
    }
  }

  test("rebucket with young tombstones keeps reads correct; grace 0 " +
      "restores KGP immediately") {
    val t = tmpDir("graft_rebkt_tomb_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 100, "a"), t)
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (1, 2)")
      // default grace keeps the young tombstone live at the OLD
      // modulus: mixed moduli, clustered grouping falls back — but
      // the state is exactly right
      KeyedTableOps.rebucket(spark, t, newPartitions = 8)
      val live1 = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(live1 === (0L until 100L).toSet -- Set(1L, 2L))

      // grace 0: the tombstone folds too; the live set is uniform at 8
      val again = KeyedTableOps.rebucket(spark, t, newPartitions = 8,
        tombstoneGraceMs = 0L)
      assert(again.isDefined)
      def catRead = spark.read.table(s"graft_keyed.`$t`")
      assert(scanPartitions(catRead) === 8,
        "after folding the tombstones the read must re-cluster at 8")
      val live2 = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(live2 === live1)
      assert(graft.ops.PlanChecks.countShuffles(KeyedTableOps
        .latest(spark, t).queryExecution.executedPlan) == 0)
    }
  }
}
