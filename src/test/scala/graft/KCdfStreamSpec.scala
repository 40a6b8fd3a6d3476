package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming change data feed (`readStream.option("readChangeFeed",
  * "true")`): per-micro-batch classified change events —
  * insert / update_preimage / update_postimage / delete with commit
  * versions — oracled against the BATCH change data feed over the same
  * log, across incremental restarts and a mid-history compaction. */
class KCdfStreamSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"$tag$k", k * 10L)).toDF("k", "s", "c")
  }

  private def sink = V2KeyedTableSink("k", writeParallelism = 4)

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  private def runCdf(t: String, out: String, ckpt: String,
      perTrigger: Int = 10): Unit = {
    val q = spark.readStream.format("graft.sources.KeyedTable")
      .option("readChangeFeed", "true")
      .option("manifestsPerTrigger", perTrigger.toString)
      .load(t)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "CDF stream hung")
  }

  /** Canonical event-set rendering for comparison: every column as a
    * sorted tuple list. */
  private def canon(df: DataFrame): Seq[(Long, String, Long, String, Long)] =
    df.select(col("k"), col("s"), col("c"), col("_change_type"),
        col("_commit_version"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
      .toSeq.sorted

  private def batchCdf(t: String): DataFrame =
    KeyedTableOps.changeDataFeed(spark, t, 0L, KeyedTable.currentSeq(t))

  /** Appends, overlapping updates, deletes, and a re-insert — every
    * classification class in one log. */
  private def buildLog(t: String): Unit = withCatalog {
    sink.append(rows(0, 10, "a"), t) // inserts
    sink.append(rows(5, 15, "b"), t) // updates 5-9, inserts 10-14
    spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (3, 7, 12)")
    sink.append(rows(7, 8, "c"), t) // re-insert after delete
  }

  test("full-replay streaming CDF equals the batch change data feed") {
    val base = tmpDir("graft_cdfs_replay_")
    val t = s"$base/t"
    buildLog(t)
    runCdf(t, s"$base/out", s"$base/ckpt")
    val streamed = canon(spark.read.parquet(s"$base/out"))
    val batch = canon(batchCdf(t))
    assert(streamed.nonEmpty && streamed === batch,
      s"streamed CDF diverged: streamed=${streamed.size} batch=${batch.size}")
    // spot-check the semantics the classes encode
    val byType = streamed.groupBy(_._4).view.mapValues(_.size).toMap
    assert(byType("delete") === 3 && byType("update_preimage") ===
      byType("update_postimage"),
      s"classification counts off: $byType")
    // the re-insert of key 7 classifies as INSERT (tombstoned = absent)
    assert(streamed.exists(e => e._1 == 7L && e._4 == "insert" &&
      e._2 == "c7"), "re-insert after delete must classify as insert")
  }

  test("incremental CDF across restarts (one manifest per trigger) " +
      "concatenates to the batch feed — preimage state crosses batches") {
    val base = tmpDir("graft_cdfs_incr_")
    val t = s"$base/t"
    buildLog(t)
    // one manifest per micro-batch: an update's preimage always comes
    // from a PRIOR batch's state, never the same slice
    runCdf(t, s"$base/out", s"$base/ckpt", perTrigger = 1)
    assert(canon(spark.read.parquet(s"$base/out")) === canon(batchCdf(t)))

    // more waves land; a RESTART resumes from the checkpointed offset
    // (stateSeq watermark included) and delivers exactly the delta
    withCatalog {
      sink.append(rows(0, 3, "d"), t) // updates over batch-1 state
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (14)")
    }
    runCdf(t, s"$base/out", s"$base/ckpt", perTrigger = 1)
    val streamed = canon(spark.read.parquet(s"$base/out"))
    assert(streamed === canon(batchCdf(t)),
      "restart must resume the classification mid-history")
    assert(streamed.exists(e => e._1 == 0L && e._4 == "update_preimage" &&
      e._2 == "a0"), "the restarted feed must carry preimages resolved " +
        "from the pre-restart watermark")
  }

  test("compaction between runs: delivery skips the fold, preimage " +
      "state reads it") {
    val base = tmpDir("graft_cdfs_fold_")
    val t = s"$base/t"
    buildLog(t)
    runCdf(t, s"$base/out", s"$base/ckpt")
    // fold the consumed history into a snapshot, then land a new wave
    assert(KeyedTableOps.rewriteCompact(spark, t, tombstoneGraceMs = 0)
      .isDefined)
    val headBefore = KeyedTable.currentSeq(t)
    sink.append(rows(5, 6, "e"), t) // update of key 5 (current: b5)
    runCdf(t, s"$base/out", s"$base/ckpt")
    val streamed = canon(spark.read.parquet(s"$base/out"))
    // the rewrite manifest itself must deliver NOTHING (dataChange
    // = false); the new wave classifies against the folded state
    val newEvents = streamed.filter(_._5 > headBefore)
    assert(newEvents.toSet === Set(
      (5L, "b5", 50L, "update_preimage", headBefore + 1),
      (5L, "e5", 50L, "update_postimage", headBefore + 1)),
      s"post-fold wave misclassified: $newEvents")
    assert(streamed.count(_._5 <= headBefore) ===
      streamed.size - 2, "the fold must not re-deliver consumed rows")
  }

  test("NaN and -0.0 key versions classify as updates, as in the batch feed") {
    val s = spark
    import s.implicits._
    val base = tmpDir("graft_cdfs_nan_")
    val t = s"$base/t"
    val dsink = V2KeyedTableSink("k", writeParallelism = 2)
    dsink.append(Seq(Double.NaN -> "a", -0.0 -> "a").toDF("k", "s"), t)
    dsink.append(Seq(Double.NaN -> "b", 0.0 -> "b").toDF("k", "s"), t)
    runCdf(t, s"$base/out", s"$base/ckpt")
    def events(df: DataFrame): Seq[String] =
      df.select("s", "_change_type", "_commit_version").collect()
        .map(_.toSeq.mkString("|")).toSeq.sorted
    val streamed = events(spark.read.parquet(s"$base/out"))
    assert(streamed === events(batchCdf(t)))
    assert(streamed === Seq("a|insert|1", "a|insert|1", "a|update_preimage|2",
      "a|update_preimage|2", "b|update_postimage|2", "b|update_postimage|2"))
  }
}
