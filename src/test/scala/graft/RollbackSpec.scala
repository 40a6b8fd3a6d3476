package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ROLLBACK / RESTORE (Delta's `RESTORE TABLE ... TO VERSION AS OF`)
  * and the METADATA TABLES (`graft_keyed.`/p`.history` / `.files`) —
  * the operator-facing state surface: rewind the table's current state
  * to a past commit as ONE new commit (history stays time-travelable),
  * and query the commit log / live file set as relations. */
class RollbackSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, tag, k * 10L)).toDF("k", "s", "c")
  }

  private def sink = V2KeyedTableSink("k", writeParallelism = 4)

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  test("rollback restores an LWW table to a past sequence as one new commit") {
    val t = tmpDir("graft_rb_lww_") + "/t"
    sink.append(rows(0, 100, "a"), t)                    // seq 1
    sink.append(rows(50, 100, "b"), t)                   // seq 2: updates
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k < 10") // seq 3
    }
    sink.append(rows(0, 100, "c"), t)                    // seq 4: clobbers
    val stateAt = (v: Long) => spark.read
      .option("asOfSeq", v.toString)
      .format("graft.sources.KeyedTable").load(t)
    val expect2 = KeyedTableOps.latestOver(stateAt(2), Seq("k"))
      .orderBy("k").collect().toSeq
    val committed = KeyedTableOps.rollback(spark, t, toSeq = 2)
    assert(committed === 5, s"rollback commit must be the next sequence")
    // current state == state at 2 (updates of seq 2 present, delete and
    // clobber of 3/4 gone)
    val now = KeyedTableOps.latest(spark, t).orderBy("k").collect().toSeq
    assert(now === expect2, s"restored state must equal VERSION AS OF 2")
    assert(now.size === 100 && now.count(_.getString(1) == "b") === 50)
    // ONE live commit: the restore superseded everything
    assert(KeyedTable.liveManifestNames(t).size === 1)
    // the log is rewound in STATE only: time travel above the restore
    // still resolves the pre-rollback history
    val at4 = KeyedTableOps.latestOver(stateAt(4), Seq("k"))
      .agg(count(when(col("s") === "c", 1))).head.getLong(0)
    assert(at4 === 100L, "VERSION AS OF 4 must still see the clobber wave")
    // and writing after the restore composes under LWW as usual
    sink.append(rows(0, 5, "z"), t)
    val after = KeyedTableOps.latest(spark, t)
      .where(col("s") === "z").count()
    assert(after === 5L)
  }

  test("rollback of a counter table restores accumulated totals, not LWW rows") {
    val t = tmpDir("graft_rb_ctr_") + "/t"
    val s = spark
    import s.implicits._
    def inc(n: Long) = (0L until 10L).map(k => (k, n)).toDF("k", "c")
    sink.append(inc(1), t)                               // seq 1
    KeyedTableOps.declareMerge(t, "counter")
    sink.append(inc(10), t)                              // seq 2
    sink.append(inc(100), t)                             // seq 3
    KeyedTableOps.rollback(spark, t, toSeq = 2)
    // totals at 2 = 11 per key — an LWW restore would have kept 10
    val totals = KeyedTableOps.counterTotals(spark, t, Seq("c"))
      .orderBy("k").collect()
    assert(totals.forall(_.getLong(totals.head.fieldIndex("sum_c")) == 11L),
      s"restored counter totals must be 11: ${totals.toSeq}")
    // increments after the restore keep accumulating from the total
    sink.append(inc(5), t)
    val after = KeyedTableOps.counterTotals(spark, t, Seq("c"))
      .select("sum_c").distinct().collect()
    assert(after.map(_.getLong(0)).toSeq === Seq(16L))
  }

  test("rollback to 0 empties the table; a future sequence refuses") {
    val t = tmpDir("graft_rb_zero_") + "/t"
    sink.append(rows(0, 50, "a"), t)
    KeyedTableOps.rollback(spark, t, toSeq = 0)
    assert(KeyedTableOps.latest(spark, t).count() === 0L)
    intercept[IllegalArgumentException] {
      KeyedTableOps.rollback(spark, t, toSeq = 99)
    }
  }

  test("rollback refuses a target state holding live TTL'd commits") {
    val t = tmpDir("graft_rb_ttl_") + "/t"
    sink.append(rows(0, 20, "a"), t)                     // seq 1
    rows(0, 20, "b").write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .option("ttlMs", "3600000")                        // seq 2: TTL'd
      .mode("append").save(t)
    val e = intercept[IllegalArgumentException] {
      KeyedTableOps.rollback(spark, t, toSeq = 2)
    }
    assert(e.getMessage.contains("TTL"), e.getMessage)
    // below the TTL'd commit the restore is legal
    KeyedTableOps.rollback(spark, t, toSeq = 1)
    assert(KeyedTableOps.latest(spark, t)
      .where(col("s") === "a").count() === 20L)
  }

  test("CALL graft_keyed.rollback receipts (restored_to, committed_seq)") {
    val t = tmpDir("graft_rb_sql_") + "/t"
    sink.append(rows(0, 50, "a"), t)
    sink.append(rows(0, 50, "b"), t)
    withCatalog {
      val r = spark.sql(
        s"CALL graft_keyed.rollback('$t', 1)").collect().head
      assert(r.getLong(0) === 1L && r.getLong(1) === 3L,
        s"receipt: $r")
      assert(spark.sql(s"SELECT * FROM graft_keyed.`$t`")
        .where(col("s") === "b").count() === 0L)
    }
  }

  test("history metadata table reflects the commit log and liveness") {
    val t = tmpDir("graft_rb_hist_") + "/t"
    sink.append(rows(0, 100, "a"), t)                    // seq 1 append
    sink.append(rows(0, 100, "b"), t)                    // seq 2 append
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k < 10") // seq 3
      val folded = KeyedTableOps.rewriteCompact(spark, t,
        tombstoneGraceMs = 0)                            // rewrite at fence 3
      assert(folded.isDefined)
      val h = spark.sql(
        s"SELECT seq, operation, files, rows, live " +
          s"FROM graft_keyed.`$t`.history ORDER BY seq, operation")
        .collect().map(r => (r.getLong(0), r.getString(1),
          r.getInt(2), r.getLong(3), r.getBoolean(4))).toSeq
      // appends and the delete are superseded by the live rewrite (the
      // SQL DELETE plans through the row-level path -> rlo-delete)
      assert(h.map(x => (x._1, x._2, x._5)) === Seq(
        (1L, "append", false), (2L, "append", false),
        (3L, "rewrite", true), (3L, "rlo-delete", false)), s"history: $h")
      val rewrite = h.find(_._2 == "rewrite").get
      assert(rewrite._4 === 90L, s"rewrite rows: $rewrite")
      // files: live entries only — the rewrite's, with real row counts
      // and the rendered key zone the planner prunes by
      val f = spark.sql(
        s"SELECT seq, rows, tombstone, min_key, max_key " +
          s"FROM graft_keyed.`$t`.files")
        .collect()
      assert(f.nonEmpty && f.forall(r => r.getLong(0) == 3L &&
        !r.getBoolean(2)), s"files: ${f.toSeq}")
      assert(f.map(_.getLong(1)).sum === 90L)
      assert(f.forall(r => r.getString(3).toLong <= r.getString(4).toLong),
        s"rendered key zones must be ordered: ${f.toSeq}")
      // the relation is driver-computed bounded metadata: the plan must
      // not scan the table's data
      val plan = spark.sql(s"SELECT * FROM graft_keyed.`$t`.history")
        .queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
        s"metadata read must plan a local scan:\n$plan")
    }
  }

  test("rollback by instant resolves like TIMESTAMP AS OF and restores") {
    val t = tmpDir("graft_rb_ts_") + "/t"
    sink.append(rows(0, 30, "a"), t)
    Thread.sleep(15)
    val mid = System.currentTimeMillis()
    Thread.sleep(15)
    sink.append(rows(0, 30, "b"), t)
    val committed = KeyedTableOps.rollbackToTs(spark, t, mid)
    assert(committed === 3L)
    assert(KeyedTableOps.latest(spark, t)
      .where(col("s") === "a").count() === 30L)
    // an instant before the first commit restores the empty table
    KeyedTableOps.rollbackToTs(spark, t, 1000L)
    assert(KeyedTableOps.latest(spark, t).count() === 0L)
  }

  test("withConflictRetries re-runs a statement losing OCC validation") {
    import graft.sources.{ConcurrentCommitException, KeyedTableOps => Ops}
    var calls = 0
    val out = Ops.withConflictRetries(attempts = 3, backoffMs = 1L) {
      calls += 1
      if (calls < 3) throw new RuntimeException("exec wrapper",
        new ConcurrentCommitException("lost validation"))
      "won"
    }
    assert(out === "won" && calls === 3)
    // attempts exhausted: the conflict propagates (retryable by caller)
    var calls2 = 0
    intercept[ConcurrentCommitException] {
      Ops.withConflictRetries(attempts = 2, backoffMs = 1L) {
        calls2 += 1
        throw new ConcurrentCommitException("always loses")
      }
    }
    assert(calls2 === 2)
    // a non-conflict failure is NOT retried
    var calls3 = 0
    intercept[IllegalStateException] {
      Ops.withConflictRetries(attempts = 3, backoffMs = 1L) {
        calls3 += 1
        throw new IllegalStateException("real bug")
      }
    }
    assert(calls3 === 1)
  }

  test("a rollback shows in history as an overwrite commit") {
    val t = tmpDir("graft_rb_hist2_") + "/t"
    sink.append(rows(0, 20, "a"), t)
    sink.append(rows(0, 20, "b"), t)
    withCatalog {
      spark.sql(s"CALL graft_keyed.rollback('$t', 1)")
      val ops = spark.sql(
        s"SELECT seq, operation, live FROM graft_keyed.`$t`.history " +
          "ORDER BY seq").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
      assert(ops === Seq((1L, "append", false), (2L, "append", false),
        (3L, "overwrite", true)), s"history after rollback: $ops")
    }
  }
}
