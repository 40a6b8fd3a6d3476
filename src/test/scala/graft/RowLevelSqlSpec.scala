package graft

import graft.SessionConf.withConfs
import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SQL row-level statements — MERGE INTO / UPDATE / DELETE — planned
  * by Spark's delta-based rewrites (SupportsRowLevelOperations +
  * SupportsDelta) onto the keyed table's native verbs: upsert appends
  * and tombstone markers, one manifest per statement. The operation's
  * target scan resolves the CURRENT state merge-on-read, so statements
  * match and read one live row per key however many versions the log
  * holds. */
class RowLevelSqlSpec extends SparkSpecBase {

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

  private def ident(t: String): String = s"graft_keyed.`$t`"

  private def state(t: String): Map[Long, (String, Long)] =
    KeyedTableOps.latest(spark, t).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("SQL UPDATE reads each key's CURRENT value exactly once") {
    val t = tmpDir("graft_rlo_upd_") + "/t"
    sink.append(rows(0, 12, "a"), t)
    sink.append(rows(0, 12, "b").withColumn("c", col("c") + 1),
      t) // second version of every key: c = 10k+1
    withCatalog {
      spark.sql(s"UPDATE ${ident(t)} SET c = c + 100, s = 'u' " +
        "WHERE k % 2 = 0")
      val got = state(t)
      (0L until 12L).foreach { k =>
        if (k % 2 == 0) assert(got(k) === (("u", k * 10 + 101)),
          s"key $k must be updated from its CURRENT version (c=${k * 10 + 1})" +
            s", got ${got(k)}")
        else assert(got(k) === ((s"b$k", k * 10 + 1)),
          s"key $k must be untouched")
      }
    }
  }

  test("SQL DELETE with a NON-key predicate plans row-level and " +
      "lands tombstone markers, not a rewrite") {
    val t = tmpDir("graft_rlo_del_") + "/t"
    sink.append(rows(0, 20, "a"), t)
    withCatalog {
      val before = KeyedTable.committedFiles(t).size
      spark.sql(s"DELETE FROM ${ident(t)} WHERE c >= 100")
      val added = KeyedTable.committedFiles(t).size - before
      assert(added <= 4, s"non-key DELETE must cost marker files per " +
        s"bucket (<= writeParallelism), not a rewrite; added $added files")
      val live = state(t).keySet
      assert(live === (0L until 10L).toSet,
        s"keys with c >= 100 must be gone, got $live")
      // the markers are real tombstones in the log
      val tombs = spark.read.format("graft.sources.KeyedTable").load(t)
        .where(col("_tombstone")).select("k").collect().map(_.getLong(0))
      assert(tombs.toSet === (10L until 20L).toSet)
    }
  }

  test("SQL DELETE with a key predicate stays metadata-only " +
      "(SupportsDelete fast path, nothing scanned)") {
    val t = tmpDir("graft_rlo_delk_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    withCatalog {
      spark.sql(s"DELETE FROM ${ident(t)} WHERE k IN (1, 3)")
      assert(state(t).keySet === Set(0L, 2L, 4L, 5L, 6L, 7L, 8L, 9L))
      // metadata path commits a delete-*.manifest; the row-level path
      // would have committed rlo-delete-*
      val names = KeyedTable.liveManifestNames(t)
      assert(names.exists(_.startsWith("delete-")),
        s"key-predicate DELETE must take the marker fast path: $names")
      assert(!names.exists(_.startsWith("rlo-")),
        s"key-predicate DELETE must not plan a row-level scan: $names")
    }
  }

  test("SQL MERGE INTO applies a CDC wave through the native verbs") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_mrg_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    withCatalog {
      Seq(
        (5L, "del", 0L), // matched + delete condition -> tombstone
        (6L, "upd", 66L), // matched -> UPDATE SET *
        (42L, "ins", 420L) // not matched -> INSERT *
      ).toDF("k", "s", "c").createOrReplaceTempView("src")
      val before = KeyedTable.committedFiles(t).size
      spark.sql(
        s"""MERGE INTO ${ident(t)} t USING src ON t.k = src.k
           |WHEN MATCHED AND src.s = 'del' THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
      val got = state(t)
      assert(!got.contains(5L), "deleted key must be gone")
      assert(got(6L) === (("upd", 66L)), "matched key must be updated")
      assert(got(42L) === (("ins", 420L)), "unmatched key must insert")
      assert(got(0L) === (("a0", 0L)), "untouched keys keep their rows")
      assert(got.size === 10)
      // ONE statement, ONE manifest
      val names = KeyedTable.liveManifestNames(t)
      assert(names.count(_.startsWith("rlo-merge-")) === 1,
        s"one MERGE must commit one manifest: $names")
      assert(KeyedTable.committedFiles(t).size - before <= 8,
        "a small MERGE must cost per-bucket files, not a table rewrite")

      // a key deleted by an earlier MERGE counts as ABSENT: the
      // re-insert takes the NOT MATCHED branch and wins (Cassandra
      // re-insert-after-delete through SQL MERGE)
      Seq((5L, "back", 55L)).toDF("k", "s", "c")
        .createOrReplaceTempView("src")
      spark.sql(
        s"""MERGE INTO ${ident(t)} t USING src ON t.k = src.k
           |WHEN NOT MATCHED THEN INSERT *
           |""".stripMargin)
      assert(state(t)(5L) === (("back", 55L)),
        "re-insert after MERGE delete must take the INSERT branch")
    }
  }

  test("SQL MERGE errors on duplicate source keys (cardinality)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_dup_") + "/t"
    sink.append(rows(0, 4, "a"), t)
    withCatalog {
      Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("k", "s", "c")
        .createOrReplaceTempView("src")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO ${ident(t)} t USING src ON t.k = src.k
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *
             |""".stripMargin)
      }
      assert(e.getMessage.toLowerCase.contains("merge") ||
        e.getMessage.contains("MERGE_CARDINALITY_VIOLATION"),
        s"duplicate source keys must fail the statement: ${e.getMessage}")
    }
  }

  test("view=current reads the resolved state server-side") {
    val t = tmpDir("graft_rlo_view_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    sink.append(rows(0, 10, "b").where(col("k") % 2 === 0), t)
    withCatalog {
      spark.sql(s"DELETE FROM ${ident(t)} WHERE k = 4")
      val cur = spark.read.option("view", "current")
        .table(ident(t))
      // the reader resolves: no aggregate in the plan, rows are final
      assert(graft.ops.PlanChecks.countShuffles(
        cur.queryExecution.executedPlan) == 0,
        "view=current must resolve in the reader, not in a shuffle")
      val got = cur.collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
      assert(!got.contains(4L))
      assert(got(2L) === (("b2", 20L)), "upserted keys read their winner")
      assert(got(1L) === (("a1", 10L)))
      assert(got.size === 9)
      // and it agrees with the declarative latest view exactly
      val declarative = state(t)
      assert(got === declarative)
      // native verb parity: duplicate source keys refuse in the API
      // MERGE too (the SQL path errors via Spark's cardinality check)
      val s = spark
      import s.implicits._
      val dup = Seq((1L, "x", 1L), (1L, "y", 2L)).toDF("k", "s", "c")
      val e = intercept[IllegalArgumentException] {
        KeyedTableOps.merge(spark, t, dup)
      }
      assert(e.getMessage.contains("duplicate"))
    }
  }

  test("SQL UPDATE changing the key is DELETE(old) + INSERT(new)") {
    val t = tmpDir("graft_rlo_key_") + "/t"
    sink.append(rows(0, 6, "a"), t)
    withCatalog {
      spark.sql(s"UPDATE ${ident(t)} SET k = k + 100 WHERE k = 3")
      val got = state(t)
      assert(!got.contains(3L), "the old key must be tombstoned")
      assert(got(103L) === (("a3", 30L)), "the new key carries the row")
      assert(got.size === 6)
    }
  }

  test("row-level statements refuse what the data model cannot express") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_comp_") + "/t"
    // composite-key table: partition key k, clustering column s
    sink.append(rows(0, 6, "a"), t)
    KeyedTableOps.declareClustering(t, Seq("s"))
    withCatalog {
      // non-key DELETE on a composite table: tombstones are
      // partition-level, so the row-level delete refuses at runtime
      val e1 = intercept[Exception] {
        spark.sql(s"DELETE FROM ${ident(t)} WHERE c = 30")
      }
      assert(exceptionChain(e1).exists(_.getMessage != null) &&
        exceptionChain(e1).exists(m => m.getMessage != null &&
          m.getMessage.contains("composite-key")),
        s"composite row-level DELETE must refuse: ${e1.getMessage}")
      // changing a clustering column through UPDATE: refused (the old
      // full-key row would survive as a ghost)
      val e2 = intercept[Exception] {
        spark.sql(s"UPDATE ${ident(t)} SET s = 'zzz' WHERE k = 2")
      }
      assert(exceptionChain(e2).exists(m => m.getMessage != null &&
        m.getMessage.contains("composite-key")),
        s"composite key-change UPDATE must refuse: ${e2.getMessage}")
      // a non-key UPDATE on the composite table works (upsert per
      // full key)
      spark.sql(s"UPDATE ${ident(t)} SET c = c + 1 WHERE k = 2")
      val got = KeyedTableOps.latest(spark, t).collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got((2L, "a2")) === 21L)
      assert(got.size === 6)
    }
  }

  test("insert-only MERGE under USE <catalog> (1-part name) still " +
      "anti-joins the current state") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_use_") + "/t"
    sink.append(rows(0, 8, "a"), t)
    withCatalog {
      spark.sql(s"DELETE FROM ${ident(t)} WHERE k = 3")
      val prior = spark.sessionState.catalogManager.currentCatalog.name()
      spark.sql("USE graft_keyed")
      try {
        Seq((3L, "back", 33L)).toDF("k", "s", "c")
          .createOrReplaceTempView("src")
        // unqualified target: resolves against the CURRENT catalog —
        // the hint rule must stamp view=current here too, or the
        // tombstoned key's re-insert silently drops
        spark.sql(s"MERGE INTO `$t` t USING src ON t.k = src.k " +
          "WHEN NOT MATCHED THEN INSERT *")
      } finally spark.sql(s"USE $prior")
      assert(state(t)(3L) === (("back", 33L)),
        "re-insert after delete must land through the unqualified spelling")
    }
  }

  test("a streaming read refuses view=current (batch-only view)") {
    val t = tmpDir("graft_rlo_stream_") + "/t"
    sink.append(rows(0, 4, "a"), t)
    val e = intercept[Exception] {
      spark.readStream.format("graft.sources.KeyedTable")
        .option("view", "current").load(t)
        .writeStream.format("noop")
        .option("checkpointLocation", tmpDir("graft_rlo_ckpt_"))
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
    }
    assert(exceptionChain(e).exists(m => m.getMessage != null &&
      m.getMessage.contains("batch view")),
      s"streaming view=current must refuse loudly: ${e.getMessage}")
  }

  test("unproven key columns stay nullable (no constant-folding nulls " +
      "away on legacy-shaped data)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_nullck_") + "/t"
    // clustering column with nulls: its non-null advert is unproven so
    // it must stay nullable (the partition key's own proof — zero nulls
    // in every committed entry — stands independently)
    Seq((1L, Option("x"), 1L), (2L, Option.empty[String], 2L))
      .toDF("k", "s", "c")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t)
    KeyedTableOps.declareClustering(t, Seq("s"))
    val sch = spark.read.format("graft.sources.KeyedTable").load(t).schema
    assert(!sch("k").nullable && sch("s").nullable,
      s"null-holding clustering column must advertise nullable, got $sch")
    // IS NULL over the unproven clustering column still finds the row
    val nulls = spark.read.format("graft.sources.KeyedTable").load(t)
      .where(col("s").isNull).collect()
    assert(nulls.length === 1 && nulls.head.getLong(0) === 2L)
    // while a fully proven table advertises its key NOT NULL
    val t2 = tmpDir("graft_rlo_proven_") + "/t"
    sink.append(rows(0, 4, "a"), t2)
    val sch2 = spark.read.format("graft.sources.KeyedTable").load(t2).schema
    assert(!sch2("k").nullable,
      s"proven key must advertise NOT NULL, got $sch2")
  }

  test("tombstone markers demote CLUSTERING columns to nullable " +
      "(markers carry null clustering slots the raw log emits)") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_tombnull_") + "/t"
    Seq((1L, "x", 1L), (2L, "y", 2L), (3L, "z", 3L))
      .toDF("k", "s", "c")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "2")
      .mode("append").save(t)
    KeyedTableOps.declareClustering(t, Seq("s"))
    def sch = spark.read.format("graft.sources.KeyedTable").load(t).schema
    // fully proven: both primary-key columns advertise NOT NULL
    assert(!sch("k").nullable && !sch("s").nullable,
      s"proven composite key must advertise NOT NULL, got $sch")
    withCatalog {
      // partition-key delete lands a tombstone MARKER row: key
      // populated, clustering slot null — the default log view emits it
      spark.sql(s"DELETE FROM ${ident(t)} WHERE k = 2")
    }
    assert(!sch("k").nullable && sch("s").nullable,
      "a live tombstone manifest must demote clustering columns to " +
        s"nullable (their marker slots are real nulls), got $sch")
    // the raw-log read's nulls are NOT constant-folded away
    val raw = spark.read.format("graft.sources.KeyedTable").load(t)
    val markers = raw.where(col("s").isNull).select("k")
      .collect().map(_.getLong(0))
    assert(markers.toSeq === Seq(2L),
      s"s IS NULL must find the marker row, got ${markers.toSeq}")
    val counted = raw.agg(count(col("s"))).collect().head.getLong(0)
    assert(counted === 3L,
      s"count(s) must skip the marker's null clustering slot, got $counted")
  }

  test("the insert-only-MERGE hint rule never stamps session-catalog " +
      "targets (spark_catalog is not conf-registered)") {
    withCatalog {
      val rule = new graft.sources.InsertOnlyMergeCurrentState(spark)
      // a keyed-catalog spelling qualifies...
      assert(rule.isKeyedCatalog(Seq("graft_keyed", "t")))
      // ...but the built-in session catalog never does, even while the
      // CURRENT catalog is keyed (spark_catalog has no
      // spark.sql.catalog.* conf key — conf-scanning alone would
      // misread it as a namespace under the current catalog)
      spark.sql("USE graft_keyed")
      try {
        assert(rule.isKeyedCatalog(Seq("t")),
          "unqualified names resolve against the current (keyed) catalog")
        assert(!rule.isKeyedCatalog(Seq("spark_catalog", "default", "t")),
          "spark_catalog-qualified names are never keyed")
        assert(!rule.isKeyedCatalog(Seq("SPARK_CATALOG", "default", "t")),
          "catalog names are case-insensitive")
      } finally spark.sql("USE spark_catalog")
    }
  }

  // --- optimistic concurrency for row-level commits ---

  /** Run `stmt` on its own thread with its SOURCE scan gated: the
    * statement pins its snapshot (operation build), starts executing,
    * then parks inside the gate UDF — `whileParked` runs with the
    * statement provably mid-flight — and only then proceeds to commit.
    * Returns the statement's failure, if any. */
  private def interleave(stmt: String)(whileParked: => Unit): Option[Throwable] = {
    OccGate.reset()
    spark.udf.register("occ_gate", (k: Long) => OccGate.pass(k))
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val thr = new Thread(() => {
      try { spark.sql(stmt); () }
      catch { case e: Throwable => err.set(e) }
    })
    thr.start()
    OccGate.awaitEntered()
    try whileParked finally OccGate.open()
    thr.join(120000)
    assert(!thr.isAlive, "gated statement must finish")
    Option(err.get)
  }

  private def mergeSql(t: String, lo: Long, hi: Long): String =
    // single-slice source: ONE task parks in the gate (the suite runs
    // local[4]; a multi-slice gated source would park every core and
    // starve the interleaved statement into the latch ceiling)
    s"""MERGE INTO ${ident(t)} T
       |USING (SELECT occ_gate(id) AS k, concat('m', id) AS s, id * 7 AS c
       |       FROM range($lo, $hi, 1, 1)) S
       |ON T.k = S.k
       |WHEN MATCHED THEN UPDATE SET T.s = S.s, T.c = S.c
       |WHEN NOT MATCHED THEN INSERT (k, s, c) VALUES (S.k, S.s, S.c)
       |""".stripMargin

  test("interleaved MERGEs over OVERLAPPING keys: the loser aborts " +
      "retryably and the winner's update survives") {
    val t = tmpDir("graft_rlo_occ_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    withCatalog {
      val failure = interleave(mergeSql(t, 0, 5)) {
        // statement B publishes an overlapping UPDATE while A is
        // mid-flight on A's pinned (pre-B) snapshot
        spark.sql(s"UPDATE ${ident(t)} SET c = c + 1000 WHERE k < 5")
      }
      val e = failure.getOrElse(fail(
        "the stale MERGE must abort — committing it would silently " +
          "lose the interleaved UPDATE under last-write-wins"))
      assert(exceptionChain(e).exists(m => m.getMessage != null &&
        m.getMessage.contains("concurrent") &&
        m.getMessage.contains("retry")),
        s"the abort must be retryable and say so: ${e.getMessage}")
      // no lost update: B's effects are intact, A left no trace
      val got = state(t)
      (0L until 10L).foreach { k =>
        val c = if (k < 5) k * 10 + 1000 else k * 10
        assert(got(k) === ((s"a$k", c)), s"key $k: ${got(k)}")
      }
      // the retry pins a FRESH snapshot (B's rows included) and wins
      OccGate.reset(); OccGate.open()
      spark.sql(mergeSql(t, 0, 5))
      val after = state(t)
      (0L until 5L).foreach(k => assert(after(k) === ((s"m$k", k * 7))))
      (5L until 10L).foreach(k => assert(after(k) === ((s"a$k", k * 10))))
    }
  }

  test("a ROLLBACK racing a mid-flight statement: the stale statement " +
      "aborts retryably and the restored state survives") {
    val t = tmpDir("graft_rlo_occ_rb_") + "/t"
    sink.append(rows(0, 10, "a"), t) // seq 1
    sink.append(rows(0, 10, "b"), t) // seq 2
    withCatalog {
      val failure = interleave(mergeSql(t, 0, 5)) {
        // the table rewinds to seq 1 while the statement is parked on
        // its pinned (pre-rollback) snapshot — committing the
        // statement would smuggle pre-rollback reads into the
        // restored state
        spark.sql(s"CALL graft_keyed.rollback('$t', 1)")
      }
      val e = failure.getOrElse(fail(
        "the stale statement must abort against the interleaved restore"))
      assert(exceptionChain(e).exists(m => m.getMessage != null &&
        m.getMessage.contains("concurrent") &&
        m.getMessage.contains("retry")),
        s"the abort must be retryable and say so: ${e.getMessage}")
      // the restored state is intact, the loser left no trace
      val got = state(t)
      (0L until 10L).foreach(k =>
        assert(got(k) === ((s"a$k", k * 10)), s"key $k: ${got(k)}"))
      // the retry pins the restored snapshot and wins over it
      OccGate.reset(); OccGate.open()
      spark.sql(mergeSql(t, 0, 5))
      val after = state(t)
      (0L until 5L).foreach(k => assert(after(k) === ((s"m$k", k * 7))))
      (5L until 10L).foreach(k => assert(after(k) === ((s"a$k", k * 10))))
    }
  }

  test("interleaved commits over DISJOINT keys pass the conflict check") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_occ_disj_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    sink.append((1000L until 1010L).map(k => (k, s"a$k", k * 10L))
      .toDF("k", "s", "c"), t)
    withCatalog {
      val failure = interleave(mergeSql(t, 0, 5)) {
        // B's keys [1000, 1010) are provably disjoint from A's [0, 5)
        // by the key zone maps — no conflict, both commit
        spark.sql(s"UPDATE ${ident(t)} SET c = c + 1000 WHERE k >= 1000")
      }
      assert(failure.isEmpty,
        s"disjoint-key concurrency must pass: ${failure.map(_.getMessage)}")
      val got = state(t)
      (0L until 5L).foreach(k => assert(got(k) === ((s"m$k", k * 7))))
      (1000L until 1010L).foreach(k =>
        assert(got(k) === ((s"a$k", k * 10 + 1000))))
    }
  }

  test("spark.graft.rowlevel.conflicts=off restores blind-commit LWW " +
      "(the pre-OCC behavior, lost update and all)") {
    val t = tmpDir("graft_rlo_occ_off_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    withCatalog {
      withConfs(spark, Map("spark.graft.rowlevel.conflicts" -> Some("off"))) {
        val failure = interleave(mergeSql(t, 0, 5)) {
          spark.sql(s"UPDATE ${ident(t)} SET c = c + 1000 WHERE k < 5")
        }
        assert(failure.isEmpty,
          s"with detection off both must commit: ${failure.map(_.getMessage)}")
        // the MERGE committed last: its manifest wholesale outranks the
        // interleaved UPDATE — the documented lost update
        val got = state(t)
        (0L until 5L).foreach(k => assert(got(k) === ((s"m$k", k * 7)),
          s"LWW must hand key $k to the last committer, got ${got(k)}"))
      }
    }
  }

  test("historical handles refuse row-level writes") {
    val t = tmpDir("graft_rlo_asof_") + "/t"
    sink.append(rows(0, 4, "a"), t)
    sink.append(rows(0, 4, "b"), t)
    withCatalog {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE ${ident(t)} VERSION AS OF 1 SET c = 0")
      }
      assert(exceptionChain(e).exists(m => m.getMessage != null &&
        (m.getMessage.contains("read-only") ||
          m.getMessage.toLowerCase.contains("not supported") ||
          m.getMessage.toLowerCase.contains("syntax"))),
        s"VERSION AS OF row-level write must refuse: ${e.getMessage}")
    }
  }

  private def exceptionChain(e: Throwable): Seq[Throwable] = {
    val b = Seq.newBuilder[Throwable]
    var c: Throwable = e
    while (c != null) { b += c; c = c.getCause }
    b.result()
  }
}

/** Deterministic interleaving gate for the OCC tests: a statement
  * whose source scans through `occ_gate(k)` signals `entered` on the
  * first row and parks every scan task until `open()` — local-mode
  * executor threads share this JVM, so the latches are visible. A
  * 60-second ceiling keeps a broken test from wedging the suite. */
object OccGate {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  @volatile private var entered = new CountDownLatch(1)
  @volatile private var release = new CountDownLatch(1)
  def reset(): Unit = {
    entered = new CountDownLatch(1)
    release = new CountDownLatch(1)
  }
  def awaitEntered(): Unit = assert(
    entered.await(60, TimeUnit.SECONDS), "gated statement never scanned")
  def open(): Unit = release.countDown()
  def pass(k: Long): Long = {
    entered.countDown()
    release.await(60, TimeUnit.SECONDS)
    k
  }
}
