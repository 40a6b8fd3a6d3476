package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** MODEL CHECK for the SQL row-level surface: a seeded random sequence
  * of INSERT / UPDATE / non-key DELETE / key DELETE / MERGE statements
  * runs against both the keyed table (through the real SQL planner)
  * and a plain in-memory Map with the obvious semantics; after every
  * few steps — and after a mid-sequence compaction and a rebucket —
  * the table's resolved state must equal the model EXACTLY, through
  * BOTH resolution paths (the declarative latestOver aggregate over the
  * raw log and the reader-resolved view=current scan that latest()
  * reads). Divergence between three
  * independent implementations of the same semantics is the strongest
  * cheap signal this state machine can produce. */
class RowLevelModelSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  private def tableState(t: String): Map[Long, (String, Long)] =
    KeyedTableOps.latestOver(
      spark.read.format("graft.sources.KeyedTable").load(t), "k").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  private def viewState(t: String): Map[Long, (String, Long)] =
    spark.read.option("view", "current").table(s"graft_keyed.`$t`")
      .collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

  test("random SQL statement sequences agree with the reference model") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_model_") + "/t"
    val rnd = new Random(20260816L)
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    val model = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val keySpace = 60L

    def seed(): Unit = {
      val rows = (0L until keySpace).filter(_ => rnd.nextBoolean())
        .map(k => (k, s"s$k", k))
      sink.append(rows.toDF("k", "s", "c"), t)
      rows.foreach { case (k, sv, c) => model(k) = (sv, c) }
    }

    withCatalog {
      seed()
      var step = 0
      while (step < 40) {
        step += 1
        rnd.nextInt(5) match {
          case 0 => // upsert wave through the sink (the CDC append)
            val rows = (0 until 1 + rnd.nextInt(6))
              .map(_ => rnd.nextLong(keySpace))
              .distinct.map(k => (k, s"u$step-$k", k + step))
            sink.append(rows.toDF("k", "s", "c"), t)
            rows.foreach { case (k, sv, c) => model(k) = (sv, c) }
          case 1 => // SQL UPDATE with an expression over current values
            val m = 1 + rnd.nextInt(9)
            spark.sql(s"UPDATE graft_keyed.`$t` " +
              s"SET c = c + 1000, s = concat(s, '+') WHERE k % $m = 0")
            model.keys.toSeq.filter(_ % m == 0).foreach { k =>
              val (sv, c) = model(k); model(k) = (sv + "+", c + 1000)
            }
          case 2 => // key-predicate SQL DELETE (metadata fast path)
            val ks = (0 until 1 + rnd.nextInt(4))
              .map(_ => rnd.nextLong(keySpace)).distinct
            spark.sql(s"DELETE FROM graft_keyed.`$t` " +
              s"WHERE k IN (${ks.mkString(",")})")
            ks.foreach(model.remove)
          case 3 => // NON-key SQL DELETE (row-level marker path)
            val cut = rnd.nextLong(keySpace) + step
            spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE c >= $cut")
            model.filterInPlace { case (_, (_, c)) => c < cut }
            ()
          case 4 => // SQL MERGE: delete + update + insert clauses
            val src = (0 until 2 + rnd.nextInt(6))
              .map(_ => rnd.nextLong(keySpace)).distinct
              .map(k => (k, s"m$step-$k", k * 2 + step,
                rnd.nextInt(4) == 0)) // ~25% delete ops
            src.toDF("k", "s", "c", "del")
              .createOrReplaceTempView("graft_model_src")
            spark.sql(
              s"""MERGE INTO graft_keyed.`$t` t USING graft_model_src s
                 |ON t.k = s.k
                 |WHEN MATCHED AND s.del THEN DELETE
                 |WHEN MATCHED THEN UPDATE SET t.s = s.s, t.c = s.c
                 |WHEN NOT MATCHED AND NOT s.del THEN INSERT (k, s, c)
                 |  VALUES (s.k, s.s, s.c)
                 |""".stripMargin)
            src.foreach { case (k, sv, c, del) =>
              if (model.contains(k)) {
                if (del) model.remove(k) else model(k) = (sv, c)
              } else if (!del) model(k) = (sv, c)
            }
        }
        // maintenance mid-sequence: fold, and once, re-bucket
        if (step == 15) KeyedTableOps.rewriteCompact(spark, t,
          tombstoneGraceMs = 0)
        if (step == 27) KeyedTableOps.rebucket(spark, t, newPartitions = 8,
          tombstoneGraceMs = 0)
        if (step % 5 == 0 || step == 40) {
          val want = model.toMap
          val gotLatest = tableState(t)
          assert(gotLatest === want,
            s"latestOver diverged from the model at step $step: " +
              s"extra=${gotLatest.keySet -- want.keySet} " +
              s"missing=${want.keySet -- gotLatest.keySet} " +
              s"diff=${want.collect { case (k, v) if gotLatest.get(k).exists(_ != v) => k -> (v, gotLatest(k)) }}")
          val gotView = viewState(t)
          assert(gotView === want,
            s"view=current diverged from the model at step $step")
        }
      }
      // the log's change feed replays into the same final state
      val head = KeyedTable.currentSeq(t)
      val cdf = KeyedTableOps.changeDataFeed(spark, t, 0L, head)
        .collect()
      val replayed = scala.collection.mutable.Map.empty[Long, (String, Long)]
      cdf.sortBy(r => (r.getLong(4), r.getLong(0))).foreach { r =>
        val k = r.getLong(0)
        r.getString(3) match {
          case "insert" | "update_postimage" =>
            replayed(k) = (r.getString(1), r.getLong(2))
          case "delete" => replayed.remove(k); ()
          case "update_preimage" => () // informational
        }
      }
      assert(replayed.toMap === model.toMap,
        "replaying the change data feed must rebuild the final state")
    }
  }

  /** INTERLEAVED pairs: statement A pins its snapshot, parks mid-scan
    * behind [[OccGate]]; statement B commits while A is parked; A then
    * resumes toward its own commit. Outcomes allowed by optimistic
    * concurrency: A aborts retryably (we retry it — serial order B→A),
    * or A commits because its keys were PROVABLY disjoint from B's
    * (B→A and A→B commute). Either way the table must equal the serial
    * model — A's read-dependent arithmetic (c = c + Δ) makes a lost
    * update arithmetically visible, so a false PASS of the conflict
    * check cannot hide. */
  test("interleaved statement pairs linearize to the serial model") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_rlo_model_occ_") + "/t"
    val rnd = new Random(20260817L)
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    val model = scala.collection.mutable.Map.empty[Long, (String, Long)]
    val keySpace = 40L
    val seedRows = (0L until keySpace).map(k => (k, s"s$k", k * 10))
    sink.append(seedRows.toDF("k", "s", "c"), t)
    seedRows.foreach { case (k, sv, c) => model(k) = (sv, c) }

    def gatedMerge(lo: Long, hi: Long, step: Int): String =
      s"""MERGE INTO graft_keyed.`$t` T
         |USING (SELECT occ_gate(id) AS k FROM range($lo, $hi, 1, 1)) S
         |ON T.k = S.k
         |WHEN MATCHED THEN UPDATE SET T.c = T.c + 10000,
         |  T.s = concat(T.s, 'A')
         |WHEN NOT MATCHED THEN INSERT (k, s, c)
         |  VALUES (S.k, concat('A', $step), S.k)
         |""".stripMargin

    def applyMergeToModel(lo: Long, hi: Long, step: Int): Unit =
      (lo until hi).foreach { k =>
        model.get(k) match {
          case Some((sv, c)) => model(k) = (sv + "A", c + 10000)
          case None => model(k) = (s"A$step", k)
        }
      }

    withCatalog {
      spark.udf.register("occ_gate", (k: Long) => OccGate.pass(k))
      (1 to 6).foreach { step =>
        val aLo = rnd.nextLong(keySpace - 5)
        val (aHi, bLo, bHi) = (aLo + 5,
          rnd.nextLong(keySpace + 10), rnd.nextLong(5) + 1)
        val stmtA = gatedMerge(aLo, aHi, step)
        OccGate.reset()
        val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
        val thr = new Thread(() => {
          try { spark.sql(stmtA); () }
          catch { case e: Throwable => err.set(e) }
        })
        thr.start()
        OccGate.awaitEntered()
        // B: read-dependent UPDATE over a random key window, committed
        // while A is parked on its pre-B snapshot
        try spark.sql(s"UPDATE graft_keyed.`$t` SET c = c + 100 " +
          s"WHERE k >= $bLo AND k < ${bLo + bHi}")
        finally OccGate.open()
        thr.join(120000)
        assert(!thr.isAlive, s"step $step: statement A must finish")
        // serial model: B first...
        model.keys.toSeq.filter(k => k >= bLo && k < bLo + bHi).foreach {
          k => val (sv, c) = model(k); model(k) = (sv, c + 100)
        }
        Option(err.get) match {
          case Some(e) =>
            val chain = Iterator.iterate(e)(_.getCause)
              .takeWhile(_ != null).toSeq
            assert(chain.exists(m => m.getMessage != null &&
              m.getMessage.contains("concurrent")),
              s"step $step: A may only fail by losing the OCC race: $e")
            spark.sql(stmtA) // retry on a fresh snapshot (gate open)
          case None => () // provably disjoint — commits commute
        }
        // ...then A (committed or retried)
        applyMergeToModel(aLo, aHi, step)
        assert(tableState(t) === model.toMap,
          s"step $step: state diverged from the serial model " +
            s"(A=[$aLo,$aHi) gated, B=[$bLo,${bLo + bHi}) interleaved)")
      }
    }
  }
}
