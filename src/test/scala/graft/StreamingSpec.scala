package graft

import graft.streaming.EventStream
import graft.streaming.EventStream.{Event, Session}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit, row_number}
import org.apache.spark.sql.streaming.Trigger
import java.sql.Timestamp

/** Streaming semantics tests: stream/batch equivalence of the windowed
  * agg, keyed dedup, and watermark-driven sessionization (no DuckDB
  * oracle exists for stateful streaming — deterministic micro-batch
  * tests instead, SURVEY.md §7.4). */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // nine tests here start transformWithState machines whose builders
  // set the RocksDB state-store provider session-globally (required
  // at query START) — EVERY test runs in a scope that restores it, so
  // no later test silently runs on a leaked provider
  override def withFixture(test: NoArgTest) = {
    val provKey = SessionConf.StateStoreProviderKey
    SessionConf.withConfs(spark, Map(provKey -> spark.conf.getOption(provKey)))(
      super.withFixture(test))
  }

  /** Await with a CHECKED timeout: on expiry stop the query and fail
    * loudly — a still-running AvailableNow query would otherwise make
    * the next assertion (or the next run against the same checkpoint)
    * fail with a confusing secondary error. */
  private def awaitFinished(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val finished = q.awaitTermination(120000)
    if (!finished) q.stop()
    assert(finished, "streaming query did not finish within 120 s")
  }

  test("windowedAgg: streaming (availableNow, complete) equals batch") {
    // file-source streams read a DIRECTORY of arriving files
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val streamed = EventStream.windowedAgg(
      EventStream.readEvents(spark, dir.toString))
    val q = streamed.writeStream
      .format("memory").queryName("win_counts")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitFinished(q)
    val got = spark.table("win_counts")
      .orderBy("window_start_us", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    val want = EventStream.windowedAgg(Tables(spark, sfDir, "events"))
      .orderBy("window_start_us", "event_type")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("dedupe: duplicate event_ids within the watermark are dropped") {
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.dedupe(df).writeStream
      .format("memory").queryName("dedup_out")
      .outputMode("append")
      .start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    input.addData(
      (1L, t0, 10L, "click", 1.0, "{}"),
      (1L, t0, 10L, "click", 1.0, "{}"), // dup in same batch
      (2L, t0, 11L, "view", 2.0, "{}"))
    q.processAllAvailable()
    input.addData((1L, t0, 10L, "click", 1.0, "{}")) // dup across batches
    q.processAllAvailable()
    val ids = spark.table("dedup_out").select("event_id")
      .collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq === Seq(1L, 2L))
  }

  test("restart from checkpoint: dedup state survives, no reprocessing") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    // raw read keeps ts as long nanos — matches EventStream.rawSchema
    SessionConf.readNanosAsLong(spark)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    def runOnce(): Unit = {
      val q = EventStream.dedupe(EventStream.readEvents(spark, in))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    raw.where("event_id < 500").write.mode("append").parquet(in)
    runOnce()
    // second batch overlaps ids [0, 500) and adds [500, 700)
    raw.where("event_id < 700").write.mode("append").parquet(in)
    runOnce() // NEW query instance, same checkpoint → state restored
    val got = spark.read.parquet(out).select("event_id").collect().map(_.getLong(0))
    assert(got.length === got.distinct.length, "restart must not duplicate events")
    assert(got.length === 700)
  }

  test("late data beyond the watermark is dropped from windowed aggs") {
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // append mode: a window only emits once the watermark passes its end
    val q = EventStream.windowedAgg(df, windowLen = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("late_out")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    input.addData((1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    // advance watermark far past the first window's end
    input.addData((2L, ts("2024-01-01 05:00:00"), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    // this event is 4h older than the watermark → dropped, not re-emitted
    input.addData((3L, ts("2024-01-01 00:20:00"), 1L, "click", 99.0, "{}"))
    q.processAllAvailable()
    input.addData((4L, ts("2024-01-01 09:00:00"), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    val rows = spark.table("late_out")
      .select("window_start_us", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    q.stop()
    val w0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    // the 00:00 window emitted exactly once, with ONLY the on-time event
    assert(rows.count(_._1 == w0) === 1)
    assert(rows.find(_._1 == w0).get === ((w0, 1L, 1.0)))
  }

  test("out-of-order within the watermark is kept; beyond it is counted dropped") {
    // the exact late-data contract: the drop filter keys on the WINDOW
    // end, not the raw event time — an out-of-order event whose window
    // is still open lands in the agg even if its timestamp trails the
    // watermark; only rows for already-finalized windows drop, and the
    // engine accounts for each in numRowsDroppedByWatermark
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.windowedAgg(df, windowLen = "1 hour", watermark = "10 minutes")
      .writeStream.format("memory").queryName("ooo_out")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    input.addData((1L, ts("2024-01-01 00:10:00"), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    // watermark → 01:20; finalizes the 00:00 window
    input.addData((2L, ts("2024-01-01 01:30:00"), 1L, "click", 2.0, "{}"))
    q.processAllAvailable()
    input.addData(
      // 01:15 trails the 01:20 watermark but its 01:00 window is still
      // open → KEPT
      (3L, ts("2024-01-01 01:15:00"), 1L, "click", 4.0, "{}"),
      // 00:05's window closed at the 01:20 watermark → DROPPED
      (4L, ts("2024-01-01 00:05:00"), 1L, "click", 99.0, "{}"))
    q.processAllAvailable()
    // close the 01:00 window so append emits it
    input.addData((5L, ts("2024-01-01 05:00:00"), 1L, "click", 1.0, "{}"))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    val rows = spark.table("ooo_out")
      .select("window_start_us", "n_events", "total_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    q.stop()
    def w(s: String) = Timestamp.valueOf(s).getTime * 1000L
    assert(rows.find(_._1 == w("2024-01-01 00:00:00")).get._2 === 1L,
      "finalized window must not re-open for the late row")
    assert(rows.find(_._1 == w("2024-01-01 01:00:00")).get ===
      ((w("2024-01-01 01:00:00"), 2L, 6.0)),
      "out-of-order row within an open window must be aggregated")
    assert(dropped === 1L,
      s"exactly the finalized-window row counts as dropped, got $dropped")
  }

  test("dedupeWithinWatermark: bounded state — dups dropped in-horizon, key evicted after") {
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventStream.dedupeWithinWatermark(df, watermark = "10 minutes")
      .writeStream.format("memory").queryName("ddww_out")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    input.addData(
      (1L, ts("2024-01-01 00:00:00"), 10L, "click", 1.0, "{}"),
      (1L, ts("2024-01-01 00:01:00"), 10L, "click", 1.0, "{}")) // same-batch dup
    q.processAllAvailable()
    input.addData((1L, ts("2024-01-01 00:05:00"), 10L, "click", 1.0, "{}")) // in-horizon dup
    q.processAllAvailable()
    // advance the watermark far past id 1's expiry → its state evicts
    input.addData((2L, ts("2024-01-01 01:00:00"), 11L, "view", 2.0, "{}"))
    q.processAllAvailable()
    // id 1 reappears ON TIME (ts ahead of the 00:50 watermark) but after
    // eviction: re-emitted — the documented at-least-once-past-horizon trade
    input.addData((1L, ts("2024-01-01 00:55:00"), 10L, "click", 1.0, "{}"))
    q.processAllAvailable()
    val ids = spark.table("ddww_out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(ids === Seq(1L, 1L, 2L),
      "expected one in-horizon emission, one post-eviction re-emission, one distinct key")
  }

  test("stream-stream interval join equals the batch interval join") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val ev = EventStream.readEvents(spark, dir.toString)
    val streamed = EventStream.attribution(
      ev.where("event_type = 'signup'"), ev.where("event_type = 'purchase'"))
    val q = streamed.writeStream
      .format("memory").queryName("ssj_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitFinished(q)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("signup_id", "purchase_id", "user_id", "delay_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = canon(spark.table("ssj_out"))
    val batchEv = Tables(spark, sfDir, "events")
    val want = canon(EventStream.attribution(
      batchEv.where("event_type = 'signup'"),
      batchEv.where("event_type = 'purchase'")))
    assert(got.nonEmpty && got === want)
    // and the batch form matches the cataloged bucketed interval join
    val catalog = Catalog.byName("q_interval_join").fn(spark, sfDir)
      .select("signup_id", "purchase_id", "user_id", "delay_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(catalog === want)
  }

  test("chained join→agg restart: buffered signups and open windows survive the checkpoint") {
    // the funnel chain holds THREE state stores (both join buffers +
    // the window agg) in one checkpoint. Run 1 delivers only the
    // early halves: signups near the cut sit in join state awaiting
    // purchases, and open windows sit in agg state. Run 2 (a NEW
    // query instance on the same checkpoint) delivers the late halves
    // plus per-side flush clocks — every cross-restart conversion
    // (early signup × late purchase) exists ONLY if the recovered
    // join buffer still holds the signup, and the final rollup must
    // equal the batch chain exactly.
    val base = java.nio.file.Files.createTempDirectory("graft_chainjoin_ckpt_")
    val sigIn = base.resolve("signups").toString
    val purIn = base.resolve("purchases").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val sample = Tables(spark, sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    val signups = sample.filter(_.event_type == "signup").toIndexedSeq
    val purchases = sample.filter(_.event_type == "purchase").toIndexedSeq
    assert(signups.nonEmpty && purchases.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max
    // cut the restart INSIDE a real conversion's interval, so a
    // cross-restart pair exists by construction (early signup ≤ mid <
    // late purchase) instead of hoping the row midpoint lands in one
    val pairs = for {
      s <- signups; p <- purchases
      if p.user_id == s.user_id && p.ts.getTime > s.ts.getTime &&
        p.ts.getTime <= s.ts.getTime + 3600000L
    } yield (s.ts.getTime, p.ts.getTime)
    assert(pairs.nonEmpty, "fixture has no conversions at all")
    val (cutS, cutP) = pairs.maxBy(t => t._2 - t._1)
    val mid = (cutS + cutP) / 2 // cutS <= mid < cutP (strict gap)
    def writeChunk(dir: String, evts: Seq[Event]): Unit =
      spark.createDataset(evts).write.mode("append").parquet(dir)
    def runOnce(): Unit = {
      def side(dir: String) = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Event].schema)
        .parquet(dir)
      val q = EventStream.attributionWindowed(side(sigIn), side(purIn))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    writeChunk(sigIn, signups.filter(_.ts.getTime <= mid))
    writeChunk(purIn, purchases.filter(_.ts.getTime <= mid))
    runOnce()
    writeChunk(sigIn, signups.filter(_.ts.getTime > mid))
    writeChunk(purIn, purchases.filter(_.ts.getTime > mid))
    runOnce()
    // per-side flush clocks (they can never join: equal ts fails
    // p.ts > s.ts, the +4h/+2h cross misses the 1-hour bound)
    Seq(1, 2).foreach { i =>
      val t = new Timestamp(maxTs + i * 2 * 3600 * 1000L)
      writeChunk(sigIn, Seq(Event(-i.toLong, t, -1L, "signup", 0.0)))
      writeChunk(purIn, Seq(Event(-10L - i, t, -1L, "purchase", 0.0)))
    }
    runOnce()
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("window_start_us", "n_conversions", "sum_delay_us", "sum_cents")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = canon(spark.read.parquet(out))
    val want = canon(EventStream.attributionWindowed(
      spark.createDataset(signups).toDF(),
      spark.createDataset(purchases).toDF()))
    assert(got.nonEmpty && got === want)
  }

  test("left-outer stream-stream join: null rows emit once both watermarks pass") {
    val base = java.nio.file.Files.createTempDirectory("graft_ssjo_")
    val in = base.resolve("in").toString
    def ts(s: String) = Timestamp.valueOf(s)
    val data = Seq(
      // user 1: signup with a purchase 30 min later → matched row
      Event(10L, ts("2024-05-01 10:00:00"), 1L, "signup", 0.0),
      Event(11L, ts("2024-05-01 10:30:00"), 1L, "purchase", 5.0),
      // user 2: signup, no purchase within the hour → null row
      Event(20L, ts("2024-05-01 10:00:00"), 2L, "signup", 0.0),
      Event(21L, ts("2024-05-01 11:30:00"), 2L, "purchase", 5.0),
      // user 3: purchase only — no signup-side row at all
      Event(30L, ts("2024-05-01 10:15:00"), 3L, "purchase", 5.0))
    // watermark clocks on BOTH sides, far enough that every interval
    // above is provably closed (outer rows need min(watermarks) past
    // signup.ts + 1h + watermark delay)
    val clocks = Seq(
      Event(98L, ts("2024-05-01 20:00:00"), 98L, "signup", 0.0),
      Event(99L, ts("2024-05-01 20:00:00"), 99L, "purchase", 0.0))
    def writeChunk(evts: Seq[Event]): Unit =
      spark.createDataset(evts).write.mode("append").parquet(in)
    writeChunk(data)
    writeChunk(clocks)
    // one file per microbatch so the watermark advances between the
    // data chunk and the clock chunk
    val evLimited = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[Event].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(in)
    val streamed = EventStream.attributionOuter(
      evLimited.where("event_type = 'signup'"),
      evLimited.where("event_type = 'purchase'"))
    val q = streamed.writeStream
      .format("memory").queryName("ssjo_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitFinished(q)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .where("user_id < 90") // clock sentinels' own rows are not part of the contract
      .select("signup_id", "purchase_id", "user_id")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val got = canon(spark.table("ssjo_out"))
    val batch = spark.createDataset(data ++ clocks).toDF()
    val want = canon(EventStream.attributionOuter(
      batch.where("event_type = 'signup'"),
      batch.where("event_type = 'purchase'")))
    assert(got === Seq((10L, 11L, 1L), (20L, -1L, 2L)))
    assert(got === want)
  }

  test("sessionize: gap closes a session once the watermark passes") {
    val input = MemoryStream[Event]
    val sessions = EventStream.sessionize(
      input.toDS(), gapMinutes = 30, watermark = "1 minute")
    val q = sessions.writeStream
      .format("memory").queryName("sessions_out")
      .outputMode("append")
      .start()
    def ts(s: String) = Timestamp.valueOf(s)
    // user 1: two events 10 min apart (one session), then silence
    input.addData(
      Event(1L, ts("2024-01-01 00:00:00"), 1L, "click", 10.0),
      Event(2L, ts("2024-01-01 00:10:00"), 1L, "view", 5.5))
    q.processAllAvailable()
    // advance watermark far past user 1's gap via another user's event
    input.addData(Event(9L, ts("2024-01-01 03:00:00"), 2L, "click", 1.0))
    q.processAllAvailable()
    input.addData(Event(10L, ts("2024-01-01 06:00:00"), 2L, "click", 1.0))
    q.processAllAvailable()
    val got = spark.table("sessions_out").as[Session].collect()
      .filter(_.user_id == 1L)
    q.stop()
    assert(got.length === 1)
    val s = got.head
    assert(s.n_events === 2)
    assert(s.total_value === 15.5)
    assert(s.session_end_us - s.session_start_us === 10L * 60 * 1000000)
  }

  test("sessionize: fixture events (microsecond ts) equal the batch twin") {
    // fixture timestamps carry microsecond components — this pins the
    // stream path to exact-micros arithmetic (getTime alone truncates)
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    assert(sample.exists(_.ts.getNanos % 1000000 != 0),
      "fixture sample should contain sub-millisecond timestamps")
    val maxTs = sample.map(_.ts.getTime).max

    val input = MemoryStream[Event]
    val q = EventStream.sessionize(input.toDS()).writeStream
      .format("memory").queryName("sessions_fixture")
      .outputMode("append")
      .start()
    input.addData(sample.toIndexedSeq)
    q.processAllAvailable()
    // two flush events for a sentinel user: the first advances the
    // watermark past every real session's idle gap, the second forces
    // one more batch so those event-time timeouts actually fire
    input.addData(Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    input.addData(Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    val got = spark.table("sessions_fixture").as[Session].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_start_us, s.session_end_us,
        s.n_events.toLong, s.total_value))
      .sorted.toSeq
    q.stop()

    val want = Catalog.byName("q_stream_sessionize_batch").fn(spark, sfDir)
      .where($"user_id" < 20)
      .select($"user_id", $"session_start_us", $"session_end_us",
        $"n_events", $"total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sorted.toSeq
    assert(got === want)
  }

  test("stream-static join: streaming events enrich against a static dim") {
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // static side: plain batch frame — no watermark, no state; Spark
    // re-plans it per micro-batch (broadcast at dim size)
    val dim = spark.range(0, 100)
      .selectExpr("id AS user_id", "concat('tier_', id % 3) AS tier")
    val q = events.join(dim, Seq("user_id"), "left")
      .select("event_id", "user_id", "tier")
      .writeStream.format("memory").queryName("ssj_static_out")
      .outputMode("append").start()
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
    input.addData((1L, t0, 7L, "click", 1.0, "{}"),
      (2L, t0, 999L, "view", 2.0, "{}")) // 999 misses the dim
    q.processAllAvailable()
    val rows = spark.table("ssj_static_out")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sortBy(_._1)
    q.stop()
    assert(rows.toSeq === Seq((1L, 7L, "tier_1"), (2L, 999L, null)))
  }

  test("temporal stream-static enrichment: events resolve the version at THEIR time") {
    val input = MemoryStream[(Long, Timestamp, Long, String, Double, String)]
    val events = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val cut = Timestamp.valueOf("2024-06-01 00:00:00")
    val cutUs = cut.getTime * 1000
    // two versions per user: 'old' closes at the cut, 'new' opens there
    val dim = spark.range(0, 10).selectExpr(
        "id AS key", "'old' AS tier", "CAST(0 AS BIGINT) AS valid_from_us",
        s"CAST($cutUs AS BIGINT) AS valid_to_us")
      .unionByName(spark.range(0, 10).selectExpr(
        "id AS key", "'new' AS tier", s"CAST($cutUs AS BIGINT) AS valid_from_us",
        "CAST(NULL AS BIGINT) AS valid_to_us"))
    val q = EventStream.enrichTemporal(events, dim)
      .select("event_id", "tier")
      .writeStream.format("memory").queryName("temporal_out")
      .outputMode("append").start()
    val before = Timestamp.valueOf("2024-01-15 12:00:00")
    val atCut = cut // boundary belongs to the NEW version (from <= t < to)
    val after = Timestamp.valueOf("2024-12-31 23:59:59")
    input.addData(
      (1L, before, 3L, "click", 1.0, "{}"),
      (2L, atCut, 3L, "click", 1.0, "{}"),
      (3L, after, 3L, "click", 1.0, "{}"),
      (4L, after, 99L, "click", 1.0, "{}")) // no dim row at all
    q.processAllAvailable()
    val got = spark.table("temporal_out").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    q.stop()
    assert(got.toSeq === Seq((1L, "old"), (2L, "new"), (3L, "new"), (4L, null)),
      "each event must see the dimension as of ITS OWN timestamp")
  }

  test("file source honors maxFilesPerTrigger (bounded per-batch ingestion)") {
    val base = java.nio.file.Files.createTempDirectory("graft_mfpt_")
    val in = base.resolve("in").toString
    SessionConf.readNanosAsLong(spark)
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    // four separate files arriving "at once"
    (0 until 4).foreach { i =>
      raw.where(s"event_id % 4 = $i").coalesce(1)
        .write.mode("append").parquet(in)
    }
    val q = EventStream.readEvents(spark, in, Map("maxFilesPerTrigger" -> "1"))
      .writeStream.format("memory").queryName("mfpt_out")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitFinished(q)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 4,
      s"expected >=4 bounded batches, got ${batches.length}")
    assert(spark.table("mfpt_out").count() === raw.count())
  }

  test("native session_window streaming equals the oracled batch query") {
    import org.apache.spark.sql.functions.{count, lit, session_window, unix_micros}
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max

    val input = MemoryStream[Event]
    val streamed = input.toDS().withWatermark("ts", "10 minutes")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select($"user_id", unix_micros($"sw.start").as("session_start_us"),
        unix_micros($"sw.end").as("session_end_us"), $"n_events")
    val q = streamed.writeStream
      .format("memory").queryName("swin_out")
      .outputMode("append").start()
    input.addData(sample.toIndexedSeq)
    q.processAllAvailable()
    // watermark flush: advance past every real session's end + gap
    input.addData(Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    input.addData(Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    val got = spark.table("swin_out")
      .where($"user_id" >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    q.stop()
    val want = Catalog.byName("q_stream_session_window_batch").fn(spark, sfDir)
      .where($"user_id" < 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(got === want)
  }

  test("sessionize restart from checkpoint: state and timers survive, equals batch") {
    val base = java.nio.file.Files.createTempDirectory("graft_sess_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 10)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max
    val mid = sample(sample.length / 2).ts.getTime
    def writeChunk(evts: Seq[Event]): Unit =
      spark.createDataset(evts).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      // chunks are written with a real timestamp column (unlike the
      // fixture's raw nanos), so read with the Event schema directly
      val events = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Event].schema)
        .parquet(in)
        .as[Event]
      val q = EventStream.sessionize(events).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    // first run: early events only — sessions for quiet users emit,
    // still-open sessions stay in state
    writeChunk(sample.filter(_.ts.getTime <= mid).toIndexedSeq)
    runOnce()
    // restart: late events + two watermark-flush sentinels; recovered
    // state/timers must close every remaining session exactly once
    writeChunk(sample.filter(_.ts.getTime > mid).toIndexedSeq)
    runOnce()
    writeChunk(Seq(
      Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0),
      Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0)))
    runOnce()
    val got = spark.read.parquet(out).as[Session].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_start_us, s.session_end_us,
        s.n_events.toLong, s.total_value))
      .sorted.toSeq
    val want = Catalog.byName("q_stream_sessionize_batch").fn(spark, sfDir)
      .where($"user_id" >= 0 && $"user_id" < 10)
      .select($"user_id", $"session_start_us", $"session_end_us",
        $"n_events", $"total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sorted.toSeq
    assert(got === want)
  }

  test("native session_window restart: the MergingSessions store merges across the checkpoint") {
    // the native session_window operator keeps OPEN sessions in its
    // own state store (MergingSessions); the cut is placed INSIDE a
    // session's gap — a same-user event pair under 30 minutes apart
    // straddles the restart by construction — so a correct recovery
    // MUST merge run-2 events into a session recovered from run-1
    // state. A lost/reset store would emit the two halves as separate
    // sessions and break the batch equality.
    val base = java.nio.file.Files.createTempDirectory("graft_sw_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 10)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max
    // find the intra-session pair (same user, strictly increasing ts,
    // gap < 30 min) closest to the sample's median time, and cut at
    // its first event: run 1 ends with that session open in state,
    // run 2 must extend it
    val medianTs = sample(sample.length / 2).ts.getTime
    val pairs = sample.groupBy(_.user_id).values.flatMap { evs =>
      val s = evs.sortBy(_.ts.getTime)
      s.zip(s.drop(1)).filter { case (a, b) =>
        b.ts.getTime > a.ts.getTime &&
          b.ts.getTime - a.ts.getTime < 30 * 60 * 1000L
      }
    }.toSeq
    assert(pairs.nonEmpty, "fixture has no intra-session event pair")
    val (e1, e2) = pairs.minBy(p => math.abs(p._1.ts.getTime - medianTs))
    val cut = e1.ts.getTime
    assert(e2.ts.getTime > cut, "cut is not strictly inside the gap")
    def writeChunk(evts: Seq[Event]): Unit =
      spark.createDataset(evts).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val events = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Event].schema)
        .parquet(in)
      val q = EventStream.sessionWindowAgg(events).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    writeChunk(sample.filter(_.ts.getTime <= cut).toIndexedSeq)
    runOnce()
    writeChunk(sample.filter(_.ts.getTime > cut).toIndexedSeq)
    runOnce()
    writeChunk(Seq(
      Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0),
      Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0)))
    runOnce()
    val rows = spark.read.parquet(out)
      .where($"user_id" >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    // the straddling session really merged: one emitted session for
    // e1's user spans the cut (started at-or-before, ended after)
    // full-microsecond cut: getTime is millis-truncated, and the
    // fixture's timestamps carry real microseconds — a millis-only cut
    // misses a session that starts AT e1 by its sub-millisecond part
    val cutUs = cut * 1000L + (e1.ts.getNanos / 1000L) % 1000L
    assert(rows.exists(s => s._1 == e1.user_id
        && s._2 <= cutUs && s._3 > cutUs),
      s"no recovered session spans the restart cut for user ${e1.user_id}")
    val got = rows.sorted.toSeq
    val want = Catalog.byName("q_stream_session_window_batch").fn(spark, sfDir)
      .where($"user_id" >= 0 && $"user_id" < 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
      .sorted.toSeq
    assert(got === want)
  }

  test("chained dedup→window restart: recovered state in BOTH stores equals batch") {
    // the chain holds TWO state stores (dedup keys + open windows) in
    // one checkpoint; a restart must recover both. Run 1 sees the
    // first half once. Run 2 RE-DELIVERS the in-horizon tail of run 1
    // (its ts is ahead of the recovered watermark, so only the
    // RECOVERED dedup state can reject it — a lost store doubles
    // window counts) plus the second half doubled, then the flush
    // clocks close every window exactly once.
    val base = java.nio.file.Files.createTempDirectory("graft_chain_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 10)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max
    val mid = sample(sample.length / 2).ts.getTime
    val firstHalf = sample.filter(_.ts.getTime <= mid).toIndexedSeq
    val secondHalf = sample.filter(_.ts.getTime > mid).toIndexedSeq
    val run1Max = firstHalf.map(_.ts.getTime).max
    // ahead of the recovered watermark (run1Max - 10 min) AND still in
    // the dedup store's eviction horizon (ts + 10 min >= watermark)
    val redelivered = firstHalf.filter(_.ts.getTime > run1Max - 10 * 60 * 1000L)
    assert(redelivered.nonEmpty, "fixture too sparse for an in-horizon tail")
    def writeChunk(evts: Seq[Event]): Unit =
      spark.createDataset(evts).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val events = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[Event].schema)
        .parquet(in)
      val q = EventStream.dedupedWindowedAgg(events).writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    writeChunk(firstHalf)
    runOnce()
    writeChunk(redelivered ++ secondHalf ++ secondHalf)
    runOnce()
    writeChunk(Seq(
      Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0),
      Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0)))
    runOnce()
    val got = spark.read.parquet(out)
      .where($"event_type" =!= "flush")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    val want = EventStream.dedupedWindowedAgg(
        spark.createDataset(sample.toIndexedSeq).toDF())
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .sorted.toSeq
    assert(got === want)
  }

  test("streaming top-k event types (MapState) equals the batch twin") {
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)

    val input = MemoryStream[Event]
    val q = EventStream.topKEventTypes(input.toDS(), k = 2).writeStream
      .format("memory").queryName("topk_out")
      .outputMode("update")
      .start()
    // two batches: counts must accumulate across state updates
    val (first, rest) = sample.splitAt(sample.length / 2)
    input.addData(first.toIndexedSeq)
    q.processAllAvailable()
    input.addData(rest.toIndexedSeq)
    q.processAllAvailable()
    // update-mode memory sink appends every emission; the LAST emission
    // per (user, rank) is the current answer
    val emissions = spark.table("topk_out").as[EventStream.TypeCount]
      .collect().zipWithIndex
    val got = emissions.groupBy(e => (e._1.user_id, e._1.rnk))
      .map { case (_, g) => g.maxBy(_._2)._1 }
      .map(t => (t.user_id, t.rnk, t.event_type, t.n)).toSeq.sorted
    q.stop()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"n".desc, $"event_type".asc)
    val want = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .groupBy($"user_id", $"event_type").agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w))
      .where($"rnk" <= 2)
      .select($"user_id", $"rnk", $"event_type", $"n")
      .as[(Long, Int, String, Long)].collect().toSeq.sorted
    assert(got === want)
  }

  test("sessionizeTws (transformWithState) equals the batch twin") {
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (e.ts.getTime, e.event_id))
    assert(sample.nonEmpty)
    val maxTs = sample.map(_.ts.getTime).max

    val input = MemoryStream[Event]
    val q = EventStream.sessionizeTws(input.toDS()).writeStream
      .format("memory").queryName("sessions_tws")
      .outputMode("append")
      .start()
    // split the feed across batches so sessions span state updates
    // (exercises timer re-registration, not just the single-batch fold)
    val (first, rest) = sample.splitAt(sample.length / 2)
    input.addData(first.toIndexedSeq)
    q.processAllAvailable()
    input.addData(rest.toIndexedSeq)
    q.processAllAvailable()
    input.addData(Event(-1L, new Timestamp(maxTs + 2 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    input.addData(Event(-2L, new Timestamp(maxTs + 4 * 3600 * 1000L), -1L, "flush", 0.0))
    q.processAllAvailable()
    val got = spark.table("sessions_tws").as[Session].collect()
      .filter(_.user_id >= 0)
      .map(s => (s.user_id, s.session_start_us, s.session_end_us,
        s.n_events.toLong, s.total_value))
      .sorted.toSeq
    q.stop()

    val want = Catalog.byName("q_stream_sessionize_batch").fn(spark, sfDir)
      .where($"user_id" < 20)
      .select($"user_id", $"session_start_us", $"session_end_us",
        $"n_events", $"total_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sorted.toSeq
    assert(got === want)
  }

  test("recentAmounts (ListState) holds the last-5 window across batches") {
    def micros(t: Timestamp): Long =
      math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    val sample = Tables(spark, sfDir, "events")
      .where($"user_id" < 20)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(e => (micros(e.ts), e.event_id))
    assert(sample.nonEmpty)

    val input = MemoryStream[Event]
    val q = EventStream.recentAmounts(input.toDS(), n = 5).writeStream
      .format("memory").queryName("recent_out")
      .outputMode("update")
      .start()
    // three batches: the buffer must append, trim, and persist between
    val chunks = sample.grouped((sample.length + 2) / 3).toSeq
    chunks.foreach { c => input.addData(c.toIndexedSeq); q.processAllAvailable() }
    val emissions = spark.table("recent_out").as[EventStream.RecentStat]
      .collect().zipWithIndex
    val got = emissions.groupBy(_._1.user_id)
      .map { case (_, g) => g.maxBy(_._2)._1 } // last emission per user
      .map(r => (r.user_id, r.n_kept, r.sum_cents)).toSeq.sorted
    q.stop()

    // model: same order, same cents arithmetic, last 5 per user
    val want = sample.groupBy(_.user_id).map { case (u, es) =>
      val kept = es.sortBy(e => (micros(e.ts), e.event_id))
        .map(e => math.round(e.value * 100)).takeRight(5)
      (u, kept.length, kept.sum)
    }.toSeq.sorted
    assert(got === want)
  }

  test("transitions: incremental ValueState twin equals the oracled batch Markov matrix") {
    // the WHOLE fixture streams through in two batches split on the
    // global (ts, event_id) order — the split proves the previous-type
    // state carries across micro-batches, not just within one
    val sample = Tables(spark, sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val (first, second) = sample.splitAt(sample.length / 2)

    val input = MemoryStream[Event]
    val q = EventStream.transitions(input.toDS()).writeStream
      .format("memory").queryName("transitions_out")
      .outputMode("update")
      .start()
    input.addData(first.toIndexedSeq)
    q.processAllAvailable()
    input.addData(second.toIndexedSeq)
    q.processAllAvailable()
    val got = spark.table("transitions_out")
      .groupBy($"prev_type", $"next_type")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    q.stop()

    val want = Catalog.byName("q_events_transitions").fn(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === want)
  }

  test("transitions: ValueState survives a checkpointed restart (new query instance)") {
    // run 1 streams the time-wise first half of the fixture, the query
    // STOPS, and a brand-new query instance on the same checkpoint
    // streams the second half: the per-user previous-type state must be
    // restored, so the union of both runs' emissions still equals the
    // batch Markov matrix (each transition emitted exactly once)
    val base = java.nio.file.Files.createTempDirectory("graft_trans_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val sample = Tables(spark, sfDir, "events")
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect()
      .sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
    val (first, second) = sample.splitAt(sample.length / 2)

    def runOnce(): Unit = {
      // the input files are written from Dataset[Event] below (real
      // TIMESTAMP column) — read them back with the encoder's schema
      val events = spark.readStream
        .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
        .parquet(in)
        .as[Event]
      val q = EventStream.transitions(events).writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[EventStream.Transition], _: Long) =>
          df.write.mode("append").parquet(out); ()
        }
        .option("checkpointLocation", cp)
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    // the file source reads whole files; each run appends one file whose
    // rows are time-ordered, matching the arrival order the state expects
    spark.createDataset(first.toIndexedSeq).toDF()
      .write.mode("append").parquet(in)
    runOnce()
    spark.createDataset(second.toIndexedSeq).toDF()
      .write.mode("append").parquet(in)
    runOnce()

    val got = spark.read.parquet(out)
      .groupBy($"prev_type", $"next_type")
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val want = Catalog.byName("q_events_transitions").fn(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    assert(got === want)
  }

  test("streaming CDC apply: restart from checkpoint continues the snapshot") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.CdcRecord
    val base = java.nio.file.Files.createTempDirectory("graft_cdc_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val log = graft.queries.MigrationQueries.cdcLog(spark, sfDir)
      .as[CdcRecord].collect()
    def runOnce(): Unit = {
      val ds = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcRecord].schema)
        .parquet(in).as[CdcRecord]
      val q = CdcStream(ds).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    // run 1: base load only; run 2 (NEW query instance, same
    // checkpoint) applies both change waves — per-key state must
    // survive the restart or seq-0 rows would win for unchanged keys
    spark.createDataset(log.filter(_.seq == 0).toIndexedSeq)
      .write.mode("append").parquet(in)
    runOnce()
    spark.createDataset(log.filter(_.seq > 0).toIndexedSeq)
      .write.mode("append").parquet(in)
    runOnce()
    val got = spark.read.parquet(out).as[CdcRecord].collect()
      .groupBy(_.k).map { case (_, rs) => rs.maxBy(_.seq) }
      .filter(_.op != "D")
      .map(r => (r.k, r.op, r.status, r.cents.getOrElse(-1L), r.seq.toLong))
      .toSeq.sorted
    val want = Catalog.byName("q_migrate_cdc_apply").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("streaming CDC history: restart from checkpoint keeps closing versions") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.{CdcRecord, VersionRow}
    val base = java.nio.file.Files.createTempDirectory("graft_cdch_ckpt_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val log = graft.queries.MigrationQueries.cdcLog(spark, sfDir)
      .as[CdcRecord].collect()
    // (provider leak handled suite-wide by afterEach)
    // changelog checkpointing ON for BOTH runs: run 2's recovery must
    // rebuild per-key state by replaying changelog files over the last
    // snapshot, not by loading a full per-batch snapshot — the restart
    // path the catalog's changelog-enabled CDC runs rely on (the apply
    // restart test above keeps the full-snapshot recovery covered)
    def runOnce(): Unit = CdcStream.withChangelogCheckpointing(spark) {
      val ds = spark.readStream
        .schema(org.apache.spark.sql.Encoders.product[CdcRecord].schema)
        .parquet(in).as[CdcRecord]
      val q = CdcStream.history(ds).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      awaitFinished(q)
    }
    // run 1: base inserts only — every key's version 0 emits OPEN; run
    // 2 (NEW query instance, same checkpoint) delivers both change
    // waves: the RECOVERED per-key record must close version 0 with
    // the successor's seq (a lost state store would leave version 0
    // open forever and also mis-open post-delete versions)
    spark.createDataset(log.filter(_.seq == 0).toIndexedSeq)
      .write.mode("append").parquet(in)
    runOnce()
    spark.createDataset(log.filter(_.seq > 0).toIndexedSeq)
      .write.mode("append").parquet(in)
    runOnce()
    // append-mode file sink keeps every emission; the finished row per
    // (k, valid_from) is its CLOSED emission if one exists (a version
    // closes at most once — valid_to is the unique successor seq — so
    // this is order-free, unlike file read order, which is not
    // emission order)
    val got = spark.read.parquet(out).as[VersionRow].collect()
      .groupBy(v => (v.k, v.valid_from))
      .map { case (_, g) => g.find(_.valid_to.nonEmpty).getOrElse(g.head) }
      .map(v => (v.k, v.status, v.cents.getOrElse(-1L),
        v.valid_from.toLong, v.valid_to.map(_.toLong).getOrElse(-1L),
        v.is_current))
      .toSeq.sorted
    val want = Catalog.byName("q_migrate_cdc_history").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
      .sorted.toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }

  test("state data source: the CDC store holds exactly the LWW record per key") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.CdcRecord
    // state INTROSPECTION, the 100 TB ops tool: Spark's statestore
    // data source reads a checkpoint's stores offline, so the engine's
    // "one ValueState record per key, always the max-seq one" bound
    // is audited from the STATE ITSELF — not inferred from outputs —
    // without touching the running job's checkpoint contract.
    val base = java.nio.file.Files.createTempDirectory("graft_cdc_sread_")
    val in = base.resolve("in").toString
    val out = base.resolve("out").toString
    val cp = base.resolve("cp").toString
    val log = graft.queries.MigrationQueries.cdcLog(spark, sfDir)
      .as[CdcRecord].collect()
    spark.createDataset(log.toIndexedSeq).write.parquet(in)
    val ds = spark.readStream
      .schema(org.apache.spark.sql.Encoders.product[CdcRecord].schema)
      .parquet(in).as[CdcRecord]
    val q = CdcStream(ds).writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    awaitFinished(q)
    val state = spark.read.format("statestore")
      .option("stateVarName", "cur")
      .load(cp)
    val got = state
      .select($"key.value".as("key_k"), $"value.k", $"value.seq",
        $"value.op", $"value.status", $"value.cents")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getString(3),
        r.getString(4), if (r.isNullAt(5)) -1L else r.getLong(5)))
    // the ValueState bound, read from the store: one record per key...
    assert(got.map(_._1).distinct.length === got.length,
      "a key holds more than one state record")
    // ...the record is stored under its own key...
    assert(got.forall(r => r._1 == r._2), "state record filed under a foreign key")
    // ...and it is exactly the LWW winner (max seq, tombstones KEPT in
    // state so late replays of lower seqs still lose)
    val want = log.groupBy(_.k).map { case (_, rs) => rs.maxBy(_.seq) }
      .map(r => (r.k, r.k, r.seq, r.op, r.status, r.cents.getOrElse(-1L)))
      .toSeq.sorted
    assert(got.sorted.toSeq === want)
  }

  test("streaming CDC apply: out-of-order delivery converges to the same snapshot") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.CdcRecord
    // the final change wave arrives FIRST, the base load LAST — a
    // replayed/partitioned transport can do exactly this; LWW by seq
    // must make delivery order irrelevant
    val log = graft.queries.MigrationQueries.cdcLog(spark, sfDir)
      .as[CdcRecord].collect()
    val input = MemoryStream[CdcRecord]
    val q = CdcStream(input.toDS()).writeStream
      .format("memory").queryName("cdc_ooo_out")
      .outputMode("update")
      .start()
    input.addData(log.filter(_.seq == 3).toIndexedSeq)
    q.processAllAvailable()
    input.addData(log.filter(r => r.seq == 1 || r.seq == 2).toIndexedSeq)
    q.processAllAvailable()
    input.addData(log.filter(_.seq == 0).toIndexedSeq)
    q.processAllAvailable()
    val got = spark.table("cdc_ooo_out").as[CdcRecord].collect()
      .groupBy(_.k).map { case (_, rs) => rs.maxBy(_.seq) }
      .filter(_.op != "D")
      .map(r => (r.k, r.op, r.status, r.cents.getOrElse(-1L), r.seq.toLong))
      .toSeq.sorted
    q.stop()
    val want = Catalog.byName("q_migrate_cdc_apply").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    assert(got === want)
  }

  test("streaming CDC apply: latest emission per key equals the batch snapshot") {
    import graft.streaming.CdcStream
    import graft.streaming.CdcStream.CdcRecord
    // the same modeled changelog the batch entry applies, replayed in
    // seq order across micro-batches (base load, then two change waves)
    val log = graft.queries.MigrationQueries.cdcLog(spark, sfDir)
      .as[CdcRecord].collect()
    val input = MemoryStream[CdcRecord]
    val q = CdcStream(input.toDS()).writeStream
      .format("memory").queryName("cdc_out")
      .outputMode("update")
      .start()
    input.addData(log.filter(_.seq == 0).toIndexedSeq)
    q.processAllAvailable()
    input.addData(log.filter(r => r.seq == 1 || r.seq == 2).toIndexedSeq)
    q.processAllAvailable()
    // replay part of wave 2 plus the final wave: stale seqs must lose
    input.addData(log.filter(r => r.seq == 2 || r.seq == 3).toIndexedSeq)
    q.processAllAvailable()
    val got = spark.table("cdc_out").as[CdcRecord].collect()
      .groupBy(_.k).map { case (_, rs) => rs.maxBy(_.seq) }
      .filter(_.op != "D")
      .map(r => (r.k, r.op, r.status, r.cents.getOrElse(-1L), r.seq.toLong))
      .toSeq.sorted
    q.stop()
    val want = Catalog.byName("q_migrate_cdc_apply").fn(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getLong(4)))
      .sorted.toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }
}
