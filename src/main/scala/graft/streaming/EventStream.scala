package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming slice over the `events` fixture (north-star
  * extension; the reference is pure batch — SURVEY.md §2.4). The same
  * DataFrame transforms run in batch and streaming: `readStream` file
  * source → event-time watermark → tumbling-window aggregation /
  * keyed dedup / custom sessionization state.
  *
  * Scale notes: windowed aggs and dropDuplicates shuffle once on
  * (window, key) with map-side partials; state is bounded by the
  * watermark (late data beyond it is dropped and its state evicted).
  * Sessionization uses flatMapGroupsWithState with event-time timeout —
  * state per active user only.
  */
object EventStream {

  /** events.parquet logical schema with `ts` left abstract — the
    * fixture has shipped ts as TIMESTAMP(NANOS) (readable only as long
    * via the legacy flag) and as TIMESTAMP(MICROS)/NTZ across
    * generations, so the concrete ts type is probed per directory. */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos generation; micros probes NTZ
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  private def nanosToTs(df: DataFrame): DataFrame =
    df.withColumn("ts", timestamp_micros(expr("ts div 1000")))

  /** File-source stream over a directory of events parquet. Source
    * options pass through — e.g. `maxFilesPerTrigger` to bound each
    * micro-batch's ingestion (the backpressure knob for a backlog of
    * arrived files; honored per batch by AvailableNow too).
    *
    * File streams need an explicit schema, so the on-disk ts type is
    * probed with a batch footer read first and the stream's schema +
    * normalization chosen to match (both generations end up session-TZ
    * TIMESTAMP at micros precision, same as [[graft.Tables]]). An
    * EMPTY directory (the normal start-stream-before-data pattern)
    * cannot be probed — it falls back to the nanos-as-long rawSchema,
    * the generation the static schema always assumed. Directories
    * mixing nanos- and micros-generation files are unsupported: the
    * probe reads one footer's ts type and applies it to every file. */
  def readEvents(spark: SparkSession, dir: String,
      options: Map[String, String] = Map.empty): DataFrame = {
    graft.SessionConf.readNanosAsLong(spark)
    val tsType =
      try spark.read.parquet(dir).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException =>
        rawSchema("ts").dataType }
    val schema = StructType(rawSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = tsType) else f))
    val raw = spark.readStream.options(options).schema(schema).parquet(dir)
    tsType match {
      case LongType => nanosToTs(raw)
      case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
    }
  }

  /** Tumbling-window counts/sums per event type. Works on batch and
    * streaming frames alike (same expressions — the batch twin is the
    * oracled q_stream_window_batch). */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"),
        col("approx_users"))
  }

  /** SLIDING-window counts/sums per event type: each event belongs to
    * len/slide overlapping windows (Spark plans one Expand — 4 rows
    * per event at 1h/15m — feeding the same keyed aggregate as the
    * tumbling shape; state is len/slide× the tumbling window count,
    * still watermark-bounded). Batch and streaming alike. */
  def slidingWindowAgg(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Native session-window aggregation (Spark's MergingSessions
    * operator — the built-in third rendering of the gap-session
    * algebra next to the two hand-rolled state machines). Works on
    * batch and streaming frames alike; session end is last-event + gap
    * by session_window's contract. In streaming append mode a session
    * row is emitted only once the watermark passes its end — bounded
    * state, one row per closed session, no custom state code. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(col("user_id"), session_window(col("ts"), gap).as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        (sum(floor(col("value") * 100 + 0.5)) / 100.0).as("total_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("session_start_us"),
        unix_micros(col("sw.end")).as("session_end_us"),
        col("n_events"), col("total_value"))
  }

  /** CHAINED stateful operators in one streaming query: watermark-
    * bounded keyed dedup feeding the tumbling-window aggregate — the
    * at-least-once-source-to-exact-windows pipeline (dedup absorbs the
    * source's redelivery, the agg sees each event once). One watermark
    * node upstream serves BOTH operators (dedup emits rows
    * immediately, so the agg's event-time semantics are unchanged);
    * re-watermarking between them would reset the late-row bound
    * mid-pipeline. Batch rendering: dropDuplicates then the same
    * aggregate. */
  def dedupedWindowedAgg(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val deduped =
      if (events.isStreaming)
        events.withWatermark("ts", watermark)
          .dropDuplicatesWithinWatermark("event_id")
      else events.dropDuplicates("event_id")
    deduped.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))
  }

  /** Exactly-once-per-key view: keyed dedup with watermark-bounded
    * state (late duplicates beyond the watermark may reappear — the
    * documented trade; the reference's at-least-once load has the same
    * property, SURVEY.md §3.4). */
  def dedupe(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val in =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.dropDuplicates("event_id")
  }

  /** Bounded-state keyed dedup: `dropDuplicatesWithinWatermark` keeps
    * each key only until the watermark passes its event time + delay,
    * then evicts it — unlike [[dedupe]], whose per-key state grows
    * forever (every event_id ever seen). At 100 TB/day of events the
    * unbounded variant is not runnable; this one's state is bounded by
    * the watermark horizon. The trade: a duplicate arriving after its
    * original's state was evicted is re-emitted (at-least-once within
    * the horizon — the same contract as the reference's checkpointed
    * at-least-once load, SURVEY.md §3.4). */
  def dedupeWithinWatermark(events: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")
  }

  /** Stream-stream interval join: purchases within 1h after a signup
    * by the same user (the streaming twin of q_interval_join). Both
    * sides carry watermarks and the join condition bounds event time,
    * so each side's buffered state is evicted once the other side's
    * watermark passes the interval — bounded state, exact results.
    * Works identically on batch frames (no watermark needed). */
  def attribution(signups: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val s = (if (signups.isStreaming) signups.withWatermark("ts", watermark)
             else signups).alias("s")
    val p = (if (purchases.isStreaming) purchases.withWatermark("ts", watermark)
             else purchases).alias("p")
    s.join(p, expr(
        "p.user_id = s.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"))
      .select(col("s.event_id").as("signup_id"),
        col("p.event_id").as("purchase_id"),
        col("s.user_id").as("user_id"),
        (unix_micros(col("p.ts")) - unix_micros(col("s.ts"))).as("delay_us"))
  }

  /** LEFT-OUTER stream-stream interval join: like [[attribution]], but
    * signups with NO purchase within the hour emit a null-purchase row
    * — the "unconverted signups" feed. In streaming mode the null row
    * for a signup is emitted only once BOTH watermarks pass the end of
    * its interval (Spark must prove no matching purchase can still
    * arrive); until then the signup sits in bounded state. A batch
    * caller gets the plain left-outer interval join. */
  def attributionOuter(signups: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val s = (if (signups.isStreaming) signups.withWatermark("ts", watermark)
             else signups).alias("s")
    val p = (if (purchases.isStreaming) purchases.withWatermark("ts", watermark)
             else purchases).alias("p")
    s.join(p, expr(
        "p.user_id = s.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"),
        "left_outer")
      .select(col("s.event_id").as("signup_id"),
        col("p.event_id").as("purchase_id"),
        col("s.user_id").as("user_id"),
        (unix_micros(col("p.ts")) - unix_micros(col("s.ts"))).as("delay_us"))
  }

  /** LEFT-SEMI stream-stream interval join: converted signups — one
    * row per signup that has at least one purchase within the hour,
    * with NO purchase columns (the semi contract: existence, not
    * pairing — a signup with five purchases emits once, where
    * [[attribution]] emits five). In streaming mode Spark emits the
    * signup as soon as its first match arrives and drops it from
    * state; unmatched signups are evicted silently once both
    * watermarks pass their interval. A batch caller gets the plain
    * left-semi interval join. */
  def attributionSemi(signups: DataFrame, purchases: DataFrame,
      watermark: String = "10 minutes"): DataFrame = {
    val s = (if (signups.isStreaming) signups.withWatermark("ts", watermark)
             else signups).alias("s")
    val p = (if (purchases.isStreaming) purchases.withWatermark("ts", watermark)
             else purchases).alias("p")
    s.join(p, expr(
        "p.user_id = s.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"),
        "left_semi")
      .select(col("s.event_id").as("signup_id"),
        col("s.user_id").as("user_id"),
        unix_micros(col("s.ts")).as("signup_us"))
  }

  /** CHAINED stream-stream join → windowed aggregate in ONE streaming
    * query (the funnel-at-scale pipeline): the watermarked interval
    * join emits (signup, purchase) conversions, and a downstream
    * tumbling-window aggregate on PURCHASE time rolls them up per
    * hour — two stateful operators, the join's two input watermarks
    * propagating (as their min) through the join into the aggregate,
    * which finalizes each window in append mode once that derived
    * watermark passes its end. Conversion money stays in exact cents.
    * Works identically on batch frames. */
  def attributionWindowed(signups: DataFrame, purchases: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "10 minutes"): DataFrame = {
    val s = (if (signups.isStreaming) signups.withWatermark("ts", watermark)
             else signups).alias("s")
    val p = (if (purchases.isStreaming) purchases.withWatermark("ts", watermark)
             else purchases).alias("p")
    s.join(p, expr(
        "p.user_id = s.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR"))
      .select(col("p.ts").as("pts"),
        (unix_micros(col("p.ts")) - unix_micros(col("s.ts"))).as("delay_us"),
        floor(col("p.value") * 100 + 0.5).cast("bigint").as("cents"))
      .groupBy(window(col("pts"), windowLen))
      .agg(
        count(lit(1)).as("n_conversions"),
        sum(col("delay_us")).as("sum_delay_us"),
        sum(col("cents")).as("sum_cents"))
      .select(
        unix_micros(col("window.start")).as("window_start_us"),
        col("n_conversions"), col("sum_delay_us"), col("sum_cents"))
  }

  /** Temporal stream-static enrichment — the streaming twin of the
    * batch point-in-time join (`q_scd2_pit`): each event joins the
    * dimension VERSION valid at ITS OWN event time, so late-arriving
    * events still resolve against history, not the current row. The
    * static side re-plans every micro-batch (broadcast at dimension
    * size); the interval predicate rides the key equi-join as a
    * residual over a bounded per-key version count. `dim` must carry
    * (`key`, `valid_from_us`, `valid_to_us` nullable-open). Works
    * identically on a batch events frame. */
  def enrichTemporal(events: DataFrame, dim: DataFrame): DataFrame = {
    val ev = events.alias("e")
    val dm = dim.alias("dim")
    ev.join(dm,
      expr("""dim.key = e.user_id
             |AND dim.valid_from_us <= unix_micros(e.ts)
             |AND (dim.valid_to_us IS NULL
             |     OR unix_micros(e.ts) < dim.valid_to_us)""".stripMargin),
      "left")
  }

  // ---- custom sessionization state ----

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class TypeCount(user_id: Long, event_type: String, n: Long, rnk: Int)
  final case class Transition(user_id: Long, prev_type: String, next_type: String)
  final case class RecentStat(user_id: Long, n_kept: Int, sum_cents: Long)
  final case class SessionState(start: Long, lastTs: Long, n: Int, totalCents: Long)
  final case class Session(user_id: Long, session_start_us: Long,
      session_end_us: Long, n_events: Int, total_value: Double)

  /** Gap-based sessions (default 30 min idle closes a session), via
    * flatMapGroupsWithState with event-time timeout: a session is
    * emitted when the watermark passes its idle gap. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, rows: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      val out = scala.collection.mutable.ListBuffer[Session]()
      def cents(v: Double) = math.round(v * 100)
      if (state.hasTimedOut) {
        val s = state.get
        out += Session(userId, s.start, s.lastTs, s.n, s.totalCents / 100.0)
        state.remove()
      } else {
        // exact micros: getTime truncates to ms; getNanos carries the
        // sub-second part (fixture timestamps have microsecond parts).
        def micros(t: java.sql.Timestamp): Long =
          math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
        val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
        var cur = state.getOption
        sorted.foreach { e =>
          val us = micros(e.ts)
          cur match {
            case Some(s) if us - s.lastTs <= gapUs =>
              cur = Some(s.copy(lastTs = us, n = s.n + 1,
                totalCents = s.totalCents + cents(e.value)))
            case Some(s) =>
              out += Session(userId, s.start, s.lastTs, s.n, s.totalCents / 100.0)
              cur = Some(SessionState(us, us, 1, cents(e.value)))
            case None =>
              cur = Some(SessionState(us, us, 1, cents(e.value)))
          }
        }
        cur.foreach { s =>
          state.update(s)
          state.setTimeoutTimestamp(s.lastTs / 1000L + gapMinutes * 60L * 1000L)
        }
      }
      out.iterator
    }

    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** The same gap sessionizer on the Spark 4 `transformWithState` API
    * (StatefulProcessor + typed ValueState + explicit event-time
    * timers), the successor to flatMapGroupsWithState: state schema
    * evolves independently per named state variable, and timers are
    * first-class instead of one implicit timeout per key. Requires the
    * RocksDB state store provider (selected by [[sessionizeTws]]).
    * Emits byte-identical sessions to [[sessionize]]. */
  def sessionizeTws(events: Dataset[Event], gapMinutes: Int = 30,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(events.sparkSession)
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Per-user running top-k event types (see [[TopKProcessor]]):
    * update-mode stream whose latest emission per user equals the
    * batch `groupBy(user, type).count()` + rank. */
  def topKEventTypes(events: Dataset[Event], k: Int = 3): Dataset[TypeCount] = {
    import events.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new TopKProcessor(k),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Per-user sliding buffer of the last `n` event amounts (see
    * [[RecentWindowProcessor]]) — the ListState member of the
    * transformWithState surface (ValueState: sessionizer, MapState:
    * top-k). Update-mode: each batch re-emits the user's current
    * window size and sum. */
  def recentAmounts(events: Dataset[Event], n: Int = 5): Dataset[RecentStat] = {
    import events.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new RecentWindowProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** Incremental event-type transitions (see [[TransitionProcessor]]):
    * the streaming twin of `q_events_transitions`'s per-user lag — one
    * `Transition` row per input event, each emitted exactly once, with
    * the per-user previous type carried across batches in a single
    * ValueState[String]. Aggregating the output by (prev, next) gives
    * the batch query's Markov matrix incrementally. */
  def transitions(events: Dataset[Event]): Dataset[Transition] = {
    import events.sparkSession.implicits._
    graft.SessionConf.useRocksDbStateStore(events.sparkSession)
    events.groupByKey(_.user_id)
      .transformWithState(new TransitionProcessor(),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }
}

/** Last-n ring buffer on the transformWithState ListState surface:
  * state is AT MOST n longs per user regardless of stream length —
  * each batch appends its rows in deterministic (event-time micros,
  * event_id) order and trims back to the tail. The rewrite-on-trim is
  * O(n) per touched key per batch; untouched keys pay nothing. */
final class RecentWindowProcessor(n: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventStream.Event, EventStream.RecentStat] {
  import org.apache.spark.sql.streaming.{ListState, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var buf: ListState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    buf = getHandle.getListState[Long]("recent", Encoders.scalaLong, TTLConfig.NONE)

  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  override def handleInputRows(userId: Long, rows: Iterator[EventStream.Event],
      tv: TimerValues): Iterator[EventStream.RecentStat] = {
    val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    sorted.foreach(e => buf.appendValue(math.round(e.value * 100)))
    val all = buf.get().toSeq
    val kept = all.takeRight(n)
    if (kept.length != all.length) buf.put(kept.toArray)
    Iterator.single(EventStream.RecentStat(userId, kept.length, kept.sum))
  }
}

/** Per-user running top-k event types on the transformWithState
  * MapState surface: O(|distinct types|) state per user (a bounded
  * domain), each batch folds its rows into the counts and re-emits the
  * user's current top-k — OutputMode.Update semantics, the streaming
  * twin of `groupBy(user, type).count()` + rank. Deterministic
  * tiebreak (count desc, type asc) so tests and the batch twin agree
  * exactly. */
final class TopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventStream.Event, EventStream.TypeCount] {
  import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig}
  import org.apache.spark.sql.Encoders

  @transient private var counts: MapState[String, Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    counts = getHandle.getMapState[String, Long]("counts",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(userId: Long, rows: Iterator[EventStream.Event],
      tv: TimerValues): Iterator[EventStream.TypeCount] = {
    rows.foreach { e =>
      val cur = if (counts.containsKey(e.event_type)) counts.getValue(e.event_type) else 0L
      counts.updateValue(e.event_type, cur + 1L)
    }
    counts.iterator().toSeq
      .sortBy { case (t, n) => (-n, t) }
      .take(k)
      .zipWithIndex
      .map { case ((t, n), i) => EventStream.TypeCount(userId, t, n, i + 1) }
      .iterator
  }
}

/** Gap-session state machine for [[EventStream.sessionizeTws]]: one
  * ValueState per user plus one event-time timer at lastTs + gap. A
  * batch's rows fold into the open session exactly as the
  * flatMapGroupsWithState version does; the timer (re-registered on
  * every extension, stale ones deleted) closes and emits the session
  * once the watermark passes the idle gap. */
final class SessionProcessor(gapMinutes: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventStream.Event, EventStream.Session] {
  import EventStream.{Event, Session, SessionState}
  import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimeMode, TimerValues, TTLConfig, ValueState}

  private val gapUs = gapMinutes * 60L * 1000000L
  @transient private var session: ValueState[SessionState] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    session = getHandle.getValueState[SessionState]("session",
      org.apache.spark.sql.Encoders.product[SessionState], TTLConfig.NONE)

  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def gapEndMs(s: SessionState): Long =
    s.lastTs / 1000L + gapMinutes * 60L * 1000L

  override def handleInputRows(userId: Long, rows: Iterator[Event],
      tv: TimerValues): Iterator[Session] = {
    def cents(v: Double) = math.round(v * 100)
    val out = scala.collection.mutable.ListBuffer[Session]()
    val sorted = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    val prev = if (session.exists()) Some(session.get()) else None
    var cur = prev
    sorted.foreach { e =>
      val us = micros(e.ts)
      cur match {
        case Some(s) if us - s.lastTs <= gapUs =>
          cur = Some(s.copy(lastTs = us, n = s.n + 1,
            totalCents = s.totalCents + cents(e.value)))
        case Some(s) =>
          out += Session(userId, s.start, s.lastTs, s.n, s.totalCents / 100.0)
          cur = Some(SessionState(us, us, 1, cents(e.value)))
        case None =>
          cur = Some(SessionState(us, us, 1, cents(e.value)))
      }
    }
    cur.foreach { s =>
      session.update(s)
      // the gap timer tracks lastTs: drop the superseded one (timers
      // are per-key instances, not a single implicit timeout)
      prev.map(gapEndMs).filter(_ != gapEndMs(s))
        .foreach(getHandle.deleteTimer)
      getHandle.registerTimer(gapEndMs(s))
    }
    out.iterator
  }

  override def handleExpiredTimer(userId: Long, tv: TimerValues,
      info: ExpiredTimerInfo): Iterator[Session] = {
    if (session.exists()) {
      val s = session.get()
      // a stale timer (session extended after it was set) must not
      // close the still-open session
      if (gapEndMs(s) <= info.getExpiryTimeInMs) {
        session.clear()
        return Iterator.single(
          Session(userId, s.start, s.lastTs, s.n, s.totalCents / 100.0))
      }
    }
    Iterator.empty
  }
}

/** Per-user previous-event-type carry on the transformWithState
  * ValueState surface — constant state per user (one string) no
  * matter the stream length. A batch's rows fold in deterministic
  * (event-time micros, event_id) order, the same total order the
  * batch twin's lag() window sorts by, so the emitted transitions
  * aggregate to exactly `q_events_transitions`. First event per user
  * emits from the '<start>' sentinel, matching the batch coalesce. */
final class TransitionProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventStream.Event, EventStream.Transition] {
  import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig, ValueState}
  import org.apache.spark.sql.Encoders

  @transient private var prev: ValueState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prev = getHandle.getValueState[String]("prev", Encoders.STRING, TTLConfig.NONE)

  // floorDiv, matching the other processors' (micros, event_id) sort
  // contract exactly — truncating division would order pre-epoch
  // timestamps differently
  private def micros(t: java.sql.Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  override def handleInputRows(userId: Long, rows: Iterator[EventStream.Event],
      tv: TimerValues): Iterator[EventStream.Transition] = {
    val ordered = rows.toSeq.sortBy(e => (micros(e.ts), e.event_id))
    val out = Seq.newBuilder[EventStream.Transition]
    var p = if (prev.exists()) prev.get() else "<start>"
    ordered.foreach { e =>
      out += EventStream.Transition(userId, p, e.event_type)
      p = e.event_type
    }
    if (ordered.nonEmpty) prev.update(p)
    out.result().iterator
  }
}
