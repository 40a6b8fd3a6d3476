package graft.queries

import graft.{QueryDef, Tables}
import graft.streaming.EventStream
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Batch twins of the streaming transforms, oracled against DuckDB —
  * the SAME expressions run under readStream (StreamingSpec verifies
  * stream/batch equivalence; here the batch semantics are gated).
  * Window start is epoch-floor arithmetic in the oracle (identical to
  * Spark's window() for epoch-aligned tumbling windows, UTC).
  */
object StreamingQueries {

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_stream_window_batch", Some(windowSql), headline = true)(
      (s, d) =>
        EventStream.windowedAgg(Tables(s, d, "events"))
          .drop("approx_users")), // sketch values are engine-specific

    // Batch twin of the gap-based sessionization: lag + cumulative sum
    // assigns session ids; 30-min idle closes a session. value totals
    // go through floor(v*100 + 0.5) cents (same rule as the streaming
    // state fn; integral doubles < 2^53 sum exactly in any order).
    QueryDef("q_stream_sessionize_batch", Some(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events),
        |g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
        |                       OR tus - lag(tus) OVER w > 1800000000
        |                     THEN 1 ELSE 0 END AS new_s
        |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
        |SELECT user_id, session_id, min(tus) AS session_start_us,
        |  max(tus) AS session_end_us, count(*) AS n_events,
        |  sum(floor(value*100 + 0.5))/100.0 AS total_value
        |FROM s GROUP BY user_id, session_id""".stripMargin))(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("tus").asc, col("event_id").asc)
        Tables(s, d, "events")
          .select(col("user_id"), unix_micros(col("ts")).as("tus"),
            col("event_id"), col("value"))
          .withColumn("new_s",
            when(lag(col("tus"), 1).over(w).isNull ||
              col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum(col("new_s"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("tus")).as("session_start_us"),
            max(col("tus")).as("session_end_us"),
            count(lit(1)).as("n_events"),
            (sum(floor(col("value") * 100 + 0.5)) / 100.0).as("total_value"))
      }),

    // Spark's NATIVE session_window aggregation (one MergingSessions
    // pass — no window-function sort chain), oracled against the same
    // lag+cumsum SQL as the manual twin: a three-way pin that builtin
    // operator == hand-rolled batch == the streaming state machines
    // (StreamingSpec). session_window's end is last-event + gap, so
    // the oracle emits max(tus) + gap. ----
    QueryDef("q_stream_session_window_batch", Some(sessionWindowSql))(
      (s, d) => EventStream.sessionWindowAgg(Tables(s, d, "events"))),

    // ---- SLIDING windows (1 h window every 15 min): each event lands
    // in 4 overlapping windows via one Expand feeding the same keyed
    // aggregate as the tumbling shape — never a self-join or a
    // per-window rescan. The oracle replicates the multi-assignment
    // with a 4-row range cross (bounded by len/slide, not data). ----
    QueryDef("q_stream_sliding_window_batch", Some(slidingWindowSql))(
      (s, d) => EventStream.slidingWindowAgg(Tables(s, d, "events"))),

    // ---- The REAL sliding-window streaming run: same staged fixture
    // and flush sentinels as the tumbling run; state holds 4× the
    // tumbling window count (len/slide), each (window, type) group
    // emitted in append mode once the watermark passes ITS end — the
    // overlap means one event's groups finalize across FOUR different
    // watermark thresholds, which the oracle hash checks exactly. ----
    QueryDef("q_stream_sliding_window_run", effectful = true,
      oracle = Some(slidingWindowSql))(
      (s, d) => fileSinkRun(s, d, "sliding_window_run", "sliding",
          s"sess:$d", sessConsumers, stageSessionFixture(s, d))(
        EventStream.slidingWindowAgg(_))(
        sink => sink
          .where(col("event_type") =!= "flush")
          .select(col("window_start_us"), col("event_type"),
            col("n_events").cast("bigint").as("n_events"),
            col("total_value")))),

    // The gap PARAMETER pinned at both extremes (5 min fragments the
    // stream into many short sessions; 2 h merges most of a user's
    // day): the 30-min default above cannot catch a gap unit/scale
    // bug (minutes-as-seconds, off-by-1000 micros) that these do.
    QueryDef("q_stream_session_window_gap5m",
      Some(sessionWindowGapSql(300000000L)))(
      (s, d) => EventStream.sessionWindowAgg(Tables(s, d, "events"),
        gap = "5 minutes")),

    QueryDef("q_stream_session_window_gap2h",
      Some(sessionWindowGapSql(7200000000L)))(
      (s, d) => EventStream.sessionWindowAgg(Tables(s, d, "events"),
        gap = "2 hours")),

    // ---- The REAL streaming native session_window aggregation
    // through the oracle gate: the shared staged fixture replays under
    // Trigger.AvailableNow, the watermarked MergingSessions operator
    // holds each user's open session in state and emits it in append
    // mode only once the watermark passes session end (last event +
    // gap) — the flush sentinels force that for every real session.
    // Same pushdown hazard as the window run: the sentinel user is
    // filtered AFTER the sink (an in-stream user_id predicate would
    // land below the watermark node and the clocks would never
    // ratchet it). Batch twin q_stream_session_window_batch gates the
    // EXACT same function; this entry gates the streaming state
    // machine itself — merge-on-arrival, eviction, append
    // finalization — against the same lag+cumsum SQL. ----
    QueryDef("q_stream_session_window_run", effectful = true,
      oracle = Some(sessionWindowSql))(
      (s, d) => fileSinkRun(s, d, "session_window_run", "session_window",
          s"sess:$d", sessConsumers, stageSessionFixture(s, d))(
        EventStream.sessionWindowAgg(_))(
        sink => sink
          .where(col("user_id") =!= -1L)
          .select(col("user_id"), col("session_start_us"),
            col("session_end_us"),
            col("n_events").cast("bigint").as("n_events"),
            col("total_value")))),

    // ---- CHAINED stateful operators under REAL duplicate delivery:
    // the fixture is staged with every row twice (the worst-case
    // at-least-once source), and ONE streaming query runs
    // dropDuplicatesWithinWatermark FEEDING the watermarked tumbling-
    // window aggregate — two state stores, one watermark, append mode.
    // The dedup emits each event exactly once into the agg, the agg
    // finalizes each (window, type) group once the watermark passes
    // the window end (sentinels + the no-data batch). A broken chain
    // shows as doubled counts (dedup lost) or missing windows (agg
    // never flushed); the oracle is the SAME windowSql as the
    // single-operator run — the at-least-once-to-exact-windows
    // pipeline contract in one DuckDB hash. ----
    QueryDef("q_stream_dedup_window_chain_run", effectful = true,
      oracle = Some(windowSql))(
      (s, d) => fileSinkRun(s, d, "dedup_window_chain_run", "chain",
          s"dedup:$d", dedupConsumers, stageDoubledFixture(s, d))(
        EventStream.dedupedWindowedAgg(_))(
        sink => sink
          .where(col("event_type") =!= "flush")
          .select(col("window_start_us"), col("event_type"),
            col("n_events").cast("bigint").as("n_events"),
            col("total_value")))),

    // ---- The stream-stream attribution join, oracled through its
    // BATCH rendering: q_stream_attribution_batch composes the EXACT
    // function the streaming path runs (EventStream.attribution — the
    // isStreaming fork only adds watermarks), so the DuckDB gate now
    // covers the interval-join semantics the stream executes. Batch
    // plan: equi join on user_id with the time predicates as residual —
    // a hash/merge join, never a time-cross-product (per-user event
    // counts bound the residual scan). ----
    QueryDef("q_stream_attribution_batch", Some(attributionSql))(
      (s, d) => {
        val ev = Tables(s, d, "events")
        EventStream.attribution(
          ev.where(col("event_type") === "signup"),
          ev.where(col("event_type") === "purchase"))
      }),

    // Left-outer variant: unconverted signups keep a null purchase row —
    // same shared function as the streaming outer join (which holds the
    // signup in bounded state until both watermarks pass its interval).
    QueryDef("q_stream_attribution_outer_batch", Some(attributionOuterSql))(
      (s, d) => {
        val ev = Tables(s, d, "events")
        EventStream.attributionOuter(
          ev.where(col("event_type") === "signup"),
          ev.where(col("event_type") === "purchase"))
      }),

    // ---- The REAL watermarked stream-stream interval join through
    // the oracle gate: signups and purchases are staged as two
    // separate range-partitioned file streams (strictly ascending
    // modtimes per side, so each side's micro-batches walk event time
    // monotonically), both sides carry watermarks, and the symmetric
    // hash join runs under Trigger.AvailableNow with two range-
    // disjoint files per trigger per source (the stream-stream join
    // materializes FOUR state stores per partition per batch, so batch
    // count is the dominant fixed cost — the round-13 streaming-floor
    // profile). The global watermark is the MIN across both
    // inputs (Spark's default multipleWatermarkPolicy), and each
    // side's files are range-disjoint in ts — so no arriving row is
    // ever behind the watermark (no late drops) and every buffered
    // signup stays in state until the purchase watermark provably
    // passes its 1-hour interval (state eviction = the condition-
    // derived state watermark, exercised for real by the sentinel
    // clocks). The parquet sink's rows must hash-equal the batch
    // interval-join SQL — DuckDB now checks the streaming join's
    // buffering, matching, AND eviction, not a batch re-expression. ----
    QueryDef("q_stream_attribution_run", effectful = true,
      oracle = Some(attributionSql))(
      (s, d) => attributionRun(s, d, "inner")),

    // ---- Same machinery, LEFT-OUTER: an unconverted signup's null
    // row is emitted only once BOTH watermarks pass the end of its
    // interval — which is exactly what the sentinel clock files force
    // (one clock per side at max(ts)+2h, a second at +4h so the
    // emission batch after the watermark advance always exists). The
    // clocks can never join (equal ts fails p.ts > s.ts; the +4h/+2h
    // cross misses the 1-hour bound) and their own null rows are
    // dropped by the sentinel-user filter. ----
    QueryDef("q_stream_attribution_outer_run", effectful = true,
      oracle = Some(attributionOuterSql))(
      (s, d) => attributionRun(s, d, "left_outer")),

    // ---- CHAINED join→agg batch rendering: hourly conversion rollup
    // over the interval join's output (count, total signup→purchase
    // delay, exact-cent revenue), the same shared function as the
    // streaming chain below. ----
    QueryDef("q_stream_attribution_window_batch",
      Some(attributionWindowSql))(
      (s, d) => {
        val ev = Tables(s, d, "events")
        EventStream.attributionWindowed(
          ev.where(col("event_type") === "signup"),
          ev.where(col("event_type") === "purchase"))
      }),

    // ---- CHAINED stateful operators, join flavor: ONE streaming
    // query runs the watermarked stream-stream interval join FEEDING
    // a tumbling-window aggregate on purchase time — the funnel
    // pipeline (conversions → hourly rollup) without an intermediate
    // sink. The join's two input watermarks propagate (as their min)
    // through the join into the aggregate, so a window finalizes only
    // once NO conversion with a purchase in it can still be produced
    // — buffering, matching, eviction AND window finalization in one
    // DuckDB hash. Same staged sides + clock sentinels as the other
    // attribution runs (the clocks can never join, so no sentinel
    // groups reach the aggregate). ----
    QueryDef("q_stream_attribution_window_run", effectful = true,
      oracle = Some(attributionWindowSql))(
      (s, d) => graft.ops.FrameCache.memo(s,
          s"stream:attribution_window_run:${layout(s)}:$d") {
        import java.nio.file.Files
        import org.apache.spark.sql.streaming.Trigger
        withSharedStaging(s, s"attr:$d", "window_chain", attrConsumers)(
            stageAttrFixture(s, d)) { staged =>
          val tmp = Files.createTempDirectory("graft_attrwin_run_").toString
          def side(name: String): DataFrame = EventStream
            .readEvents(s, s"$staged/$name", Map("maxFilesPerTrigger" -> "2"))
          withStatePartitions(s) {
            val q = EventStream
              .attributionWindowed(side("signups"), side("purchases"))
              .writeStream
              .format("parquet").option("path", s"$tmp/out")
              .option("checkpointLocation", s"$tmp/ckpt")
              .trigger(Trigger.AvailableNow()).start()
            assert(q.awaitTermination(300000),
              "attribution window chain stream did not finish")
          }
          val out = s.read.parquet(s"$tmp/out")
            .select(col("window_start_us"),
              col("n_conversions").cast("bigint").as("n_conversions"),
              col("sum_delay_us").cast("bigint").as("sum_delay_us"),
              col("sum_cents").cast("bigint").as("sum_cents"))
            .localCheckpoint(true)
          deleteRecursively(tmp)
          out
        }
      }),

    // ---- LEFT-SEMI batch rendering: converted signups — existence,
    // not pairing (multi-purchase signups emit once). Same shared
    // function as the streaming run below. ----
    QueryDef("q_stream_attribution_semi_batch", Some(attributionSemiSql))(
      (s, d) => {
        val ev = Tables(s, d, "events")
        EventStream.attributionSemi(
          ev.where(col("event_type") === "signup"),
          ev.where(col("event_type") === "purchase"))
      }),

    // ---- The REAL left-semi stream-stream interval join: a signup
    // emits AT MOST ONCE, as soon as its first in-window purchase
    // arrives (Spark then drops it from join state — semi state is
    // strictly smaller than inner-join state, the scale argument for
    // existence-only feeds); unmatched signups evict silently when
    // both watermarks pass their interval. Same staged sides and
    // clock sentinels as the inner/outer runs — one staging serves
    // all three variants. The DuckDB EXISTS oracle fails on a double
    // emission (a multi-purchase signup) or a lost conversion. ----
    QueryDef("q_stream_attribution_semi_run", effectful = true,
      oracle = Some(attributionSemiSql))(
      (s, d) => attributionRun(s, d, "left_semi")),

    // ---- The REAL streaming sessionizer through the oracle gate: the
    // fixture is staged as a file-source directory, the
    // flatMapGroupsWithState query runs under Trigger.AvailableNow with
    // maxFilesPerTrigger=2 (the files are range-disjoint in ts, so a
    // two-file micro-batch still ratchets the watermark monotonically
    // exactly as a live stream's would, at half the per-batch
    // state-commit/bookkeeping overhead — the round-13 streaming-floor
    // profile), and two later-modtime sentinel files advance the
    // watermark past every real session's idle gap — the same
    // two-step flush the StreamingSpec restart tests use. The parquet
    // sink's rows, minus the sentinel user, must equal the lag+cumsum
    // SQL — i.e. DuckDB now checks the state machine itself, timers,
    // eviction and all, not a batch re-expression of it.
    //
    // `effectful`: plan sweeps skip this (the run IS the plan);
    // the streaming plan itself is linted in PlanGuardSpec's
    // dedicated streaming-plan test. The run is memoized per
    // (session, dir) via FrameCache — Verify's oracle pass and any
    // repeated invocation pay it once — and the staging dir is
    // deleted as soon as the (small: one row per session) output is
    // pinned via localCheckpoint. File order is contractual, not
    // lucky: the staged files are RANGE-PARTITIONED on ts with
    // strictly ascending modtimes, so FileStreamSource's
    // modtime-ordered delivery ratchets the watermark monotonically
    // no matter how listing breaks ties. ----
    QueryDef("q_stream_sessionize_run", effectful = true, oracle = Some(
      sessionizeRunSql))(
      (s, d) => sessionizeRun(s, d, "fmgws")(EventStream.sessionize(_))),

    // ---- The SAME run, on Spark 4's transformWithState sessionizer
    // (StatefulProcessor + typed ValueState + first-class event-time
    // timers — the successor API to flatMapGroupsWithState): identical
    // staging, identical oracle, so DuckDB pins that BOTH state-machine
    // surfaces implement the same session algebra (StreamingSpec pins
    // them against each other; this pins each against the SQL). ----
    QueryDef("q_stream_sessionize_tws_run", effectful = true, oracle = Some(
      sessionizeRunSql))(
      (s, d) => sessionizeRun(s, d, "tws")(EventStream.sessionizeTws(_))),

    // ---- The REAL streaming tumbling-window aggregation through the
    // oracle gate (the windowed agg was previously gated only as its
    // batch rendering): the shared staged fixture replays under
    // Trigger.AvailableNow, the watermarked window-agg holds each
    // (window, type) group in state and emits it in append mode only
    // once the watermark passes the window end — the flush sentinels
    // force that for the final hour, and the no-data batch drains the
    // rest. Sentinel groups (event_type 'flush') are filtered AFTER
    // the aggregate so the sentinels' event time still ratchets the
    // watermark. DuckDB now hashes the state machine's actual
    // emissions — late-binding, eviction, finalization — against the
    // same SQL as the batch twin. ----
    QueryDef("q_stream_window_run", effectful = true,
      oracle = Some(windowSql))(
      (s, d) => fileSinkRun(s, d, "window_run", "window", s"sess:$d",
          sessConsumers, stageSessionFixture(s, d))(
        // NO in-stream sentinel filter: a predicate on the group key
        // pushes through the aggregate AND the watermark node down to
        // the scan, silently removing the flush sentinels before they
        // can ratchet the watermark (measured: the final window per
        // type never flushed) — fileSinkRun drops sentinel groups
        // AFTER the sink instead, like every other run
        stream => EventStream.windowedAgg(stream)
          .drop("approx_users"))( // sketch values are engine-specific
        sink => sink
          .where(col("event_type") =!= "flush")
          .select(col("window_start_us"), col("event_type"),
            col("n_events").cast("bigint").as("n_events"),
            col("total_value")))),

    // ---- Bounded-state keyed dedup under REAL duplicate delivery:
    // the fixture is staged with EVERY ROW TWICE (the worst-case
    // at-least-once source, both copies inside the duplicate's
    // watermark horizon since they share a ts), and
    // dropDuplicatesWithinWatermark must emit each event exactly once
    // while the watermark evicts old keys behind it. A missing or
    // broken dedup doubles every row and fails the DuckDB hash; the
    // oracle is the PLAIN events projection (event_id is unique in
    // the fixture — pinned by the constraint suite). ----
    QueryDef("q_stream_dedupe_run", effectful = true, oracle = Some(
      """SELECT event_id, user_id, event_type,
        |  CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |FROM events""".stripMargin))(
      (s, d) => fileSinkRun(s, d, "dedupe_run", "dedupe", s"dedup:$d",
          dedupConsumers, stageDoubledFixture(s, d))(
        stream => EventStream.dedupeWithinWatermark(stream)
          .select(col("event_id"), col("user_id"), col("event_type"),
            floor(col("value") * 100 + 0.5).cast("bigint").as("cents")))(
        _.where(col("event_type") =!= "flush"))),

    // ---- The update-mode transitions processor through the oracle
    // gate: one Transition row per input event, emitted EXACTLY ONCE
    // with the per-user previous type carried across micro-batches in
    // ValueState. Update-mode output cannot land in a file sink, so
    // the emissions flow through ExactlyOnceBatchSink's foreachBatch
    // (the same commit protocol the CDC run proves); aggregating them
    // by (prev, next) must reproduce the batch Markov matrix — a
    // double emission, a lost carry, or cross-batch misordering each
    // breaks the count or the '<start>' rows. Shares the staged
    // fixture; the sentinel user's transitions are dropped. ----
    QueryDef("q_stream_transitions_run", effectful = true, oracle = Some(
      QueryDef.requireOracle(EventAnalyticsQueries.defs,
        "q_events_transitions", "q_stream_transitions_run")))(
      (s, d) => graft.ops.FrameCache.memo(s,
          s"stream:transitions_run:${layout(s)}:$d") {
        import java.nio.file.Files
        import org.apache.spark.sql.streaming.Trigger
        import graft.streaming.ExactlyOnceBatchSink
        import s.implicits._
        withSharedStaging(s, s"sess:$d", "transitions", sessConsumers)(
            stageSessionFixture(s, d)) { staged =>
          val tmp = Files.createTempDirectory("graft_trans_run_").toString
          val events = EventStream
            .readEvents(s, s"$staged/in", Map("maxFilesPerTrigger" -> "2"))
            .selectExpr("event_id", "ts", "user_id", "event_type", "value")
            .as[EventStream.Event]
          val sink = ExactlyOnceBatchSink(s"$tmp/out", s"$tmp/markers")
          withStatePartitions(s) {
            val q = EventStream.transitions(events).toDF().writeStream
              .outputMode("update")
              .foreachBatch(sink.foreachBatchFn)
              .option("checkpointLocation", s"$tmp/ckpt")
              .trigger(Trigger.AvailableNow()).start()
            assert(q.awaitTermination(300000),
              "transitions stream did not finish")
          }
          val out = sink.read(s)
            .where(col("user_id") =!= -1L) // the flush sentinels' own rows
            .groupBy(col("prev_type"), col("next_type"))
            .agg(count(lit(1)).as("n_transitions"),
              countDistinct(col("user_id")).as("n_users"))
            .localCheckpoint(true)
          deleteRecursively(tmp)
          out
        }
      }),

    // ---- The MapState machine (per-user running top-k event types)
    // through the oracle gate: every batch a user appears in re-emits
    // their CURRENT top-k (update mode), so the machine's final answer
    // is the latest emission per user — selected as max(batch) per
    // user from the committed batch dirs. Counts fold across batches
    // in O(|distinct types|) state per user; the deterministic
    // (count desc, type asc) tiebreak is what lets one SQL pin both
    // engines. ----
    QueryDef("q_stream_topk_run", effectful = true, oracle = Some(
      """WITH c AS (SELECT user_id, event_type, count(*) AS n
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, event_type, CAST(n AS BIGINT) AS n,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY n DESC, event_type) AS rnk
        |      FROM c)
        |SELECT user_id, event_type, n, CAST(rnk AS INT) AS rnk
        |FROM r WHERE rnk <= 3""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s,
          s"stream:topk_run:${layout(s)}:$d") {
        updateModeRun(s, d, "topk")(EventStream.topKEventTypes(_)) { em =>
          em.select(col("user_id"), col("event_type"), col("n"),
            col("rnk"))
        }
      }),

    // ---- The ListState machine (per-user last-5 amounts ring buffer)
    // through the oracle gate: state is AT MOST n cents values per
    // user however long the stream; each batch re-emits the user's
    // current window size and sum, so the final answer is again the
    // latest emission per user. Order ACROSS batches matters here
    // (unlike top-k counts): the staged ranges + per-batch
    // (event-time, event_id) sort must walk each user's history in
    // exactly the order the oracle's DESC row_number assumes. ----
    QueryDef("q_stream_recent_run", effectful = true, oracle = Some(
      """WITH s AS (SELECT user_id,
        |    CAST(floor(value*100 + 0.5) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS INT) AS n_kept,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s WHERE rn <= 5 GROUP BY user_id""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s,
          s"stream:recent_run:${layout(s)}:$d") {
        updateModeRun(s, d, "recent")(EventStream.recentAmounts(_)) { em =>
          em.select(col("user_id"), col("n_kept"), col("sum_cents"))
        }
      }),

    // ---- Temporal stream-static enrichment through the oracle gate
    // (the streaming twin of the batch point-in-time join,
    // q_scd2_pit): each streamed event must resolve the dimension
    // VERSION valid at ITS OWN event time. The dim is two versions
    // per even-keyed user split at the fixture's time midpoint
    // ('bronze' closes at the cut, 'silver' opens there; odd users
    // have no dim row at all — the left-outer lane), so the correct
    // enrichment is statable in closed form and one SQL pins the
    // interval-join semantics. Stateless per batch (the static side
    // re-plans and broadcasts each micro-batch) — no watermark, no
    // sentinels needed; the staged flush rows resolve to null and
    // are dropped with the sentinel user. ----
    QueryDef("q_stream_enrich_run", effectful = true, oracle = Some(
      """WITH cut AS (
        |  SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS c
        |  FROM events)
        |SELECT e.event_id, e.user_id,
        |  CASE WHEN e.user_id % 2 = 1 THEN NULL
        |       WHEN epoch_us(e.ts) < (SELECT c FROM cut) THEN 'bronze'
        |       ELSE 'silver' END AS tier
        |FROM events e""".stripMargin))(
      (s, d) => fileSinkRun(s, d, "enrich_run", "enrich", s"sess:$d",
          sessConsumers, stageSessionFixture(s, d))(
        stream => {
          // dim derivation stays INSIDE the build closure so it runs
          // only on memo miss (an agg + distinct job per rebuild, not
          // per serve)
          val ev = Tables(s, d, "events")
          val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
            max(unix_micros(col("ts"))).as("hi")).head
          val cut = (b.getLong(0) + b.getLong(1)) / 2
          val users = ev.select(col("user_id").as("key")).distinct()
            .where(pmod(col("key"), lit(2L)) === 0)
          val dim = users.select(col("key"), lit("bronze").as("tier"),
              lit(0L).as("valid_from_us"), lit(cut).as("valid_to_us"))
            .unionByName(users.select(col("key"), lit("silver").as("tier"),
              lit(cut).as("valid_from_us"),
              lit(null).cast("bigint").as("valid_to_us")))
          EventStream.enrichTemporal(stream, dim)
            .select(col("event_id"), col("e.user_id").as("user_id"),
              col("tier"))
        })(
        _.where(col("user_id") =!= -1L))),

    // ---- Kafka-shaped keyed-log ledger contract (graft.sources
    // .KeyedLog): events append to a partitioned offset-ordered log in
    // two batches; the consumer seeks to the end offsets committed
    // after batch 1 and replays. If offset assignment is dense,
    // deterministic, and continuing across appends, the replay is
    // EXACTLY batch 2 — which the oracle states independently of any
    // hash/partition detail (those are Spark-side internals the ledger
    // must make invisible). A dupe, gap, or non-monotonic offset makes
    // the two formulations diverge. ----
    QueryDef("q_keyedlog_replay", effectful = true, oracle = Some(
      """SELECT event_id, user_id, event_type
        |FROM events WHERE event_id % 3 = 0""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"stream:keyedlog_replay:${layout(s)}:$d") {
        import graft.sources.KeyedLog
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_klog_").toString
        val dir = s"$tmp/log"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
        KeyedLog.append(ev.where(col("event_id") % 3 =!= 0), dir,
          "user_id", 4, Seq(col("event_id")))
        val committed = KeyedLog.endOffsets(s, dir, ev.schema, 4)
        KeyedLog.append(ev.where(col("event_id") % 3 === 0), dir,
          "user_id", 4, Seq(col("event_id")))
        val out = KeyedLog.readBatch(s, dir, committed)
          .select(col("event_id"), col("user_id"), col("event_type"))
          .localCheckpoint(true)
        deleteRecursively(tmp)
        out
      }),

    // ---- The REAL streaming CDC apply through the oracle gate: the
    // last-writer-wins changelog (the exact cdcLog frame the batch
    // q_migrate_cdc_apply folds) is staged as seq-range files and
    // replayed file-by-file through CdcStream's transformWithState
    // state machine (RocksDB ValueState, one record per key), with the
    // emissions landing through ExactlyOnceBatchSink's foreachBatch —
    // the production shape of "bulk copy done, now keep the target
    // current". The committed batches reduce to the final snapshot
    // (max-seq per key, tombstones dropped), which must hash-equal the
    // batch LWW SQL — so DuckDB now checks the streaming state
    // machine AND the commit protocol, not a batch re-expression.
    // Before reading, the last committed batch is RE-DELIVERED to the
    // sink (the crash-in-the-write→checkpoint-window replay): the
    // marker must make it a no-op or the snapshot double-counts. ----
    QueryDef("q_stream_cdc_run", effectful = true, oracle = Some(
      QueryDef.requireOracle(MigrationQueries.defs, "q_migrate_cdc_apply",
        "q_stream_cdc_run")))(
      (s, d) => graft.ops.FrameCache.memo(s, s"stream:cdc_run:${layout(s)}:$d") {
        import org.apache.spark.sql.streaming.Trigger
        import graft.streaming.{CdcStream, ExactlyOnceBatchSink}
        import s.implicits._
        withSharedStaging(s, s"cdc:$d", "apply", cdcConsumers)(
            stageCdcFixture(s, d)) { staged =>
          val tmp = java.nio.file.Files
            .createTempDirectory("graft_cdc_run_").toString
          val stream = s.readStream
            .schema(MigrationQueries.cdcLog(s, d).schema)
            .option("maxFilesPerTrigger", "2").parquet(s"$staged/in")
            .as[CdcStream.CdcRecord]
          val sink = ExactlyOnceBatchSink(s"$tmp/out", s"$tmp/markers")
          // changelog checkpointing ON: state commits persist the
          // batch delta, not a full RocksDB snapshot — the 100 TB
          // recovery-cost knob, gated by the same DuckDB SQL that
          // gated the full-snapshot runs (measured in SCALING.md)
          withStatePartitions(s) {
            CdcStream.withChangelogCheckpointing(s) {
              val q = CdcStream(stream).toDF().writeStream
                .outputMode("update")
                .foreachBatch(sink.foreachBatchFn)
                .option("checkpointLocation", s"$tmp/ckpt")
                .trigger(Trigger.AvailableNow()).start()
              assert(q.awaitTermination(300000), "cdc stream did not finish")
            }
          }
          val last = sink.committedBatches(s).last
          assert(!sink.writeBatch(s.read.parquet(sink.batchDir(last)), last),
            "already-committed batch was re-written — exactly-once broken")
          val emitted = sink.read(s)
          val latest = emitted.groupBy(col("k")).agg(max(col("seq")).as("mseq"))
            .withColumnRenamed("k", "lk")
          val out = emitted.join(latest.hint("shuffle_hash"),
              col("k") === col("lk") && col("seq") === col("mseq"))
            .where(col("op") =!= "D")
            .select(col("k").as("o_orderkey"), col("op").as("last_op"),
              col("status"), col("cents"),
              col("seq").cast("bigint").as("version"))
            .localCheckpoint(true)
          deleteRecursively(tmp)
          out
        }
      }),

    // ---- Streaming SCD2 history maintenance through the oracle gate:
    // the SAME staged changelog replays through CdcHistoryProcessor,
    // whose ValueState (one record per key — the apply machine's exact
    // bound) closes the previous version and opens the new one as each
    // record arrives. Update-mode emissions flow through the
    // exactly-once sink; the latest emission per (k, valid_from) IS
    // the finished history (an open version emitted in batch i is
    // re-emitted closed when its successor arrives, and the later
    // batch wins), which must hash-equal the batch lead()-window
    // build's SQL — DuckDB gates the incremental version algebra
    // itself: closing, reopening after deletes, and is_current. ----
    QueryDef("q_stream_cdc_history_run", effectful = true, oracle = Some(
      QueryDef.requireOracle(MigrationQueries.defs, "q_migrate_cdc_history",
        "q_stream_cdc_history_run")))(
      (s, d) => graft.ops.FrameCache.memo(s,
          s"stream:cdc_history_run:${layout(s)}:$d") {
        import org.apache.spark.sql.streaming.Trigger
        import graft.streaming.{CdcStream, ExactlyOnceBatchSink}
        import s.implicits._
        withSharedStaging(s, s"cdc:$d", "history", cdcConsumers)(
            stageCdcFixture(s, d)) { staged =>
          val tmp = java.nio.file.Files
            .createTempDirectory("graft_cdc_hist_run_").toString
          val stream = s.readStream
            .schema(MigrationQueries.cdcLog(s, d).schema)
            .option("maxFilesPerTrigger", "2").parquet(s"$staged/in")
            .as[CdcStream.CdcRecord]
          val sink = ExactlyOnceBatchSink(s"$tmp/out", s"$tmp/markers")
          // changelog checkpointing ON, same rationale as the apply run
          withStatePartitions(s) {
            CdcStream.withChangelogCheckpointing(s) {
              val q = CdcStream.history(stream).toDF().writeStream
                .outputMode("update")
                .foreachBatch(sink.foreachBatchFn)
                .option("checkpointLocation", s"$tmp/ckpt")
                .trigger(Trigger.AvailableNow()).start()
              assert(q.awaitTermination(300000),
                "cdc history stream did not finish")
            }
          }
          val emitted = sink.readKeepingBatch(s)
          val latest = emitted
            .groupBy(col("k").as("lk"), col("valid_from").as("lf"))
            .agg(max(col("batch")).as("lb"))
          val out = emitted.join(latest.hint("shuffle_hash"),
              col("k") === col("lk") && col("valid_from") === col("lf") &&
                col("batch") === col("lb"))
            .select(col("k").as("o_orderkey"), col("status"), col("cents"),
              col("valid_from").cast("bigint").as("valid_from_version"),
              col("valid_to").cast("bigint").as("valid_to_version"),
              col("is_current"))
            .localCheckpoint(true)
          deleteRecursively(tmp)
          out
        }
      }),

    // ---- Exactly-once storage under crash-amnesia replay: a
    // stateless purchase projection streams file-by-file through the
    // foreachBatch sink, then the ENTIRE stream runs AGAIN from a
    // FRESH streaming checkpoint — the worst-case at-least-once
    // delivery, every batch re-delivered. stageRanged's deterministic
    // modtime order makes the second run's micro-batches bit-identical
    // to the first's, so every one must hit its marker and skip; a
    // sink without the marker protocol would exactly double the
    // output and fail the DuckDB hash. ----
    QueryDef("q_stream_exactly_once_run", effectful = true, oracle = Some(
      """SELECT event_id, user_id,
        |  CAST(floor(value*100 + 0.5) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'purchase'""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"stream:exactly_once_run:${layout(s)}:$d") {
        import org.apache.spark.sql.streaming.Trigger
        import graft.streaming.ExactlyOnceBatchSink
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_eos_run_").toString
        val inDir = s"$tmp/in"
        stageRanged(Tables(s, d, "events")
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"), col("props")),
          inDir, 4, col("ts"))
        val sink = ExactlyOnceBatchSink(s"$tmp/out", s"$tmp/markers")
        def runOnce(ckpt: String): Unit = {
          val q = EventStream
            .readEvents(s, inDir, Map("maxFilesPerTrigger" -> "2"))
            .where(col("event_type") === "purchase")
            .select(col("event_id"), col("user_id"),
              floor(col("value") * 100 + 0.5).cast("bigint").as("cents"))
            .writeStream
            .foreachBatch(sink.foreachBatchFn)
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(300000), "exactly-once stream did not finish")
        }
        runOnce(s"$tmp/ckpt1")
        val committed = sink.committedBatches(s)
        runOnce(s"$tmp/ckpt2") // full replay: every batch must skip
        assert(sink.committedBatches(s) == committed,
          "replay committed new batches — exactly-once broken")
        val out = sink.read(s).localCheckpoint(true)
        deleteRecursively(tmp)
        out
      })
  )

  /** The tumbling-window oracle (epoch-floor window starts, decimal-
    * exact totals), shared verbatim by the batch rendering AND the
    * real streaming run. */
  // lazy: referenced by `defs` above during object init
  private lazy val windowSql: String =
    """SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS window_start_us,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** The interval-join oracle, shared verbatim by the batch rendering
    * AND the real streaming run so both surfaces are pinned to one SQL
    * truth. */
  // lazy: referenced by `defs` above during object init
  private lazy val attributionSql: String =
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      |  s.user_id AS user_id,
      |  epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = s.user_id
      | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR""".stripMargin

  /** Left-outer twin of [[attributionSql]] (unconverted signups keep a
    * null purchase row). */
  private lazy val attributionOuterSql: String =
    """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
      |  s.user_id AS user_id,
      |  epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
      |FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = s.user_id
      | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR""".stripMargin

  /** The chained join→window oracle: hourly rollup (by purchase time)
    * of the interval join's conversions — count, total delay, exact
    * cents. Shared by the batch rendering and the real chained run. */
  private lazy val attributionWindowSql: String =
    """WITH conv AS (
      |  SELECT p.ts AS pts,
      |    epoch_us(p.ts) - epoch_us(s.ts) AS delay_us,
      |    CAST(floor(p.value*100 + 0.5) AS BIGINT) AS cents
      |  FROM (SELECT * FROM events WHERE event_type = 'signup') s
      |  JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |    ON p.user_id = s.user_id
      |   AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR)
      |SELECT epoch_us(pts) - epoch_us(pts) % 3600000000 AS window_start_us,
      |  count(*) AS n_conversions,
      |  CAST(sum(delay_us) AS BIGINT) AS sum_delay_us,
      |  CAST(sum(cents) AS BIGINT) AS sum_cents
      |FROM conv GROUP BY 1""".stripMargin

  /** Left-semi twin of [[attributionSql]] (converted signups — one
    * row per signup with at least one in-window purchase, no purchase
    * columns), shared by the batch rendering and the real run. */
  private lazy val attributionSemiSql: String =
    """SELECT s.event_id AS signup_id, s.user_id AS user_id,
      |  epoch_us(s.ts) AS signup_us
      |FROM events s
      |WHERE s.event_type = 'signup'
      |  AND EXISTS (SELECT 1 FROM events p
      |              WHERE p.event_type = 'purchase'
      |                AND p.user_id = s.user_id
      |                AND p.ts > s.ts
      |                AND p.ts <= s.ts + INTERVAL 1 HOUR)""".stripMargin

  /** The gap-sessionization oracle (lag + cumsum session ids, 30-min
    * idle gap, cent-exact totals) — shared verbatim by BOTH streaming
    * sessionizer runs so the two state-machine APIs are pinned to one
    * SQL truth. */
  // lazy: referenced by `defs` above during object init (declaration
  // order would otherwise hand the QueryDef a null oracle)
  private lazy val sessionizeRunSql: String =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events),
      |g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
      |                       OR tus - lag(tus) OVER w > 1800000000
      |                     THEN 1 ELSE 0 END AS new_s
      |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
      |SELECT user_id, min(tus) AS session_start_us,
      |  max(tus) AS session_end_us, count(*) AS n_events,
      |  sum(floor(value*100 + 0.5))/100.0 AS total_value
      |FROM s GROUP BY user_id, session_id""".stripMargin

  /** The sliding-window oracle (1 h / 15 min): every event joins the
    * 4 window starts covering it — the cross is bounded by len/slide,
    * never by data. Shared by the batch rendering AND the real run. */
  // lazy: referenced by `defs` above during object init
  private lazy val slidingWindowSql: String =
    """WITH e AS (SELECT epoch_us(ts) AS tus, event_type, value FROM events),
      |w AS (SELECT tus - tus % 900000000 - k * 900000000 AS wstart,
      |             event_type, value
      |      FROM e CROSS JOIN (SELECT unnest(range(4)) AS k)
      |      WHERE tus - tus % 900000000 - k * 900000000 > tus - 3600000000)
      |SELECT wstart AS window_start_us, event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM w GROUP BY 1, 2""".stripMargin

  /** [[sessionWindowSql]] for an arbitrary gap (micros) — the gap
    * parameter's DuckDB twin. */
  private def sessionWindowGapSql(gapUs: Long): String =
    s"""WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_id, value FROM events),
       |g AS (SELECT *, CASE WHEN lag(tus) OVER w IS NULL
       |                       OR tus - lag(tus) OVER w > $gapUs
       |                     THEN 1 ELSE 0 END AS new_s
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
       |s AS (SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
       |                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM g)
       |SELECT user_id, min(tus) AS session_start_us,
       |  max(tus) + $gapUs AS session_end_us, count(*) AS n_events,
       |  sum(floor(value*100 + 0.5))/100.0 AS total_value
       |FROM s GROUP BY user_id, session_id""".stripMargin

  /** The native-session-window oracle at the 30-min default: the SAME
    * text as [[sessionWindowGapSql]] (one SQL truth with the gap5m/
    * gap2h twins — a future algebra edit cannot silently diverge),
    * shared verbatim by the batch rendering AND the real run so the
    * MergingSessions operator is pinned on both surfaces. */
  // lazy: referenced by `defs` above during object init
  private lazy val sessionWindowSql: String =
    sessionWindowGapSql(1800000000L)

  /** The shared skeleton of every parquet-sink streaming run: memoize
    * per (session, layout, dir), read the shared staged fixture as a
    * two-files-per-trigger file stream, run `build`'s query under
    * Trigger.AvailableNow at fixture-sized state parallelism, then
    * `post`-process the sink (sentinel filtering stays POST-SINK here
    * — an in-stream predicate on a group key pushes below the
    * watermark node and silently defeats the flush clocks, measured on
    * the window run) and pin the rows so the run dirs can go. One
    * place for the run contract instead of a copy per entry. */
  private def fileSinkRun(s: org.apache.spark.sql.SparkSession, d: String,
      memoName: String, variant: String, stagingKey: String,
      consumers: Set[String], stager: String => Unit)(
      build: DataFrame => DataFrame)(
      post: DataFrame => DataFrame): DataFrame =
    graft.ops.FrameCache.memo(s, s"stream:$memoName:${layout(s)}:$d") {
      import org.apache.spark.sql.streaming.Trigger
      withSharedStaging(s, stagingKey, variant, consumers)(stager) { staged =>
        val tmp = java.nio.file.Files
          .createTempDirectory(s"graft_${memoName}_").toString
        val stream = EventStream.readEvents(s, s"$staged/in",
          Map("maxFilesPerTrigger" -> "2"))
        withStatePartitions(s) {
          val q = build(stream).writeStream
            .format("parquet").option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(300000),
            s"$memoName stream did not finish")
        }
        val out = post(s.read.parquet(s"$tmp/out")).localCheckpoint(true)
        deleteRecursively(tmp)
        out
      }
    }

  /** The session's shuffle-partition layout — carried in every
    * streaming memo key (same contract as the GraphQueries/
    * DedupQueries keys): a layout change must rebuild, not serve the
    * first layout's cached frame. */
  private def layout(s: org.apache.spark.sql.SparkSession): String =
    s.conf.get("spark.sql.shuffle.partitions")

  /** Fixture stagings shared across catalog entries: one staged copy
    * per (session, staging key), built on first use and deleted once
    * every variant in the consumer set has run over it — staging a
    * stream fixture costs a range shuffle + write (~the cost of one
    * micro-batch round at fixture scale), so entries that read the
    * SAME staged bytes (the two sessionizer APIs; the inner and outer
    * interval joins) must not pay it twice. A partially-consumed
    * staging (single-entry bench runs) is reaped at JVM exit. */
  private final class Staging(val dir: String) {
    val used = scala.collection.mutable.Set.empty[String]
    @volatile var ready = false
  }
  private val stagings = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.SparkSession, String), Staging]
  private val stagingListened =
    scala.collection.mutable.Set.empty[org.apache.spark.sql.SparkSession]
  private lazy val exitSweep: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      stagings.synchronized {
        stagings.values.foreach(st => deleteRecursively(st.dir))
        stagings.clear()
      }))

  /** Reap a stopped session's stagings (and the session reference
    * itself) instead of letting partially-consumed dirs linger to JVM
    * exit — the same application-end listener FrameCache registers. */
  private def registerStagingCleanup(
      s: org.apache.spark.sql.SparkSession): Unit =
    stagings.synchronized {
      if (stagingListened.add(s)) {
        s.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler
                  .SparkListenerApplicationEnd): Unit =
              stagings.synchronized {
                val dead = stagings.keys.filter(_._1 eq s).toSeq
                dead.foreach { k =>
                  stagings.remove(k).foreach(st => deleteRecursively(st.dir))
                }
                stagingListened.remove(s); ()
              }
          })
      }
    }

  /** Consumers of the shared events-fixture staging (range files +
    * flush sentinels): the two sessionizer state machines, the
    * windowed-agg and native session_window runs, the three
    * update-mode machines, and the temporal enrichment all read the
    * same staged bytes — the staging is deleted once all have run. */
  private val sessConsumers =
    Set("fmgws", "tws", "window", "sliding", "session_window",
      "transitions", "topk", "recent", "enrich")

  /** Consumers of the shared DOUBLED events staging (every row twice —
    * the worst-case at-least-once source): the bounded dedup run and
    * the chained dedup→window run read the same staged bytes. */
  private val dedupConsumers = Set("dedupe", "chain")

  /** Consumers of the shared seq-major CDC changelog staging: the LWW
    * apply run and the SCD2 history run replay the same staged log. */
  private val cdcConsumers = Set("apply", "history")

  /** Consumers of the shared two-sided attribution staging: the
    * inner/outer/semi interval joins and the join→agg chain all read
    * the same staged signup/purchase sides. */
  private val attrConsumers =
    Set("inner", "left_outer", "left_semi", "window_chain")

  /** Stage the two-sided attribution fixture (signups and purchases as
    * separate range-partitioned file streams under `t/signups` and
    * `t/purchases`), with per-side clock sentinels: each side's
    * watermark must advance past every real interval (outer-join null
    * rows need min(watermarks) past signup.ts + 1h + delay; inner-join
    * state eviction and the chained window's finalization need the
    * same bound). */
  private def stageAttrFixture(s: org.apache.spark.sql.SparkSession,
      d: String)(t: String): Unit = {
    val ev = Tables(s, d, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    Seq("signup" -> "signups", "purchase" -> "purchases").foreach {
      case (etype, name) =>
        val dir = s"$t/$name"
        stageRanged(ev.where(col("event_type") === etype), dir, 4,
          col("ts"))
        stageSentinels(s, dir, maxTs, etype)
    }
  }

  /** Stage the modeled CDC changelog under `t/in`, seq-major ranges
    * sub-ordered by key: inserts arrive before their updates — the
    * live ordering both CDC machines contractually consume. */
  private def stageCdcFixture(s: org.apache.spark.sql.SparkSession,
      d: String)(t: String): Unit =
    stageRanged(MigrationQueries.cdcLog(s, d), s"$t/in", 4,
      col("seq"), col("k"))

  /** Stage the events fixture DOUBLED under `t/in` (both copies of a
    * row share a ts, so range staging lands them in the same file —
    * in-horizon duplicates, the case dropDuplicatesWithinWatermark
    * exists for; a copy delivered after the watermark passed would be
    * dropped as late, not deduped), plus the flush sentinels. */
  private def stageDoubledFixture(s: org.apache.spark.sql.SparkSession,
      d: String)(t: String): Unit = {
    val inDir = s"$t/in"
    val ev = Tables(s, d, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    stageRanged(ev.union(ev), inDir, 4, col("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    stageSentinels(s, inDir, maxTs, "flush")
  }

  /** Run an update-mode transformWithState machine over the shared
    * staged fixture through the exactly-once foreachBatch sink and
    * return the machine's FINAL answer: update mode re-emits a
    * touched key's current state every batch, so the answer is the
    * latest emission per user — max committed batch id per user,
    * sentinel user dropped. Callers project the machine-specific
    * columns. */
  private def updateModeRun[T](s: org.apache.spark.sql.SparkSession,
      d: String, variant: String)(
      machine: org.apache.spark.sql.Dataset[EventStream.Event] =>
        org.apache.spark.sql.Dataset[T])(
      project: DataFrame => DataFrame): DataFrame =
    withSharedStaging(s, s"sess:$d", variant, sessConsumers)(
        stageSessionFixture(s, d)) { staged =>
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      import graft.streaming.ExactlyOnceBatchSink
      import s.implicits._
      val tmp = Files.createTempDirectory(s"graft_${variant}_run_").toString
      val events = EventStream
        .readEvents(s, s"$staged/in", Map("maxFilesPerTrigger" -> "2"))
        .selectExpr("event_id", "ts", "user_id", "event_type", "value")
        .as[EventStream.Event]
      val sink = ExactlyOnceBatchSink(s"$tmp/out", s"$tmp/markers")
      withStatePartitions(s) {
        val q = machine(events).toDF().writeStream
          .outputMode("update")
          .foreachBatch(sink.foreachBatchFn)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(300000), s"$variant stream did not finish")
      }
      val em = sink.readKeepingBatch(s).where(col("user_id") =!= -1L)
      val last = em.groupBy(col("user_id").as("lu"))
        .agg(max(col("batch")).as("lb"))
      val out = project(
          em.join(broadcast(last),
            col("user_id") === col("lu") && col("batch") === col("lb")))
        .localCheckpoint(true)
      deleteRecursively(tmp)
      out
    }

  /** Stage the events fixture for the [[sessConsumers]] runs under
    * `t/in`: range-partitioned on ts (file i holds a time range
    * strictly before file i+1's, so modtime-ordered micro-batches
    * never present a row behind the ratcheting watermark — the files'
    * relative order is forced by stageRanged; equal-modtime listing
    * ties are not contractual in FileStreamSource), plus two
    * watermark-flush sentinels (the first advances the watermark past
    * every real session/window's horizon; the second makes the timers
    * set before it fire). */
  private def stageSessionFixture(s: org.apache.spark.sql.SparkSession,
      d: String)(t: String): Unit = {
    val inDir = s"$t/in"
    val ev = Tables(s, d, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
    stageRanged(ev, inDir, 4, col("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0)
    stageSentinels(s, inDir, maxTs, "flush")
  }

  private def withSharedStaging(s: org.apache.spark.sql.SparkSession,
      stagingKey: String, variant: String, allVariants: Set[String])(
      stage: String => Unit)(run: String => DataFrame): DataFrame = {
    val key = (s, stagingKey)
    registerStagingCleanup(s)
    // insert the holder under the map lock, but run the staging Spark
    // jobs (range shuffle + write + agg) OUTSIDE it — a concurrent
    // caller for a DIFFERENT key must not block behind this key's
    // staging; same-key callers serialize on the holder itself. The
    // loop re-resolves the holder after acquiring it: a waiter that
    // blocked behind a FAILED stager would otherwise stage into the
    // dir that stager already removed from the map (and deleted).
    @annotation.tailrec
    def acquire(): Staging = {
      val st = stagings.synchronized {
        exitSweep
        stagings.getOrElseUpdate(key, new Staging(
          java.nio.file.Files.createTempDirectory("graft_staging_").toString))
      }
      val ok = st.synchronized {
        if (st.ready) true
        else if (stagings.synchronized(!stagings.get(key).contains(st))) false
        else {
          try { stage(st.dir); st.ready = true; true }
          catch { case e: Throwable =>
            // a half-staged dir must not be served to the next caller
            stagings.synchronized {
              if (stagings.get(key).contains(st)) { stagings.remove(key); () }
            }
            deleteRecursively(st.dir)
            throw e
          }
        }
      }
      if (ok) st else acquire()
    }
    val st = acquire()
    val out = run(st.dir)
    stagings.synchronized {
      // mark the variant ONLY on the instance we actually read: after
      // a remove/recreate cycle the map can hold a successor staging
      // this caller never touched — crediting it would delete the
      // successor's dir under a consumer that still needs it
      stagings.get(key).filter(_ eq st).foreach { cur =>
        cur.used += variant
        if (cur.used == allVariants) {
          deleteRecursively(cur.dir)
          stagings.remove(key); ()
        }
      }
    }
    out
  }

  /** Run the given sessionizer state machine over the shared staged
    * fixture under Trigger.AvailableNow with one file per micro-batch,
    * and return the sink's sessions (sentinel user dropped). Memoized
    * per (session, dir, variant, layout) via FrameCache; the variant's
    * out/ckpt dirs are deleted once the one-row-per-session output is
    * pinned, the shared staging once both variants have run. */
  private def sessionizeRun(s: org.apache.spark.sql.SparkSession,
      d: String, variant: String)(
      machine: org.apache.spark.sql.Dataset[EventStream.Event] =>
        org.apache.spark.sql.Dataset[EventStream.Session]): DataFrame =
    graft.ops.FrameCache.memo(s,
        s"stream:sessionize_run:$variant:${layout(s)}:$d") {
      withSharedStaging(s, s"sess:$d", variant, sessConsumers)(
          stageSessionFixture(s, d)) { staged =>
        val inDir = s"$staged/in"
        import java.nio.file.Files
        import org.apache.spark.sql.streaming.Trigger
        import s.implicits._
        val tmp = Files.createTempDirectory(s"graft_sess_${variant}_").toString
        val events = EventStream
          .readEvents(s, inDir, Map("maxFilesPerTrigger" -> "2"))
          .selectExpr("event_id", "ts", "user_id", "event_type", "value")
          .as[EventStream.Event]
        withStatePartitions(s) {
          val q = machine(events).writeStream
            .format("parquet").option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(300000), s"$variant sessionize stream did not finish")
        }
        val out = s.read.parquet(s"$tmp/out").where(col("user_id") =!= -1L)
          .select(col("user_id"), col("session_start_us"),
            col("session_end_us"),
            col("n_events").cast("bigint").as("n_events"),
            col("total_value"))
          .localCheckpoint(true) // pin rows so the sink dir can go
        deleteRecursively(tmp)
        out
      }
    }

  /** Stage signups and purchases as two range-partitioned file
    * streams (+ a clock sentinel pair per side), run the REAL
    * watermarked stream-stream interval join under
    * Trigger.AvailableNow, and return the sink's matches (sentinel
    * user dropped). Memoized per (session, dir, joinKind, layout). */
  private def attributionRun(s: org.apache.spark.sql.SparkSession,
      d: String, joinKind: String): DataFrame =
    graft.ops.FrameCache.memo(s,
        s"stream:attribution_run:$joinKind:${layout(s)}:$d") {
      import java.nio.file.Files
      import org.apache.spark.sql.streaming.Trigger
      withSharedStaging(s, s"attr:$d", joinKind, attrConsumers)(
          stageAttrFixture(s, d)) { staged =>
        val tmp = Files.createTempDirectory(s"graft_attr_${joinKind}_").toString
        def side(name: String): DataFrame = EventStream
          .readEvents(s, s"$staged/$name", Map("maxFilesPerTrigger" -> "2"))
        val sig = side("signups")
        val pur = side("purchases")
        val joined = joinKind match {
          case "inner" => EventStream.attribution(sig, pur)
          case "left_semi" => EventStream.attributionSemi(sig, pur)
          case _ => EventStream.attributionOuter(sig, pur)
        }
        withStatePartitions(s) {
          val q = joined.writeStream
            .format("parquet").option("path", s"$tmp/out")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(300000),
            s"$joinKind attribution stream did not finish")
        }
        val cols =
          if (joinKind == "left_semi")
            Seq(col("signup_id"), col("user_id"), col("signup_us"))
          else Seq(col("signup_id"), col("purchase_id"),
            col("user_id"), col("delay_us"))
        val out = s.read.parquet(s"$tmp/out").where(col("user_id") =!= -1L)
          .select(cols: _*)
          .localCheckpoint(true) // pin rows so the sink dir can go
        deleteRecursively(tmp)
        out
      }
    }

  /** Append two single-row watermark-clock files (max(ts) + 2h and
    * + 4h, sentinel user -1) to a staged stream dir, with modtimes
    * strictly later than every data file's — the clocks advance the
    * watermark past every real event's horizon. NOTE: with
    * maxFilesPerTrigger=2 both sentinels can land in the SAME
    * micro-batch, so the final emission round (timers firing,
    * append-mode windows closing, outer-join nulls) is produced by
    * the no-data micro-batch that follows the watermark advance —
    * [[withStatePartitions]] pins
    * spark.sql.streaming.noDataMicroBatches.enabled=true for the
    * run's duration so that batch is guaranteed, not a default we
    * silently depend on. */
  private def stageSentinels(s: org.apache.spark.sql.SparkSession,
      inDir: String, maxTs: java.sql.Timestamp, eventType: String): Unit = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import s.implicits._
    val base = System.currentTimeMillis()
    Seq((1, 2), (2, 4)).foreach { case (i, hours) =>
      val t = new java.sql.Timestamp(maxTs.getTime + hours * 3600000L)
      val df = Seq((-i.toLong, t, -1L, eventType, 0.0, ""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      val sTmp = Files.createTempDirectory("graft_sentinel_").toString
      val sDir = s"$sTmp/row"
      df.coalesce(1).write.parquet(sDir)
      val part = new java.io.File(sDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dst = Paths.get(inDir, s"zz_sentinel_$i.parquet")
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst, FileTime.fromMillis(base + i * 60000L))
      deleteRecursively(sTmp)
    }
  }

  /** Run a stateful streaming query at state parallelism sized to the
    * staged fixture instead of the session's batch setting: each
    * stateful operator materializes ONE state store instance PER
    * shuffle partition PER micro-batch (snapshot + commit files), so a
    * 6-batch run over a 100k-row fixture at 32 partitions pays
    * 6·32 state-store commit rounds of pure per-instance overhead.
    * 8 partitions keeps the run parallel while cutting that fixed cost
    * 4× (the loopSized lesson, applied to streaming state). At
    * production scale the session setting is larger and this override
    * would be too — `n` is the fixture-sized default, not a cap.
    * Same single-threaded-driver assumption as GraphQueries.loopSized:
    * the override is session-global while the stream runs. */
  private def withStatePartitions[T](s: org.apache.spark.sql.SparkSession,
      n: Int = 8)(f: => T): T = {
    // also pin no-data micro-batches ON: the sentinel contract
    // (stageSentinels) relies on a post-watermark-advance batch to
    // flush timers / close append-mode windows / emit outer-join
    // nulls, and with maxFilesPerTrigger=2 both sentinels can share
    // one trigger — the flush batch then IS the no-data batch. true
    // is Spark's default, but a session that disabled it would make
    // every final emission silently vanish, so pin it per-run.
    // and restore the state-store provider afterwards: the
    // transformWithState builders REQUIRE RocksDB and set it
    // session-globally before their query starts — without a restore,
    // every LATER streaming entry in the session silently inherits
    // RocksDB too, making an entry's provider (and its measured cost)
    // depend on catalog order instead of on the entry.
    // NOTE (round-20 A/B, rejected): turning RocksDB changelog
    // checkpointing ON for these runs was measured and REVERTED — at
    // fixture state sizes (KBs/partition) the per-batch changelog file
    // ops cost MORE than the tiny full snapshot they replace
    // (sessionize_tws [2.3,2.1,2.0] → [5.1,4.3,2.9] s, topk 1.88 →
    // 2.50 median). The knob's 100 TB rationale lives in CdcStream,
    // whose CDC entries keep it on as the operation under proof.
    val provKey = graft.SessionConf.StateStoreProviderKey
    graft.SessionConf.withConfs(s, Map(
      "spark.sql.shuffle.partitions" -> Some(n.toString),
      "spark.sql.streaming.noDataMicroBatches.enabled" -> Some("true"),
      provKey -> s.conf.getOption(provKey)))(f)
  }

  /** Stage a frame as `n` range-partitioned parquet files with
    * STRICTLY ASCENDING modtimes in range order: part-0000i holds
    * range-partition i (Spark task i writes file i), so
    * FileStreamSource's modtime-ordered, one-file-per-trigger delivery
    * replays the frame range by range — deterministic micro-batch
    * boundaries across runs, and (when the range key is the event
    * time) a monotone watermark no matter how listing breaks ties. */
  private def stageRanged(df: DataFrame, dir: String, n: Int,
      rangeCols: Column*): Unit = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    df.repartitionByRange(n, rangeCols: _*).write.parquet(dir)
    val base = System.currentTimeMillis()
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName)
      .zipWithIndex
      .foreach { case (f, i) => Files.setLastModifiedTime(f.toPath,
        FileTime.fromMillis(base + i * 1000L)) }
  }

  /** Best-effort recursive delete for a run's staging dir (the output
    * rows are already pinned via localCheckpoint when this is called). */
  private[queries] def deleteRecursively(path: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go))
      f.delete(); ()
    }
    go(new java.io.File(path))
  }
}
