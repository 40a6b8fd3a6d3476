package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Catalog-wide physical-plan guard: NO entry may plan a cartesian
  * product or a nested-loop join whose broadcast side is unbounded.
  * Individual PlanShapeSpec pins protect ~25 queries; this sweep
  * protects all of them against future plan rot — a refactor that
  * silently turns an equi-join into a nested loop fails here, not in
  * a 100 TB production run.
  *
  * A nested-loop join is acceptable only when its build side is
  * provably tiny: the subtree ends in a global / near-global
  * aggregate (the scalar-broadcast crossJoin pattern — 1-row totals,
  * k-row centroids), a LocalTableScan (literal frames), or a limit.
  * Anything else — and every CartesianProduct — must be whitelisted
  * by name with a justification, or the sweep fails.
  */
class PlanGuardSpec extends SparkSpecBase {

  /** Entries whose plan legitimately contains a cartesian / unbounded
    * nested-loop join. Keep justifications honest: each must be a
    * bounded-size cross by construction. */
  private val whitelist: Map[String, String] = {
    // the exact-ANN family: a small query set (querySetPred selects
    // 1% of vectors; in production, the user's query batch) broadcasts
    // against the corpus, and the cross output is consumed by the
    // bounded-state top-k aggregate (ExactTopK) or a range filter — the
    // cross is never materialized or sorted, and the corpus side never
    // shuffles (pinned by the window sweep below). This is the
    // intended brute-force baseline / recall-audit oracle shape, not
    // plan rot; the scale path is the IVF/LSH entries, which must NOT
    // appear here.
    val bruteAnn = Seq(
      "q_ann_brute_topk", "q_ann_range_search", "q_ann_hard_negatives",
      "q_eval_pq_recall", "q_eval_pq_ndcg", "q_eval_pq_rbo",
      "q_eval_ivf_nprobe_recall", "q_eval_mrr",
      "q_eval_dim_truncation_recall", "q_eval_bq_recall",
      "q_multimodal_knn", "q_multimodal_knn_arrow"
    ).map(_ -> "broadcast query batch x corpus into a bounded-state top-k aggregate or range filter (exact baseline / recall oracle)")
    (bruteAnn :+ (
      "q_join_cross" -> "intentional tiny-dim cross: region(5) x nation(25), guarded by input size"
    )).toMap
  }

  private def collectAll[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = {
    // each cached frame's fill plan is swept ONCE even when scanned at
    // several sites (dedupe keeps bounded()'s existence checks honest
    // and avoids multi-counting)
    val seenCaches = collection.mutable.Set.empty[SparkPlan]
    def go(p: SparkPlan): Seq[T] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        // a persist() boundary would otherwise hide the whole cached
        // subtree (and any join in it) behind an InMemoryTableScan
        // leaf — sweep THROUGH the cache into the plan that fills it
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          val cp = i.relation.cachedPlan
          if (seenCaches.add(cp)) Seq(cp) else Nil
        case other => other.children
      }
      pf.lift(p).toSeq ++ kids.flatMap(go)
    }
    go(p)
  }

  /** A build side is bounded when something in its subtree caps its
    * cardinality independent of the corpus size: a global (or single-
    * key) aggregate, a literal local relation, or an explicit limit. */
  private def bounded(side: SparkPlan): Boolean = {
    val nodes = collectAll(side) { case n => n }
    nodes.exists {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec =>
        a.groupingExpressions.size <= 1
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec =>
        a.groupingExpressions.size <= 1
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec =>
        a.groupingExpressions.size <= 1
      case _: org.apache.spark.sql.execution.LocalTableScanExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.LocalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      case _ => false
    }
  }

  /** The cartesian products and unbounded nested-loop joins in `plan`. */
  private def unboundedJoins(plan: SparkPlan): Seq[String] = {
    val carts = collectAll(plan) { case c: CartesianProductExec => c }
      .map(_ => "CartesianProduct")
    val badNl = collectAll(plan) { case j: BroadcastNestedLoopJoinExec => j }
      .filterNot { j =>
        val buildSide = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        bounded(buildSide)
      }
      .map(_ => "unbounded BroadcastNestedLoopJoin")
    carts ++ badNl
  }

  /** One plan construction per entry, shared by all sweeps — building
    * 400+ physical plans dominates this suite's runtime. Carries the
    * ANALYZED logical plan too: the window lint reads it there, where
    * BoundedWindow's foldable constant key is still visible (the
    * optimizer folds it away before execution — deliberately, so the
    * executed window pays nothing for the marker). */
  private lazy val plans: Seq[(String, Either[String,
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, SparkPlan)])] =
    Catalog.all.filterNot(_.effectful).map { q =>
      // effectful entries RUN a job when fn is invoked (streaming
      // sessionize, the pipeline driver) — their "plan" is just the
      // read of an output they produce, so sweeping them here buys no
      // lint and costs a full run. Their streaming/pipeline plans are
      // covered by the dedicated streaming-plan lint below and by
      // PipelineSpec.
      q.name -> (try {
        val qe = q.fn(spark, sfDir).queryExecution
        Right((qe.analyzed, qe.executedPlan))
      } catch { case e: Throwable =>
        Left(s"plan construction failed: ${e.getMessage}") })
    }

  test("no catalog entry plans an unbounded cartesian / nested-loop join") {
    val offenders = plans.flatMap { case (name, planOrErr) =>
      val problems = planOrErr.fold(Seq(_), { case (_, plan) => unboundedJoins(plan) })
      if (problems.isEmpty || whitelist.contains(name)) Nil
      else Seq(s"$name: ${problems.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"catalog entries with scale-killer join plans:\n${offenders.mkString("\n")}")
  }

  test("no catalog entry plans an unpartitioned window") {
    // the BoundedWindow contract (round-11 form): every deliberate
    // single-partition window carries the constant lit(0) marker in
    // its ANALYZED plan — an EMPTY partitionSpec there is an unbounded
    // global sort-the-world window, a scale bug, never intentional.
    // The lint reads the analyzed plan because the optimizer's
    // EliminateWindowPartitions folds the marker away before execution
    // (so the executed window is the bare fast single-partition form —
    // the round-10 non-foldable marker survived to execution and
    // measured ~2x per window, the bulk of that round's catalog
    // drift).
    val offenders = plans.flatMap { case (name, planOrErr) =>
      val problems = planOrErr.fold(Seq(_), { case (analyzed, _) =>
          analyzed.collectWithSubqueries {
            case w: org.apache.spark.sql.catalyst.plans.logical.Window
                if w.partitionSpec.isEmpty =>
              s"unpartitioned window over ${w.child.nodeName}"
          }
        })
      if (problems.isEmpty) Nil
      else Seq(s"$name: ${problems.mkString(", ")}")
    }
    assert(offenders.isEmpty,
      s"catalog entries with single-partition windows:\n${offenders.mkString("\n")}")
  }

  test("no catalog entry filter re-runs heavy array work per reference") {
    // the Materialize contract (round 10): a predicate pushed through a
    // projection inlines aliases — with no CSE inside HOF lambdas, a
    // Filter condition carrying MANY COPIES OF THE SAME heavy
    // expression re-does the array work per copy (the 10x quality-
    // battery bug inlined split(trim ~20x). The threshold is per
    // needle: a conjunction of a few DISTINCT features evaluated once
    // each (the designed residual of a keep-filter over materialized
    // arrays) is fine; the same subtree repeated >3x is not.
    val offenders = plans.flatMap { case (name, planOrErr) =>
      val problems = planOrErr.fold(Seq(_), { case (_, plan) =>
          collectAll(plan) {
            case f: org.apache.spark.sql.execution.FilterExec => f
          }.flatMap { f =>
            // needles + threshold are shared with the PlanAudit CLI
            // (graft.queries.PlanAudit) so the two contracts cannot
            // drift: both flag per-needle repetition, never the sum
            val cond = f.condition.toString
            val hits = graft.queries.PlanAudit.Needles.map(n =>
              n -> graft.queries.PlanAudit.countAll(cond, n))
              .filter(_._2 > graft.queries.PlanAudit.PerNeedleThreshold)
            if (hits.nonEmpty)
              Seq(hits.map { case (n, c) => s"$n x$c" }.mkString(", "))
            else Nil
          }
        })
      if (problems.isEmpty) Nil
      else Seq(s"$name: ${problems.mkString("; ")}")
    }
    assert(offenders.isEmpty,
      s"catalog entries with HOF-heavy filter conditions:\n${offenders.mkString("\n")}")
  }

  test("no whitelisted cross is ranked by a window") {
    // a window over the query x corpus cross sorts every scored pair
    // only to keep k of them; the cross belongs in ExactTopK.topK.
    // Windows over equi-joined, cell-routed frames are not crosses.
    val offenders = plans.collect {
      case (name, Right((_, plan))) if whitelist.contains(name) &&
          collectAll(plan) { case w: WindowExec => w }
            .exists(w => unboundedJoins(w).nonEmpty) => name
    }
    assert(offenders.isEmpty,
      s"whitelisted entries ranking a cross with a window:\n${offenders.mkString("\n")}")
  }

  test("whitelist names still exist in the catalog") {
    val names = Catalog.all.map(_.name).toSet
    val stale = whitelist.keys.filterNot(names.contains)
    assert(stale.isEmpty, s"stale whitelist entries: ${stale.mkString(", ")}")
  }

  test("the measured parallelism-floor decisions stay pinned on the fixture") {
    // round-19/20 A/Bs chose per-site whether the ScanPar/docsPar
    // parallelism floor pays (one REPARTITION_BY_NUM hash exchange over
    // the single-row-group fixture scan). The site selection is
    // fixture-measured, so pin it: a fixture or code change that flips
    // a floor (silently re-serializing a heavy chain, or re-adding an
    // exchange a negative A/B removed) fails HERE instead of surfacing
    // as an unexplained bench regression. On multi-split (cluster)
    // inputs ScanPar is the identity — this pin is fixture-scoped by
    // construction.
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    def floorCount(plan: SparkPlan): Int =
      collectAll(plan) {
        case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e
      }.size
    // floored (positive A/B): the dedup shingle base + the 8 heavy
    // text chains (OPTIMIZATION_r19.md wave 2.2)
    val mustFloor = Seq("q_dedup_ngram_jaccard", "q_dedup_minhash_lsh",
      "q_text_quality_rules", "q_text_repetition", "q_text_kn_bigram",
      "q_text_novelty", "q_text_tokens_bpe", "q_text_fingerprint",
      "q_text_ccnet_buckets", "q_text_bpe_encode")
    // bare scan (negative A/B: the exchange measured slower than the
    // serial chain it parallelizes)
    val mustNotFloor = Seq("q1_agg_pricing", "q_range_join_bucketed",
      "q_text_tfidf", "q_text_zipf", "q_sketch_hll_setops")
    val byName = plans.toMap
    val bad = mustFloor.flatMap { n =>
      byName(n).fold(e => Seq(s"$n: $e"),
        { case (_, p) => if (floorCount(p) == 0)
          Seq(s"$n: floor exchange MISSING") else Nil })
    } ++ mustNotFloor.flatMap { n =>
      byName(n).fold(e => Seq(s"$n: $e"),
        { case (_, p) => if (floorCount(p) != 0)
          Seq(s"$n: unexpected floor exchange (negative-A/B site)") else Nil })
    }
    assert(bad.isEmpty, s"floor decisions drifted:\n${bad.mkString("\n")}")
  }

  test("the ngram PPJoin plan keeps its round-20 shape: row-local rank, fenced shingles, shared dict") {
    // q_dedup_ngram_jaccard's three load-bearing plan properties
    // (round-19 RankByDf rewrite + round-20 contention fix):
    //  1. prefix ranking is the codegen'd binary-search expression
    //     (graft_rank_by_df) — not a rank exchange;
    //  2. the Materialize fence holds: no Filter condition re-expands
    //     the tokenize→shingle chain (a pushed constraint that inlines
    //     ShingleHashes re-runs the whole chain per row inside the
    //     serial scan task);
    //  3. the one-row df dictionary is persisted, so the self-join's
    //     clones read ONE InMemoryTableScan [ks, ds] instead of
    //     re-running the explode→count pipeline twice.
    val Right((_, plan)) = plans.toMap.apply("q_dedup_ngram_jaccard")
    val hasRank = collectAll(plan) {
      case p: org.apache.spark.sql.execution.ProjectExec
        if p.projectList.exists(
          _.find(_.isInstanceOf[graft.functions.RankByDf]).isDefined) => p
    }.nonEmpty
    assert(hasRank, "graft_rank_by_df projection missing from the ngram plan")
    val leakyFilters = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FilterExec
        if f.condition.find(
          _.isInstanceOf[graft.functions.ShingleHashes]).isDefined => f
    }
    assert(leakyFilters.isEmpty,
      "a Filter re-expands the shingle chain — the Materialize fence broke " +
        "(pushed constraints re-run tokenize→shingle inside the scan task)")
    val dictScans = collectAll(plan) {
      case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
        if i.output.map(_.name) == Seq("ks", "ds") => i
    }
    assert(dictScans.nonEmpty,
      "the one-row df dictionary is no longer cache-shared across the " +
        "prefix self-join's clones")
  }

  test("effectful entries are exactly the justified run-a-job set") {
    // the flag exempts an entry from every sweep above — pin the set
    // so a scale-killer plan can never hide behind it
    val effectful = Catalog.all.filter(_.effectful).map(_.name).toSet
    assert(effectful === Set("q_pipeline_e2e", "q_stream_sessionize_run",
      "q_stream_sessionize_tws_run", "q_keyedlog_replay",
      "q_stream_cdc_run", "q_stream_cdc_history_run",
      "q_stream_exactly_once_run",
      // the real stream-stream interval joins (inner, left-outer,
      // left-semi): running fn stages two file streams and executes
      // the watermarked join; the unstarted streaming plans are
      // linted in the attribution-join test below
      "q_stream_attribution_run", "q_stream_attribution_outer_run",
      "q_stream_attribution_semi_run",
      // join→agg chain: double-watermarked interval join feeding the
      // purchase-time window aggregate; linted in the chained-join test
      "q_stream_attribution_window_run",
      // windowed agg / bounded dedup / update-mode transitions runs:
      // each executes a staged replay through the REAL machinery; the
      // unstarted streaming plans are linted in the dedicated tests
      // below (watermarked stateful agg, DeduplicateWithinWatermark,
      // keyed TransformWithState)
      "q_stream_window_run", "q_stream_sliding_window_run",
      "q_stream_dedupe_run", "q_stream_transitions_run",
      // MapState top-k and ListState recent-window machines through
      // the update-mode foreachBatch sink; keyed-state lint below
      "q_stream_topk_run", "q_stream_recent_run",
      // temporal stream-static enrichment: running fn stages a file
      // stream and executes the interval left-join against a static
      // dim per micro-batch; the unstarted plan (stateless left
      // equi-join, static side broadcastable) is linted in the
      // enrichment test below
      "q_stream_enrich_run",
      // native session_window agg and the chained dedup→window-agg
      // pipeline through the real machinery; unstarted plans linted
      // in the session-window / chained-operators tests below
      "q_stream_session_window_run", "q_stream_dedup_window_chain_run",
      // DSv2 micro-batch source run: stateless projection from the
      // admission-controlled synthetic stream into a file sink — no
      // state machine to lint; the running fn asserts >=4 real
      // micro-batches and SyntheticSourceSpec pins the source's
      // pruning/striping contracts
      "q_stream_dsv2_source_run",
      // DSv2 SINK round trip: running fn writes orders through the V2
      // commit protocol and reads the manifested shards back — a
      // batch write+read, no state machine to lint; KeyedTableSpec
      // pins key clustering, manifest visibility, task-retry and
      // epoch-replay exactly-once; the write's distribution is
      // planner-enforced (RequiresDistributionAndOrdering), not a
      // hand shuffle
      "q_sink_v2_keyed_roundtrip",
      // V2 table TAIL run: stateless manifest-log replay (offset =
      // consumed manifest set) into a file sink — no state machine to
      // lint; the running fn asserts >=2 admission-controlled
      // micro-batches and KeyedTableSpec pins pacing + no-re-delivery
      "q_stream_ktable_tail_run",
      // V2 table KEY LOOKUP: running fn writes two commits then point-
      // reads back — the entry itself asserts the plan contract
      // (planned partitions << committed files via manifest bucket/
      // range pruning); KeyedTableReadSpec pins the pruning matrix
      "q_scan_ktable_key_lookup",
      // V2 table CLUSTERED read-back: running fn writes two commits
      // then aggregates by key through the catalog-loaded scan — the
      // entry asserts zero ShuffleExchange on the executed plan (the
      // write's clustering reused); KeyedTableReadSpec pins grouping
      // safety (mixed-modulus fallback, conf gate)
      "q_scan_ktable_clustered_agg",
      // V2 table manifest-metadata aggregate: the entry asserts the
      // complete push (no aggregate node, zero row-log bytes);
      // KeyedTableReadSpec pins the refusal matrix (residual
      // predicate, GROUP BY, non-key columns)
      "q_scan_ktable_agg_pushdown",
      // storage-partitioned join of two keyed tables: the entry
      // asserts zero ShuffleExchange across join + keyed aggregate
      // (both loads' clustering reused); KeyedTableReadSpec pins the
      // row-level equality vs the plain shuffled join
      "q_scan_ktable_spj",
      // the V2 migration e2e: pipeline → idempotent V2 sink with an
      // injected append→checkpoint crash → vacuum → compaction → tail
      // stream → aggregate; the entry asserts the crash fired, vacuum
      // reaped only strays, and pacing survived compaction — batch
      // plan is the pipeline's own (PipelineSpec) plus a stateless
      // tail replay, no state machine to lint
      "q_migrate_v2_e2e",
      // the Cassandra-model family (round 16, second half): each
      // running fn stages commits (loads, upserts, SQL DELETEs,
      // overwrites, rewrites) through the V2 protocol — inherently
      // run-a-job. The scale-relevant plan contracts are asserted
      // INSIDE the entries (zero ShuffleExchange on the latest views,
      // live-set collapse after rewrite, marker-file-count bound on
      // DELETE) and pinned again in KeyedTableLwwSpec (LWW, range
      // tombstones, tail-across-rewrite exactly-once, retention
      // vacuum, distinct sequence reservation)
      "q_ktable_upsert_latest", "q_ktable_delete_tombstone",
      "q_ktable_time_travel", "q_ktable_rewrite_compact",
      "q_ktable_overwrite_load", "q_ktable_latest_composite",
      "q_ktable_counter", "q_ktable_ttl_expiry", "q_ktable_cdc_apply",
      // streaming materialization of the change feed: per-micro-batch
      // LWW merge in foreachBatch (stateless stream side, no state
      // machine to lint); the entry asserts one commit per micro-batch
      // and the merge is order-independent by construction (explicit
      // (_seq,_pos) version)
      "q_stream_ktable_materialize_run",
      // round-17 maintenance family: each running fn stages commits
      // (loads, ALTERs, MERGEs, rewrites) — inherently run-a-job. The
      // scale contracts are asserted INSIDE the entries (zone-map
      // planned-files < committed-files, post-fold lookup = 1 file,
      // MERGE delete marker-file bound, shuffle-free latest over the
      // mixed-schema log, counter sums bit-equal across the fold,
      // tombstone-only delete windows in the change feed) and pinned
      // again in KeyedTableMaintenanceSpec (illegal evolutions,
      // composite MERGE-delete refusal, policy thresholds both ways,
      // stale-lock takeover)
      "q_scan_ktable_zonemap_prune", "q_ktable_merge_apply",
      "q_ktable_time_travel_ts", "q_ktable_change_feed",
      "q_ktable_schema_evolution", "q_ktable_counter_compact",
      "q_ktable_update", "q_scan_ktable_time_prune",
      "q_scan_ktable_limit_pushdown",
      // round 18: SQL row-level statements (MERGE INTO through
      // SupportsRowLevelOperations — runs real commits; its delete
      // marker-file bound and shuffle-free latest are asserted
      // in-entry, and the statement plans are linted in
      // RowLevelSqlSpec), and the change-data-feed derivation (real
      // commits + a one-shuffle lint in-entry)
      "q_ktable_merge_sql", "q_ktable_cdf",
      // round 18: sorted compaction (runs two real folds; the
      // plain-vs-sorted planned-file lint is the entry's whole point)
      "q_ktable_sorted_compact",
      // round 18: the IVF index persisted into keyed tables (builds
      // the index, upserts the delta wave; zero-Exchange
      // reconstruction + cell-pruning lints are in-entry)
      "q_ann_ivf_serve_ktable",
      // round 18: SQL UPDATE statement twin (same oracle as the
      // native verb) and the reader-resolved current view + non-key
      // SQL DELETE — both run real commits; marker-cost and
      // zero-shuffle lints in-entry
      "q_ktable_update_sql", "q_ktable_view_current",
      // round 19: streaming change data feed (readChangeFeed) — runs
      // real commits then the real streaming runtime, one micro-batch
      // per commit asserted in-entry; classification is exchange-free
      // by construction (per-bucket readers), restart/compaction
      // contracts pinned in KCdfStreamSpec
      "q_stream_ktable_cdf_run",
      // round 19: per-file bloom pruning — loads a declared and an
      // undeclared twin, the planned-files contrast (all vs fraction
      // vs zero) IS the entry's lint; matrix pinned in BloomPruneSpec
      "q_scan_ktable_bloom_prune",
      // round 19: zorder compaction — folds a lexicographic and an
      // interleaved twin; the strict planned-files contrast on a 2-D
      // box IS the lint; KGP preservation pinned in ZOrderFoldSpec
      "q_ktable_zorder_compact",
      // round 19: lifecycle purely via SQL (CREATE/INSERT/ALTER ADD
      // COLUMNS/SET TBLPROPERTIES/CALL compact) — real commits; the
      // live-set collapse and sorted-fold pruning lints are in-entry,
      // statement semantics pinned in SqlDdlSpec
      "q_ktable_evolve_sql",
      // round 19: NDV column statistics — loads a fact and two
      // equal-rowcount dims; the CBO join-order flip lint is the
      // entry's point (the deliberate fan-out join is cost-estimated,
      // never a cartesian); estimator plumbing pinned in NdvStatsSpec
      "q_ktable_cbo_reorder",
      // round 19: rollback/RESTORE — three real commits then the
      // restore (an atomic overwrite of the resolved as-of state);
      // live-set collapse + preserved time travel linted in-entry,
      // discipline dispatch pinned in RollbackSpec
      "q_ktable_rollback",
      // round 19: metadata tables — three real commits, then the
      // history/files relations; the LocalTableScan plan lint (zero
      // data bytes, driver-served bounded metadata) is in-entry
      "q_ktable_history",
      // round 19: zone-map-derived histograms — loads skewed fact/dim
      // and sorted-folds them; the estimate-vs-actual contrast lint
      // (within 8x with, off by >8x without) is in-entry; histogram
      // shape pinned in HistogramStatsSpec
      "q_ktable_cbo_histogram"),
      "new effectful entry? justify it here AND make sure its real plan " +
        "is linted some other way (streaming-plan test below / PipelineSpec)")
  }

  test("the streaming sessionize plan is watermarked, keyed state — linted without running") {
    // q_stream_sessionize_run is effectful (the sweeps above skip it),
    // so lint the STREAMING plan directly: build the unstarted
    // streaming Dataset over the fixture dir and check its analyzed
    // plan carries (a) an event-time watermark — without one the state
    // store grows forever at 100 TB — and (b) keyed
    // FlatMapGroupsWithState (grouped on user_id, so state is
    // hash-partitioned, never a global shuffle to one task).
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, FlatMapGroupsWithState}
    import graft.streaming.EventStream
    import spark.implicits._
    val events = EventStream
      .readEvents(spark, s"$sfDir/events.parquet")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val plan = EventStream.sessionize(events).queryExecution.analyzed
    assert(plan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "sessionize stream lost its watermark — unbounded state at scale")
    val fmgs = plan.collect { case f: FlatMapGroupsWithState => f }
    assert(fmgs.nonEmpty, "sessionize no longer uses keyed state")
    assert(fmgs.forall(_.groupingAttributes.nonEmpty),
      "sessionize state is not key-partitioned")
  }

  test("the transformWithState sessionizer plan is watermarked, keyed state — linted without running") {
    // q_stream_sessionize_tws_run is effectful (the sweeps skip it) —
    // lint the unstarted transformWithState plan directly, the same
    // contract as the flatMapGroupsWithState lint above: an
    // accidentally dropped withWatermark in sessionizeTws would leave
    // every session's state live forever (the fixture-scale oracle
    // cannot detect unbounded state).
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, TransformWithState}
    import graft.streaming.EventStream
    import spark.implicits._
    val events = EventStream
      .readEvents(spark, s"$sfDir/events.parquet")
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    val plan = EventStream.sessionizeTws(events).queryExecution.analyzed
    assert(plan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "tws sessionize stream lost its watermark — unbounded state at scale")
    val tws = plan.collect { case t: TransformWithState => t }
    assert(tws.nonEmpty, "tws sessionize no longer uses keyed state")
    assert(tws.forall(_.groupingAttributes.nonEmpty),
      "tws sessionize state is not key-partitioned")
  }

  test("the streaming window-agg, dedup, and transitions plans are watermarked / keyed — linted without running") {
    // q_stream_window_run / q_stream_dedupe_run / q_stream_transitions_run
    // are effectful (the sweeps skip them) — lint their unstarted
    // streaming plans directly, same contract as the sessionize lints:
    // a dropped watermark leaves window-agg / dedup state growing
    // forever at 100 TB; transitions carries no watermark BY DESIGN
    // (one string per user — bounded by the key domain, not time) but
    // must stay key-partitioned.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, DeduplicateWithinWatermark, EventTimeWatermark, TransformWithState}
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val ev = EventStream.readEvents(spark, s"$sfDir/events.parquet")

    val winPlan = EventStream.windowedAgg(ev).queryExecution.analyzed
    assert(winPlan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "windowed agg lost its watermark — unbounded window state at scale")
    val aggs = winPlan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.nonEmpty),
      "windowed agg is no longer a keyed (window, type) aggregate")

    // sliding variant: same contract (q_stream_sliding_window_run) —
    // watermark present, aggregate keyed; the len/slide Expand stays
    // inside the plan, never a self-join
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val slidePlan = EventStream.slidingWindowAgg(ev).queryExecution.analyzed
    assert(slidePlan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "sliding agg lost its watermark — unbounded window state at scale")
    val slideAggs = slidePlan.collect { case a: Aggregate => a }
    assert(slideAggs.nonEmpty &&
      slideAggs.forall(_.groupingExpressions.nonEmpty),
      "sliding agg is no longer a keyed (window, type) aggregate")
    assert(slidePlan.collect { case j: Join => j }.isEmpty,
      "sliding windows planned a join — the multi-assignment must be an Expand")

    val dedupPlan = EventStream.dedupeWithinWatermark(ev)
      .queryExecution.analyzed
    assert(dedupPlan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "dedup lost its watermark — every event_id ever seen stays in state")
    assert(dedupPlan.collect {
        case d: DeduplicateWithinWatermark => d }.nonEmpty,
      "dedup no longer uses the watermark-bounded operator")

    // the three update-mode machines carry no watermark BY DESIGN —
    // their state is bounded by the key domain (one string / one
    // count map over |types| / an n-slot ring per user), not by time —
    // but all must stay key-partitioned
    val typedEv = ev
      .selectExpr("event_id", "ts", "user_id", "event_type", "value")
      .as[EventStream.Event]
    Seq[(String, org.apache.spark.sql.Dataset[_])](
      "transitions" -> EventStream.transitions(typedEv),
      "topk" -> EventStream.topKEventTypes(typedEv),
      "recent" -> EventStream.recentAmounts(typedEv)
    ).foreach { case (name, ds) =>
      val tws = ds.queryExecution.analyzed
        .collect { case t: TransformWithState => t }
      assert(tws.nonEmpty, s"$name no longer uses keyed state")
      assert(tws.forall(_.groupingAttributes.nonEmpty),
        s"$name state is not key-partitioned")
    }
  }

  test("the streaming attribution join is double-watermarked with a two-sided interval — linted without running") {
    // q_stream_attribution_run / _outer_run are effectful (the sweeps
    // skip them) — lint the unstarted stream-stream join plan: BOTH
    // inputs must carry event-time watermarks AND the join condition
    // must bound p.ts relative to s.ts from both ends. Without both,
    // Spark cannot derive a state watermark for one side and that
    // side's join state grows forever at 100 TB.
    import org.apache.spark.sql.catalyst.expressions.BinaryComparison
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, Join}
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.col
    val ev = EventStream.readEvents(spark, s"$sfDir/events.parquet")
    Seq(
      EventStream.attribution(
        ev.where(col("event_type") === "signup"),
        ev.where(col("event_type") === "purchase")),
      EventStream.attributionOuter(
        ev.where(col("event_type") === "signup"),
        ev.where(col("event_type") === "purchase")),
      EventStream.attributionSemi(
        ev.where(col("event_type") === "signup"),
        ev.where(col("event_type") === "purchase"))
    ).foreach { joined =>
      val plan = joined.queryExecution.analyzed
      assert(plan.collect { case w: EventTimeWatermark => w }.size == 2,
        "both interval-join inputs must carry an event-time watermark")
      val joins = plan.collect { case j: Join => j }
      assert(joins.nonEmpty, "attribution no longer plans a join")
      val j = joins.head
      val leftTs = j.left.output.filter(_.name == "ts").map(_.exprId).toSet
      val rightTs = j.right.output.filter(_.name == "ts").map(_.exprId).toSet
      val twoSided = j.condition.toSeq.flatMap(_.collect {
        case b: BinaryComparison
            if b.references.exists(a => leftTs.contains(a.exprId)) &&
              b.references.exists(a => rightTs.contains(a.exprId)) => b
      })
      assert(twoSided.size >= 2,
        "the join condition must bound p.ts against s.ts from BOTH ends " +
          "(state-cleanup condition) — found: " + twoSided.mkString(", "))
    }
  }

  test("the chained join→window plan keeps both watermarks, a two-sided interval, and a keyed aggregate — linted without running") {
    // q_stream_attribution_window_run is effectful (the sweeps skip
    // it) — lint the unstarted chained plan: the interval join's
    // contract exactly as above (two watermarks, two-sided ts bound),
    // PLUS a keyed window aggregate downstream of the join — the
    // funnel rollup must stay a grouped aggregate, never collapse to
    // a global one (single-task state at 100 TB).
    import org.apache.spark.sql.catalyst.expressions.BinaryComparison
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark, Join}
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.col
    val ev = EventStream.readEvents(spark, s"$sfDir/events.parquet")
    val plan = EventStream.attributionWindowed(
        ev.where(col("event_type") === "signup"),
        ev.where(col("event_type") === "purchase"))
      .queryExecution.analyzed
    assert(plan.collect { case w: EventTimeWatermark => w }.size == 2,
      "both interval-join inputs must carry an event-time watermark")
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1, "the chain no longer plans exactly one join")
    val j = joins.head
    val leftTs = j.left.output.filter(_.name == "ts").map(_.exprId).toSet
    val rightTs = j.right.output.filter(_.name == "ts").map(_.exprId).toSet
    val twoSided = j.condition.toSeq.flatMap(_.collect {
      case b: BinaryComparison
          if b.references.exists(a => leftTs.contains(a.exprId)) &&
            b.references.exists(a => rightTs.contains(a.exprId)) => b
    })
    assert(twoSided.size >= 2,
      "the chained join lost its two-sided state-cleanup condition")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.nonEmpty),
      "the chained rollup is no longer a keyed (window) aggregate")
  }

  test("the temporal enrichment plan is a stateless stream-static left equi-join — linted without running") {
    // q_stream_enrich_run is effectful (the sweeps skip it) — lint the
    // unstarted plan directly: the STREAM must be the left/preserved
    // side of a LeftOuter join against a NON-streaming dim (a
    // stream-stream outer here would silently need watermarks and
    // grow state), the condition must carry a key equality (so the
    // per-batch join is hash/broadcast-able, never a nested loop over
    // the dim), and the plan must carry NO watermark and NO stateful
    // operator — the enrichment is stateless per micro-batch by
    // design, which is what makes it safe at 100 TB.
    import org.apache.spark.sql.catalyst.expressions.EqualTo
    import org.apache.spark.sql.catalyst.plans.LeftOuter
    import org.apache.spark.sql.catalyst.plans.logical.{
      EventTimeWatermark, FlatMapGroupsWithState, Join, TransformWithState}
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.{col, lit}
    val stream = EventStream.readEvents(spark, s"$sfDir/events.parquet")
    val dim = spark.range(4).select(col("id").as("key"),
      lit("bronze").as("tier"), lit(0L).as("valid_from_us"),
      lit(null).cast("bigint").as("valid_to_us"))
    val plan = EventStream.enrichTemporal(stream, dim)
      .queryExecution.analyzed
    val joins = plan.collect { case j: Join => j }
    assert(joins.size == 1, s"expected exactly one join, got ${joins.size}")
    val j = joins.head
    assert(j.joinType == LeftOuter,
      "enrichment must preserve every event (left outer)")
    assert(j.left.isStreaming && !j.right.isStreaming,
      "the stream must be the left side and the dim must be static — " +
        "a stream-stream join here would need watermarked state")
    val keyEq = j.condition.toSeq.flatMap(_.collect {
      case e: EqualTo
          if e.references.exists(a =>
            j.left.outputSet.exists(_.exprId == a.exprId)) &&
            e.references.exists(a =>
              j.right.outputSet.exists(_.exprId == a.exprId)) => e
    })
    assert(keyEq.nonEmpty,
      "the join condition lost its key equality — the per-batch join " +
        "degrades to a nested loop over the dim")
    assert(plan.collect { case w: EventTimeWatermark => w }.isEmpty &&
      plan.collect { case f: FlatMapGroupsWithState => f }.isEmpty &&
      plan.collect { case t: TransformWithState => t }.isEmpty,
      "enrichment grew stateful operators — it is stateless by design")
  }

  test("the native session_window plan is a watermarked keyed session aggregate — linted without running") {
    // q_stream_session_window_run is effectful (the sweeps skip it) —
    // lint the unstarted plan: it must carry an event-time watermark
    // (without one, append mode never closes a session and open-
    // session state grows forever) and the aggregate must group on
    // (user_id, session_window) — keyed, hash-partitioned session
    // state, Spark's MergingSessions operator shape.
    // the analyzer rewrites the SessionWindow expression into a
    // named-struct Project whose output attribute (named
    // "session_window", carrying the watermark-delay metadata) is what
    // the Aggregate groups on — lint the REWRITTEN shape, it is what
    // executes
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, EventTimeWatermark}
    import graft.streaming.EventStream
    val stream = EventStream.readEvents(spark, s"$sfDir/events.parquet")
    val plan = EventStream.sessionWindowAgg(stream).queryExecution.analyzed
    assert(plan.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "session_window agg lost its watermark — open sessions never close")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty, "session_window agg no longer plans an aggregate")
    val sessioned = aggs.filter(_.groupingExpressions.exists {
      case a: Attribute => a.name == "session_window"
      case _ => false
    })
    assert(sessioned.nonEmpty,
      "the aggregate no longer groups on the session_window attribute")
    assert(sessioned.forall(_.groupingExpressions.size >= 2),
      "session state lost its user key — sessions would merge across users")
  }

  test("the chained dedup→window plan has ONE watermark feeding both stateful operators — linted without running") {
    // q_stream_dedup_window_chain_run is effectful (the sweeps skip
    // it) — lint the unstarted plan: exactly one EventTimeWatermark
    // node upstream of BOTH the watermark-bounded dedup and the keyed
    // window aggregate (a second mid-pipeline watermark would reset
    // the late-row bound between the operators), dedup must be the
    // bounded variant, and the aggregate must stay keyed.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, DeduplicateWithinWatermark, EventTimeWatermark}
    import graft.streaming.EventStream
    val stream = EventStream.readEvents(spark, s"$sfDir/events.parquet")
    val plan = EventStream.dedupedWindowedAgg(stream).queryExecution.analyzed
    assert(plan.collect { case w: EventTimeWatermark => w }.size == 1,
      "the chain must carry exactly one watermark node")
    val dedups = plan.collect { case d: DeduplicateWithinWatermark => d }
    assert(dedups.size == 1,
      "the chain lost its watermark-bounded dedup — duplicates reach the agg")
    val aggs = plan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty && aggs.forall(_.groupingExpressions.nonEmpty),
      "the chained aggregate is no longer keyed")
    // the watermark must sit BELOW the dedup (one bound serves both
    // operators): the dedup's subtree contains the watermark node
    assert(dedups.head.collect { case w: EventTimeWatermark => w }.nonEmpty,
      "the watermark is no longer upstream of the dedup")
  }

  test("the streaming CDC apply and history plans are keyed transformWithState — linted without running") {
    // q_stream_cdc_run / q_stream_cdc_history_run are effectful (the
    // sweeps skip them) — lint the unstarted CdcStream plans the same
    // way as the other keyed machines: state must be keyed
    // TransformWithState (hash-partitioned on k, one record per key —
    // bounded by the key domain, not time, so no watermark by
    // design). An accidental regroup to a constant key would funnel
    // the whole changelog's state through one task at 100 TB.
    import org.apache.spark.sql.catalyst.plans.logical.TransformWithState
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.CdcStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the CdcStream builders set the RocksDB provider session-globally
    // (transformWithState requires it at query START) — restore it so
    // the shared test session's later streaming tests keep running on
    // the default provider, same hygiene as withStatePartitions
    val provKey = SessionConf.StateStoreProviderKey
    SessionConf.withConfs(spark, Map(provKey -> spark.conf.getOption(provKey))) {
      Seq[(String, org.apache.spark.sql.Dataset[_])](
        "apply" -> CdcStream(MemoryStream[CdcStream.CdcRecord].toDS()),
        "history" -> CdcStream.history(MemoryStream[CdcStream.CdcRecord].toDS())
      ).foreach { case (name, ds) =>
        val tws = ds.queryExecution.analyzed
          .collect { case t: TransformWithState => t }
        assert(tws.nonEmpty, s"CDC $name no longer uses keyed state")
        assert(tws.forall(_.groupingAttributes.nonEmpty),
          s"CDC $name state is not key-partitioned")
      }
    }
  }
}
