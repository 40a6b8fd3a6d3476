package graft

import graft.SessionConf.withConfs
import graft.queries.RelationalQueries
import org.apache.spark.sql.functions._

/** Pins the physical-plan claims the scale design rests on: pushdown
  * reaching the scan, pruned read schemas, broadcast dimension sides,
  * and no shuffle on the fact table in the star join. A regression
  * here wouldn't change results — only the 100 TB cost — which is why
  * it needs its own spec. */
class PlanShapeSpec extends SparkSpecBase {

  test("flagship star join: filters push down, dims broadcast, fact never shuffles") {
    val plan = RelationalQueries.flagship(spark, sfDir)
      .queryExecution.executedPlan.toString
    // all three dimension joins broadcast
    assert(plan.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3,
      s"expected 3 broadcast joins:\n$plan")
    // the fact side never exchanges (only broadcast exchanges appear)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact table should not shuffle:\n$plan")
    // quantity range filter reaches the lineitem scan
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,10.0)"),
      s"range filter not pushed to the scan:\n$plan")
  }

  test("scan-filter-project: pruned read schema and pushed predicates") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val exec = Catalog.byName("q_scan_filter_project").fn(spark, sfDir)
      .queryExecution.executedPlan
    // read the scan's metadata directly — the plan STRING abbreviates
    // long PushedFilters lists, which would hide the equality predicate
    val scan = exec.collectLeaves().collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail(s"no parquet scan in:\n$exec"))
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(o_totalprice,100000.0)") &&
      pushed.contains("EqualTo(o_orderstatus,O)"),
      s"predicates not pushed: $pushed")
    // only the referenced columns are read
    val readSchema = scan.metadata("ReadSchema")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice") &&
      readSchema.contains("o_orderpriority") && !readSchema.contains("o_comment"),
      s"read schema not pruned: $readSchema")
  }

  test("q1 aggregation is a partial+final hash aggregate in one codegen span") {
    val df = Catalog.byName("q1_agg_pricing").fn(spark, sfDir)
    df.collect() // AQE only materializes codegen spans in the FINAL plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("partial_"), s"no map-side partial aggregation:\n$plan")
    // '*' before an operator is the WholeStageCodegen marker in simpleString;
    // scan-side partial agg and final agg should each sit in a span
    assert(plan.contains("*(1) HashAggregate") && plan.contains("*(2) HashAggregate"),
      s"aggregation fell out of codegen:\n$plan")
  }

  test("join strategy hints switch the physical operator") {
    // the user-facing physical-tuning surface: one logical join, three
    // physical strategies on demand — broadcast (small dim), sort-merge
    // (two big sorted sides), shuffled-hash (big sides, no sort)
    val fact = Tables(spark, sfDir, "orders")
    val dim = Tables(spark, sfDir, "customer")
    def planOf(hint: String): String = {
      val joined = fact.join(dim.hint(hint), expr("o_custkey = c_custkey"))
      joined.collect() // AQE finalizes the plan on execution
      joined.queryExecution.executedPlan.toString
    }
    val b = planOf("broadcast")
    assert(b.contains("BroadcastHashJoin"), s"broadcast hint ignored:\n$b")
    val m = planOf("merge")
    assert(m.contains("SortMergeJoin"), s"merge hint ignored:\n$m")
    val h = planOf("shuffle_hash")
    assert(h.contains("ShuffledHashJoin"), s"shuffle_hash hint ignored:\n$h")
  }

  test("tpch q6: every predicate pushes to the parquet scan, no join, no shuffle") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = Catalog.byName("q_tpch_q6").fn(spark, sfDir)
    df.collect()
    // the scan hides below AQE query-stage wrappers, which collectLeaves
    // treats as leaves — unwrap them recursively
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val exec = df.queryExecution.executedPlan
    val scan = scans(exec).headOption
      .getOrElse(fail(s"no parquet scan in:\n$exec"))
    val pushed = scan.metadata("PushedFilters")
    // the discount band and quantity cap sit on raw columns → row-group
    // statistics prune before decode; this is the query's entire cost
    // model at 100 TB
    assert(pushed.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      pushed.contains("LessThanOrEqual(l_discount,0.07)") &&
      pushed.contains("LessThan(l_quantity,24.0)"),
      s"predicates not pushed: $pushed")
    val readSchema = scan.metadata("ReadSchema")
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_tax"),
      s"read schema not pruned: $readSchema")
    val plan = exec.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"scan-aggregate query should have no hash exchange:\n$plan")
  }

  test("tpch q14: part broadcasts, lineitem never shuffles, one agg pass") {
    val df = Catalog.byName("q_tpch_q14").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"part should broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"fact side should not shuffle:\n$plan")
    // numerator and denominator come out of ONE partial+final aggregate
    assert(plan.contains("partial_"), s"no map-side partial agg:\n$plan")
  }

  test("top-k global plans as TakeOrderedAndProject (no full sort)") {
    val plan = Catalog.byName("q_topk_global").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"global top-k should not be a full sort:\n$plan")
  }

  /** collect() that descends through the AQE wrappers (adaptive root
    * and query-stage leaves hide their subplans from TreeNode
    * traversal). */
  private def collectAll[T](p: org.apache.spark.sql.execution.SparkPlan)(
      pf: PartialFunction[org.apache.spark.sql.execution.SparkPlan, T]): Seq[T] = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // one cached frame may be SCANNED at several sites — sweep its
    // fill plan once, or join-count pins would multi-count its nodes
    val seenCaches =
      collection.mutable.Set.empty[org.apache.spark.sql.execution.SparkPlan]
    def go(p: org.apache.spark.sql.execution.SparkPlan): Seq[T] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        // descend through persist() boundaries too — a cached subtree
        // must not exempt its joins/windows from the pinned claims
        case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          val cp = i.relation.cachedPlan
          if (seenCaches.add(cp)) Seq(cp) else Nil
        case other => other.children
      }
      pf.lift(p).toSeq ++ kids.flatMap(go)
    }
    go(p)
  }

  test("sequence packing: no global single-partition window over the corpus") {
    // the two-phase cumsum's scale claim: every Window that consumes
    // corpus-sized input is partitioned (by shard); the only
    // unpartitioned window runs over per-shard AGGREGATES (post-
    // HashAggregate), whose row count is corpus/shardWidth
    val df = Catalog.byName("q_pack_sequences").fn(spark, sfDir)
    df.collect()
    val windows = collectAll(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val aggBelow = collectAll(w: org.apache.spark.sql.execution.SparkPlan) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(aggBelow.nonEmpty,
        s"unpartitioned window must consume shard aggregates, not the corpus:\n$w")
    }
  }

  test("decile bounds: no histogram-sized window keyed only by the group") {
    // the exact-rank cumsum must parallelize beyond the group count:
    // any window over the full (rf, cents) histogram is partitioned by
    // (rf, shard); windows partitioned by rf alone may only consume
    // the per-shard AGGREGATE frame (rows = value-range/shardWidth)
    val df = Catalog.byName("q_agg_decile_bounds").fn(spark, sfDir)
    df.collect()
    val windows = collectAll(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.filter(_.partitionSpec.size < 2).foreach { w =>
      val aggBelow = collectAll(w: org.apache.spark.sql.execution.SparkPlan) {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      }
      assert(aggBelow.exists(_.groupingExpressions.size >= 2),
        s"group-only window must consume shard aggregates, not the histogram:\n$w")
    }
  }

  test("LOCF resample: fill window runs over the generated grid, not raw events") {
    val df = Catalog.byName("q_events_resample_locf").fn(spark, sfDir)
    df.collect()
    val windows = collectAll(df.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 1)
    // below the window sits the grid⋈bin-aggregate join — events have
    // already been aggregated to bins by a HashAggregate
    val aggBelow = collectAll(
      windows.head: org.apache.spark.sql.execution.SparkPlan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggBelow.nonEmpty,
      s"fill window must consume bin aggregates:\n${windows.head}")
  }

  test("tpch q5: all joins are hash joins, dims broadcast, no cartesian") {
    val df = Catalog.byName("q_tpch_q5").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"6-way join must stay equi-keyed:\n$plan")
    assert(plan.sliding("BroadcastHashJoin".length)
      .count(_ == "BroadcastHashJoin") >= 3,
      s"supplier/nation/region should broadcast:\n$plan")
  }

  test("tpch q18: one lineitem aggregate carried through, top-100 without a global sort") {
    val df = Catalog.byName("q_tpch_q18").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"non-equi join crept in:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 should not be a full sort:\n$plan")
    // the quantity aggregate is computed once (carried), not re-grouped
    // after the joins: exactly one aggregate pair over lineitem (node
    // count via collectAll — the AQE plan STRING prints the initial
    // and final plans and would double-count)
    val aggs = collectAll(df.queryExecution.executedPlan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.aggregateExpressions.mkString.contains("l_quantity") => a
    }
    assert(aggs.size <= 2, s"lineitem should aggregate once (partial+final):\n$plan")
  }

  test("embedding dedup: blocked equi-join, never a nested-loop/cartesian") {
    val df = Catalog.byName("q_dedup_embedding").fn(spark, sfDir)
    df.collect() // AQE finalizes the plan on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"all-pairs must go through the block-grid equi-join:\n$plan")
    // the pair join keys on the (bi, bj) block grid
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"expected a hash/merge join on block keys:\n$plan")
  }

  test("as-of join: one user-partitioned shuffle, LOCF window, no join operator") {
    // the union+last(ignoreNulls) rewrite's whole point is a single
    // shuffle on user_id and NO pairwise join; pin it so an AQE or
    // planner drift (e.g. falling back to a sort-merge self-join)
    // shows up as a test failure, not a silent bench regression
    val df = Catalog.byName("q_asof_join").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"as-of must be join-free (union + window):\n$plan")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 1 && windows.head.partitionSpec.nonEmpty,
      s"expected exactly one user-partitioned LOCF window:\n$plan")
    val shuffles = collectAll(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"union+window as-of should shuffle exactly once:\n$plan")
  }

  test("semantic dedup: broadcast argmin assignment, cluster-keyed pair join") {
    val df = Catalog.byName("q_dedup_semantic").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    // the only nested-loop join is the k-row centroid broadcast
    // (assignment argmin); the corpus-sized pair join must be
    // equi-keyed on the cluster id
    val bnlj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bnlj.size <= 1, s"unexpected nested-loop joins:\n$plan")
    assert(!plan.toString.contains("CartesianProduct"), s"cartesian:\n$plan")
    val hashJoins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(hashJoins.nonEmpty, s"pair join must be equi-keyed:\n$plan")
    // the argmin is a partial+final min_by aggregate, not a window
    // over the n·k candidate grid
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"assignment must not window the candidate grid:\n$plan")
  }

  test("AUC + concurrency sweep: unpartitioned windows only over shard aggregates") {
    // both entries rest on the two-phase sharded cumsum; the scale
    // claim is the same as q_pack_sequences — any Window over
    // corpus-sized input is shard-partitioned, the only unpartitioned
    // windows consume per-shard AGGREGATES
    for (name <- Seq("q_eval_auc", "q_events_concurrency")) {
      val df = Catalog.byName(name).fn(spark, sfDir)
      df.collect()
      val windows = collectAll(df.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, name)
      windows.filter(_.partitionSpec.isEmpty).foreach { w =>
        val aggBelow = collectAll(w: org.apache.spark.sql.execution.SparkPlan) {
          case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
        }
        assert(aggBelow.nonEmpty,
          s"$name: unpartitioned window must consume shard aggregates:\n$w")
      }
    }
  }

  test("q21 shape: EXISTS/NOT-EXISTS decorrelate to semi/anti hash joins") {
    // the multi-correlated subqueries must become ONE left-semi and
    // ONE left-anti join on l_orderkey — per-row re-execution or a
    // nested-loop fallback would be quadratic in lineitem
    val df = Catalog.byName("q_subquery_q21_shape").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"expected decorrelated semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"expected decorrelated anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlation must stay an equi hash join:\n$plan")
  }

  test("q22 shape: threshold scalars broadcast, anti join, no nested loop") {
    val df = Catalog.byName("q_subquery_q22_shape").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), s"expected anti join on o_custkey:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"scalar thresholds must plan as subquery broadcasts:\n$plan")
  }

  test("ntile + rfm: unpartitioned windows only over per-shard aggregates") {
    // the ShardedRank rewrite's claim, exercised on the AT-SCALE path
    // (threshold forced to 0 so the adaptive fork takes the sharded
    // plan even at spec scale): no WindowExec sorts the whole
    // customer/user frame in one task — unpartitioned windows consume
    // only the bounded per-shard count aggregate
    withConfs(spark, Map(graft.ops.ShardedRank.ThresholdConf -> Some("0"))) {
      for (name <- Seq("q_window_ntile", "q_events_rfm")) {
        val df = Catalog.byName(name).fn(spark, sfDir)
        df.collect()
        val windows = collectAll(df.queryExecution.executedPlan) {
          case w: org.apache.spark.sql.execution.window.WindowExec => w
        }
        assert(windows.nonEmpty, name)
        windows.filter(_.partitionSpec.isEmpty).foreach { w =>
          val aggBelow = collectAll(w: org.apache.spark.sql.execution.SparkPlan) {
            case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
          }
          assert(aggBelow.nonEmpty,
            s"$name: unpartitioned window must consume shard aggregates:\n$w")
        }
      }
    }
  }

  test("ntile + rfm small-frame path: no joins, bounded marker folds away") {
    // the adaptive fork's interactive-scale claim: under the threshold
    // the plan is window-only (no rank join-backs, no offset branch).
    // The BoundedWindow lit(0) marker must be visible in the ANALYZED
    // plan (that is where PlanGuardSpec's lint reads it) and FOLDED OUT
    // of the executed plan (so the window pays nothing for it).
    for (name <- Seq("q_window_ntile", "q_events_rfm")) {
      val df = Catalog.byName(name).fn(spark, sfDir)
      df.collect()
      val logicalWindows = df.queryExecution.analyzed.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(logicalWindows.nonEmpty &&
        logicalWindows.forall(_.partitionSpec.nonEmpty),
        s"$name: analyzed windows must carry the bounded constant key")
      val plan = df.queryExecution.executedPlan
      val windows = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec => w
      }
      assert(windows.nonEmpty, name)
      assert(windows.forall(_.partitionSpec.isEmpty),
        s"$name: the constant key must fold out of the executed plan:\n$plan")
      // the 1-row `today`/count aggregate broadcasts (BNLJ cross) are
      // fine; what must be gone is the per-pass EQUI join-back of a
      // (key, rank) branch — those plan as hash/merge joins
      val joins = collectAll(plan) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }
      assert(joins.isEmpty,
        s"$name: small-frame path must not join rank branches back:\n$plan")
    }
  }

  test("z-order audit: no sort, no window — scalar broadcast + hash aggs only") {
    // the layout audit costs O(rows): min/max broadcast back via a
    // nested-loop join of a 1-row aggregate, per-row codegen'd bit
    // math, hash aggs per layout — never a global sort or window
    val df = Catalog.byName("q_layout_zorder").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"audit must not window:\n$plan")
    val sorts = collectAll(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty, s"audit must not sort:\n$plan")
  }

  test("CDC apply: last-writer-wins is a hash aggregate, never a rank window") {
    // the changelog can be petabyte-scale; the apply must be a
    // partial+final max_by aggregate (one shuffle on the key, map-side
    // combine), not row_number-over-key — a window would sort every
    // key group just to keep one row
    val df = Catalog.byName("q_migrate_cdc_apply").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"LWW must not window:\n$plan")
    val aggs = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }
    assert(aggs.nonEmpty, s"LWW must be a hash aggregate:\n$plan")
    val sortAggs = collectAll(plan) {
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(sortAggs.isEmpty, s"LWW fell back to a sort aggregate:\n$plan")
    val sorts = collectAll(plan) {
      case s: org.apache.spark.sql.execution.SortExec => s
    }
    assert(sorts.isEmpty, s"apply must be sort-free end to end:\n$plan")
  }

  test("attribution: one user-partitioned window, type filter pushed to scan") {
    // the running last-click max is a single pass over the
    // click+purchase subset; the event-type filter must reach the
    // parquet scan so the window never sees the other event types
    val df = Catalog.byName("q_events_attribution").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 1, s"expected exactly one window:\n$plan")
    assert(windows.head.partitionSpec.nonEmpty,
      s"attribution window must be user-partitioned:\n$plan")
    val scan = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.head
    assert(scan.metadata("PushedFilters").contains("In(event_type"),
      s"type filter not pushed: ${scan.metadata("PushedFilters")}")
  }

  test("pareto frontier: join-free two-window plane sweep, brand-partitioned") {
    // the differential claim: the Spark side must be the O(n log n)
    // sweep — if it ever degenerates to the oracle's O(n²) dominance
    // join (NOT EXISTS → anti nested-loop), this fails
    val df = Catalog.byName("q_pareto_frontier").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"sweep must be join-free:\n$plan")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 2, s"expected the two sweep windows:\n$plan")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      s"sweep windows must be brand-partitioned (no global window):\n$plan")
  }

  test("q19: disjunctive predicate splits — brand set to part scan, quantity range to lineitem scan") {
    val df = Catalog.byName("q_tpch_q19").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val scans = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    val part = scans.find(_.metadata("Location").contains("part.parquet"))
      .getOrElse(fail(s"no part scan:\n$plan"))
    // the WHOLE part-only disjunction (brand=…∧size≤…) ∨ … reaches the
    // part scan as an Or filter, plus the extracted common size bound
    val pf = part.metadata("PushedFilters")
    assert(pf.contains("EqualTo(p_brand,Brand#11)") && pf.contains("Or(")
      && pf.contains("GreaterThanOrEqual(p_size,1)"),
      s"part-side disjunction not pushed to part: $pf")
    val li = scans.find(_.metadata("Location").contains("lineitem.parquet"))
      .getOrElse(fail(s"no lineitem scan:\n$plan"))
    val lf = li.metadata("PushedFilters")
    assert(lf.contains("l_quantity"),
      s"quantity envelope not pushed to lineitem: $lf")
  }

  test("nearest as-of join: join-free, one shuffle, two user-partitioned windows") {
    // the bidirectional nearest-click lookup is the union+window as-of
    // run twice (backward LOCF + forward first): still NO pairwise
    // join, still exactly one user_id shuffle — the two windows share
    // the partitioning and differ only in sort order
    val df = Catalog.byName("q_asof_join_nearest").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"nearest as-of must be join-free:\n$plan")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size === 2 && windows.forall(_.partitionSpec.nonEmpty),
      s"expected two user-partitioned sweep windows:\n$plan")
    val shuffles = collectAll(plan) {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size === 1,
      s"both windows must reuse one user_id shuffle:\n$plan")
  }

  test("decontamination: eval index broadcasts; no join against the eval side shuffles") {
    // the asymmetric corpus-vs-evalset shape IS the 100 TB argument:
    // the (small, benchmark-sized) eval-window index broadcasts onto
    // the exploded corpus stream, so the corpus never shuffles for the
    // eval lookup. The final hit-count left join is deliberately NOT
    // pinned to a broadcast: `hits` has one row per CONTAMINATED train
    // doc — contamination-proportional, unbounded by construction — so
    // the planner must stay free to pick a shuffled join on a dirty
    // corpus. We therefore assert (a) no cartesian/nested-loop joins,
    // (b) the inner eval-lookup join is broadcast-hash (any
    // non-broadcast join must be the LeftOuter hit-count join-back,
    // never the Inner eval probe).
    val df = Catalog.byName("q_dedup_decontaminate").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val unbounded = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(unbounded.isEmpty, s"no cartesian/nested-loop joins:\n$plan")
    val shuffledInner = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
    }
    assert(shuffledInner.isEmpty,
      s"the eval-index probe must be a broadcast join — the corpus " +
        s"side must not shuffle for the eval lookup:\n$plan")
    val bhj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.nonEmpty, s"eval index should broadcast:\n$plan")
  }

  test("quality-rule battery: single pruned scan, no join, no window") {
    // the C4/Gopher battery is a per-row profile: all five rules come
    // out of one pass over (doc_id, text) — any join, window, or
    // extra column in the read schema is plan rot
    val df = Catalog.byName("q_text_quality_rules").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val joins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.isEmpty, s"battery must be join-free:\n$plan")
    val windows = collectAll(plan) {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.isEmpty, s"battery must be window-free:\n$plan")
    val scans = collectAll(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.size === 1, s"expected exactly one corpus scan:\n$plan")
    val readSchema = scans.head.metadata("ReadSchema")
    assert(readSchema.contains("doc_id") && readSchema.contains("text") &&
      !readSchema.contains("source") && !readSchema.contains("lang"),
      s"read schema not pruned to (doc_id, text): $readSchema")
  }

  test("bm25: df/totals broadcast, top-20 is TakeOrderedAndProject") {
    val df = Catalog.byName("q_text_bm25").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val s = plan.toString
    assert(s.contains("TakeOrderedAndProject"),
      s"top-20 must be per-partition heaps, not a global sort:\n$s")
    val bc = collectAll(plan) {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
      case b: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => b
    }
    assert(bc.nonEmpty,
      s"the 3-row df frame and 1-row totals must broadcast:\n$s")
  }

  test("rrf fusion: both legs end in per-partition top-k heaps, fusion is tiny") {
    // the two retrieval legs each rank a full corpus — both MUST be
    // TakeOrderedAndProject (per-partition heaps); the only full sorts
    // allowed are over the ≤100 fused rows
    val df = Catalog.byName("q_eval_rrf").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val heaps = collectAll(plan) {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(heaps.size >= 2,
      s"both retrieval legs must rank via TakeOrderedAndProject:\n$plan")
    val carts = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(carts.isEmpty, s"no cartesian in the fusion:\n$plan")
  }

  test("importance scoring: weight table broadcasts, top-25 is a heap") {
    // the 256-row hashed-feature weight table must broadcast onto the
    // per-(doc,bucket) counts — a shuffled join on the bucket key would
    // reshuffle the whole exploded corpus at 100 TB
    val df = Catalog.byName("q_sample_importance").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"top-25 must be per-partition heaps:\n$plan")
    val shuffledJoins = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(shuffledJoins.isEmpty,
      s"the weight lookup must be broadcast-hash, not shuffled:\n$plan")
  }

  test("bloom prefilter: every membership probe is a broadcast-hash join") {
    // the modeled filter (bit table ×2 + exact hash set) must broadcast
    // onto the corpus probe stream; the corpus' only exchange is the
    // final per-doc count groupBy
    val df = Catalog.byName("q_dedup_bloom_prefilter").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val nonBroadcast = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nonBroadcast.isEmpty,
      s"probe joins must all be broadcast-hash:\n$plan")
    val bhj = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j
    }
    assert(bhj.size >= 3,
      s"two bit probes + the exact-membership probe must broadcast:\n$plan")
  }

  test("link prediction: equi-join wedges + one anti-join, no nested loop") {
    val df = Catalog.byName("q_graph_link_predict").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val bad = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(bad.isEmpty,
      s"wedge enumeration must stay an equi-join on z:\n$plan")
    val anti = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
    }
    assert(anti.nonEmpty,
      s"existing edges must leave via one anti-join:\n$plan")
  }

  test("incremental IVF: delta routes through broadcast centroids only") {
    // the daily-ingest contract: the delta batch crosses ONLY the
    // k-row centroid table (bounded aggregate build side) — any
    // shuffled join against base vectors means the index rebuild
    // cost returned
    val df = Catalog.byName("q_ann_ivf_incremental").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val carts = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(carts.isEmpty, s"no cartesian in the routing:\n$plan")
    val nl = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }
    assert(nl.nonEmpty, s"centroid routing must broadcast the centroids:\n$plan")
  }

  test("IVF retrain signal: base-epoch distances ride broadcast centroids") {
    // the drift report must not make the maintenance decision more
    // expensive than the maintenance: base vectors score against the
    // k-row centroid table via a BROADCAST join (cartesian-free), and
    // everything downstream is |cells|-row aggregates
    val df = Catalog.byName("q_ann_ivf_retrain_signal").fn(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val carts = collectAll(plan) {
      case c: org.apache.spark.sql.execution.joins.CartesianProductExec => c
    }
    assert(carts.isEmpty, s"no cartesian in the drift report:\n$plan")
    val shuffledBase = collectAll(plan) {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
        if j.joinType == org.apache.spark.sql.catalyst.plans.Inner => j
    }
    assert(shuffledBase.isEmpty,
      s"base vectors must join centroids via broadcast, never a shuffle:\n$plan")
  }

  test("ccnet buckets + interpolation: all windows are partition-keyed") {
    // both queries window per lang / per event_type — an unpartitioned
    // window would funnel the corpus through one task
    for (name <- Seq("q_text_ccnet_buckets", "q_events_interpolate")) {
      val df = Catalog.byName(name).fn(spark, sfDir)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val unpartitioned = collectAll(plan) {
        case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
      }
      assert(unpartitioned.isEmpty,
        s"$name: unpartitioned window over the corpus:\n$plan")
    }
  }
}
