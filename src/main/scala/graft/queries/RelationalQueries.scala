package graft.queries

import graft.{QueryDef, Tables}
import graft.ops.Relational
import graft.sources.KeyedTableRegistry.withKeyedCatalog
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's own query shape (scan → filter → star join → renamed
  * projection, verizon_table_migration_Rakesh_filters.py:93-146) mapped
  * onto the driver fixtures, plus the full join-type surface the
  * reference lacks (SURVEY.md §2.4 extensions).
  */
object RelationalQueries {

  private val nations11 =
    Seq("NATION_0", "NATION_2", "NATION_4", "NATION_6", "NATION_8",
      "NATION_10", "NATION_12", "NATION_14", "NATION_16", "NATION_18",
      "NATION_20")
  private val nationsInList = nations11.map(n => s"'$n'").mkString(", ")

  /** Flagship: the reference's 4-table config-driven pipeline query
    * (filters json:53-58 — range + IN-list + equality; join py:140-142;
    * projection py:146/json:59-82) over lineitem⋈orders⋈customer⋈nation.
    * Built through the same operator layer the pipeline runtime uses. */
  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val tables = Map(
      "lineitem" -> Relational.filterSql(
        Tables(spark, dir, "lineitem"),
        "l_quantity >= 10 AND l_quantity <= 40"),
      "orders" -> Relational.filterSql(
        Tables(spark, dir, "orders"),
        "o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '2-HIGH')"),
      "customer" -> Tables(spark, dir, "customer"),
      "nation" -> Relational.filterSql(
        Tables(spark, dir, "nation"), s"n_name IN ($nationsInList)"))
    val joined = Relational.joinGraph(tables, "lineitem", Seq(
      Relational.JoinEdge("orders", "l_orderkey", "o_orderkey"),
      Relational.JoinEdge("customer", "o_custkey", "c_custkey"),
      Relational.JoinEdge("nation", "c_nationkey", "n_nationkey")))
    Relational.project(joined, Seq(
      "l_orderkey AS order_id",
      "l_linenumber AS line_no",
      "l_quantity AS qty",
      "l_extendedprice AS price",
      "l_discount AS discount",
      "o_orderstatus AS status",
      "o_orderpriority AS priority",
      "unix_micros(CAST(o_orderdate AS TIMESTAMP)) AS order_epoch_us",
      "c_name AS customer_name",
      "c_mktsegment AS segment",
      "n_name AS nation",
      "l_returnflag AS return_flag"))
  }

  private val flagshipOracle =
    s"""SELECT l_orderkey AS order_id, l_linenumber AS line_no,
       |  l_quantity AS qty, l_extendedprice AS price, l_discount AS discount,
       |  o_orderstatus AS status, o_orderpriority AS priority,
       |  epoch_us(o_orderdate) AS order_epoch_us,
       |  c_name AS customer_name, c_mktsegment AS segment,
       |  n_name AS nation, l_returnflag AS return_flag
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_quantity >= 10 AND l_quantity <= 40
       |  AND o_orderstatus = 'F'
       |  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
       |  AND n_name IN ($nationsInList)""".stripMargin

  /** Shared input of the three as-of variants: ONE scan of `events`
    * (pushed `event_type IN (click, error)` filter) with conditional
    * projections standing in for the two-subset union — a click row
    * carries (is_click=1, click_ts=ts, error_id=null), an error row
    * (is_click=0, click_ts=null, error_id=event_id). Identical rows to
    * the tag+union formulation, at half the scan cost (the union read
    * the events table twice). */
  private def asofTagged(s: SparkSession, d: String): DataFrame = {
    val isClick = col("event_type") === "click"
    Tables(s, d, "events")
      .where(col("event_type").isin("click", "error"))
      .select(col("user_id"), col("ts"),
        isClick.cast("int").as("is_click"),
        when(isClick, col("ts")).as("click_ts"),
        when(!isClick, col("event_id")).as("error_id"))
  }


  /** Scoped clustered-catalog registration for the keyed-table
    * entries: registers graft_keyed + the v2-bucketing switch, runs
    * the body (which must MATERIALIZE its result), restores the prior
    * conf — so no later entry's plan depends on whether this one ran
    * first (the same session-hygiene rule the streaming runs follow
    * for their state-store provider). */
  /** Shared by q_ktable_time_travel (VERSION AS OF) and
    * q_ktable_time_travel_ts (TIMESTAMP AS OF): the two spellings must
    * resolve the SAME pinned snapshot, so they gate on one oracle. */
  private val timeTravelOracleSql =
    """SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
      |WHERE o_orderkey <=
      |  (SELECT (min(o_orderkey) + max(o_orderkey)) // 2 FROM orders)
      |""".stripMargin

  /** The counter-increment fixture (base wave + every-10th-order wave,
    * two smallest customers reset, smallest re-incremented) — the CTE
    * both counter oracles share. q_ktable_counter checks (n_inc,
    * sum_cents); q_ktable_counter_compact checks sum_cents only,
    * because a counter FOLD legitimately collapses increment counts
    * (one snapshot row per key carries the accumulated total) while
    * sums must never move. */
  private val counterIncCte =
    """WITH dels AS (
      |  SELECT DISTINCT o_custkey AS dk FROM orders
      |  ORDER BY dk LIMIT 2),
      |mn AS (SELECT min(o_custkey) AS m FROM orders),
      |inc AS (
      |  SELECT o_custkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders WHERE o_custkey NOT IN (SELECT dk FROM dels)
      |  UNION ALL
      |  SELECT o_custkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_custkey NOT IN (SELECT dk FROM dels)
      |    AND o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_custkey AS k,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders
      |  WHERE o_custkey = (SELECT m FROM mn) AND o_orderkey % 2 = 0)""".stripMargin

  /** The counter-increment table build the two counter entries share:
    * base increments, a second wave, a partition reset (DELETE) of the
    * two smallest customers, fresh increments for the smallest.
    * Returns the delete keys. CALL INSIDE withKeyedCatalog. */
  private def buildCounterTable(s: SparkSession, d: String,
      target: String): Array[Long] = {
    val src = Tables(s, d, "orders").select(
      col("o_custkey").as("k"),
      col("o_orderkey").as("ord"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val inc = src.select("k", "cents")
    val sink = graft.pipeline.V2KeyedTableSink("k")
    sink.append(inc, target)
    sink.append(src.where(col("ord") % 10 === 0)
      .select("k", "cents"), target)
    val dels = src.select("k").distinct().orderBy(col("k")).limit(2)
      .collect().map(_.getLong(0))
    s.sql(s"DELETE FROM graft_keyed.`$target` " +
      s"WHERE k IN (${dels.mkString(", ")})")
    // fresh increments after the reset count from zero
    sink.append(src.where(col("k") === dels.min &&
      col("ord") % 2 === 0).select("k", "cents"), target)
    dels
  }

  /** `body` in [[withKeyedCatalog]] with the cost-based optimizer and its
    * join reordering on. */
  private def withKeyedCbo[A](s: SparkSession)(body: => A): A =
    withKeyedCatalog(s)(graft.SessionConf.withConfs(s, Map(
      "spark.sql.cbo.enabled" -> Some("true"),
      "spark.sql.cbo.joinReorder.enabled" -> Some("true")))(body))

  /** The UPDATE semantics oracle — shared by the native-verb entry
    * (q_ktable_update) and the SQL-statement entry (q_ktable_update_sql)
    * so the two spellings can never drift. */
  private lazy val ktableUpdateOracleSql: String =
    """SELECT o_orderkey AS k,
      |  CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
      |    AS status,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    + CASE WHEN o_orderkey % 7 = 0 THEN 500 ELSE 0 END AS cents
      |FROM orders""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_flagship_star", Some(flagshipOracle), headline = true)(flagship),

    // Pushdown scan + projection: the S1/F1/P1 slice alone.
    QueryDef("q_scan_filter_project", Some(
      """SELECT o_orderkey AS order_id, o_totalprice AS total,
        |  o_orderpriority AS priority
        |FROM orders
        |WHERE o_totalprice >= 100000 AND o_orderstatus = 'O'""".stripMargin))(
      (s, d) =>
        Relational.project(
          Relational.filterSql(Tables(s, d, "orders"),
            "o_totalprice >= 100000 AND o_orderstatus = 'O'"),
          Seq("o_orderkey AS order_id", "o_totalprice AS total",
            "o_orderpriority AS priority"))),

    // ---- DataSource V2 synthetic corpus through the oracle gate:
    // the graft.sources.SyntheticDocs TableProvider generates a
    // deterministic doc stripe per input partition (parallel, no
    // files, no driver rows) and prunes columns at the reader; every
    // field is total arithmetic on doc_id, so DuckDB reproduces the
    // whole corpus from range() — the oracle gates the SOURCE, not
    // just a count. SyntheticSourceSpec pins the pruning and the
    // partition plan. ----
    QueryDef("q_scan_dsv2_synthetic", Some(
      """SELECT user_id, count(*) AS n_docs,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(ts_us) AS first_ts_us
        |FROM (SELECT doc_id, doc_id % 9973 AS user_id,
        |        1704067200000000 + doc_id * 1000000 AS ts_us,
        |        (doc_id * 31) % 100000 AS cents
        |      FROM range(100000) t(doc_id))
        |GROUP BY user_id""".stripMargin))(
      (s, _) => s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("partitions", "8").load()
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cents")).as("sum_cents"),
          min(col("ts_us")).as("first_ts_us"))),

    // ---- The pushed-bounds read through the oracle gate: the
    // doc_id range lands in the V2 scan (stripes planned inside the
    // bounds, residual Filter eliminated — SyntheticSourceSpec pins
    // the plan), so this entry's rows exist ONLY if the generator
    // honors the pushed range exactly; off-by-one stripe math or a
    // dropped bound breaks the hash. ----
    QueryDef("q_scan_dsv2_pushdown", Some(
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM (SELECT doc_id, (doc_id * 31) % 100000 AS cents,
        |        CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |          WHEN 2 THEN 'fr' ELSE 'ja' END AS lang
        |      FROM range(100000) t(doc_id))
        |WHERE doc_id >= 31337 AND doc_id < 72001
        |GROUP BY lang""".stripMargin))(
      (s, _) => s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("partitions", "8").load()
        .where(col("doc_id") >= 31337L && col("doc_id") < 72001L)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("cents")).as("sum_cents"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))),

    // ---- The top rung of the V2 pushdown ladder: a global
    // count/min/max over the (already filter-pushed) doc_id bounds is
    // COMPLETELY pushed (SupportsPushDownAggregates) — the scan emits
    // ONE closed-form row and Spark plans no aggregate at all, so the
    // answer costs a subtraction however many rows the corpus claims
    // (SyntheticSourceSpec proves it at 10^12). The entry asserts the
    // push happened before returning, so the oracle gates the PUSHED
    // path, not a silent fallback to Spark's own aggregate. ----
    QueryDef("q_scan_dsv2_agg_pushdown", Some(
      """SELECT count(*) AS n_docs,
        |  count(DISTINCT doc_id) AS n_distinct,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  min(1704067200000000 + doc_id * 1000000) AS first_ts_us,
        |  max(1704067200000000 + doc_id * 1000000) AS last_ts_us
        |FROM range(100000) t(doc_id)
        |WHERE doc_id >= 20000 AND doc_id < 80000""".stripMargin))(
      (s, _) => {
        val out = s.read.format("graft.sources.SyntheticDocs")
          .option("rows", "100000").option("partitions", "8").load()
          .where(col("doc_id") >= 20000L && col("doc_id") < 80000L)
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("doc_id")).as("n_distinct"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            min(col("ts_us")).as("first_ts_us"),
            max(col("ts_us")).as("last_ts_us"))
        val pushed = out.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan.description()
        }
        assert(pushed.exists(_.contains("pushedAggregates=")),
          s"aggregate did not push into the v2 scan: $pushed")
        out
      }),

    // ---- GROUPED complete aggregate pushdown through the oracle
    // gate: lang IS doc_id mod 4, so each group is a residue class of
    // the filter-pushed range and its count/min/max are closed-form —
    // the scan emits four final group rows and Spark plans NO
    // aggregate (asserted in-entry). The sibling q_scan_dsv2_pushdown
    // keeps sum(cents) in its aggregate list, so it gates the REFUSAL
    // path (falls back to Spark's aggregate) against the same SQL
    // truth. ----
    QueryDef("q_scan_dsv2_group_pushdown", Some(
      """SELECT CASE doc_id % 4 WHEN 0 THEN 'en' WHEN 1 THEN 'de'
        |    WHEN 2 THEN 'fr' ELSE 'ja' END AS lang,
        |  count(*) AS n_docs,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |  min(1704067200000000 + doc_id * 1000000) AS first_ts_us
        |FROM range(100000) t(doc_id)
        |WHERE doc_id >= 12345 AND doc_id < 98765
        |GROUP BY 1""".stripMargin))(
      (s, _) => {
        val out = s.read.format("graft.sources.SyntheticDocs")
          .option("rows", "100000").option("partitions", "8").load()
          .where(col("doc_id") >= 12345L && col("doc_id") < 98765L)
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            min(col("doc_id")).as("first_doc"),
            max(col("doc_id")).as("last_doc"),
            min(col("ts_us")).as("first_ts_us"))
        val pushed = out.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan.description()
        }
        assert(pushed.exists(_.contains("groupBy=lang")),
          s"grouped aggregate did not push into the v2 scan: $pushed")
        out
      }),

    // ---- Fully-pushed TopN through the oracle gate: ORDER BY doc_id
    // DESC LIMIT 100 collapses to the closed-form tail sub-range
    // (SupportsPushDownTopN; Spark plans neither Sort nor Limit), and
    // the rows exist ONLY if the reversed window math is exact — an
    // off-by-one or a dropped composition with the pushed lower bound
    // breaks the hash. The entry asserts the push happened so the
    // oracle gates the PUSHED path. ----
    QueryDef("q_scan_dsv2_topn_pushdown", Some(
      """SELECT doc_id, doc_id % 9973 AS user_id,
        |  (doc_id * 31) % 100000 AS cents
        |FROM range(100000) t(doc_id)
        |WHERE doc_id >= 1000
        |ORDER BY doc_id DESC LIMIT 100""".stripMargin))(
      (s, _) => {
        val out = s.read.format("graft.sources.SyntheticDocs")
          .option("rows", "100000").option("partitions", "8").load()
          .where(col("doc_id") >= 1000L)
          .orderBy(col("doc_id").desc)
          .limit(100)
          .select(col("doc_id"), col("user_id"), col("cents"))
        val pushed = out.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan.description()
        }
        assert(pushed.exists(_.contains("pushedTopN=doc_id DESC n=100")),
          s"topN did not push into the v2 scan: $pushed")
        out
      }),

    // ---- The SAME DSv2 source through its MICRO-BATCH read path:
    // the offset is the doc_id position (nothing external to
    // corrupt), admission control caps each trigger at 25k rows so
    // the bounded AvailableNow run walks the corpus in 4 REAL
    // micro-batches (asserted), each planned as parallel stripes of
    // the delta. The sink's union must equal the batch corpus — the
    // same range() oracle gates offset tracking, delta planning, and
    // restart bookkeeping end to end. ----
    QueryDef("q_stream_dsv2_source_run", effectful = true, oracle = Some(
      """SELECT user_id, count(*) AS n_docs,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  min(ts_us) AS first_ts_us
        |FROM (SELECT doc_id, doc_id % 9973 AS user_id,
        |        1704067200000000 + doc_id * 1000000 AS ts_us,
        |        (doc_id * 31) % 100000 AS cents
        |      FROM range(100000) t(doc_id))
        |GROUP BY user_id""".stripMargin))(
      (s, _) => graft.ops.FrameCache.memo(s,
          s"stream:dsv2_source_run:${s.conf.get("spark.sql.shuffle.partitions")}") {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_dsv2_run_").toString
        val q = s.readStream.format("graft.sources.SyntheticDocs")
          .option("rows", "100000").option("partitions", "8")
          .option("rowsPerTrigger", "25000").load()
          .writeStream
          .format("parquet").option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(300000), "dsv2 stream did not finish")
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        assert(batches.length >= 4,
          s"admission control ignored: ${batches.length} batches for 4 caps")
        val out = s.read.parquet(s"$tmp/out")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("cents")).as("sum_cents"),
            min(col("ts_us")).as("first_ts_us"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- The V2 SINK through the oracle gate: orders flow through
    // the real DataSource V2 write protocol (KeyedTable — planner-
    // enforced key clustering, staged row-logs made visible only by
    // the driver's manifest commit) via the pipeline's AppendSink
    // seam, then the manifested shards are read BACK through the V2
    // scan and aggregated — the hash exists only if every row
    // survived the encode→commit→manifest→decode round trip exactly
    // once. KeyedTableSpec pins clustering, visibility, task-retry
    // and epoch-replay exactly-once. Cents are stored as BIGINT so
    // the sum is exact on both engines. ----
    QueryDef("q_sink_v2_keyed_roundtrip", effectful = true, oracle = Some(
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"sink:v2_keyed:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_v2sink_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          // via DECIMAL(18,2): a raw double*100 truncates in Spark but
          // ROUNDS in DuckDB's bigint cast — the decimal hop makes the
          // cents exact and engine-agnostic
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        graft.pipeline.V2KeyedTableSink("k").append(src, target)
        val out = s.read.format("graft.sources.KeyedTable").load(target)
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("sum_cents"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- The V2 table TAILED as a micro-batch stream, through the
    // oracle gate: orders land in the keyed table as TWO separate
    // commits, then the tail source replays the manifest log
    // incrementally (admission-controlled at one manifest per
    // trigger — >=2 real micro-batches asserted) into a file sink;
    // the aggregate over the tailed rows must hash-equal the same
    // SQL that gates the sink round trip. Offset = consumed manifest
    // set, so a lost or re-delivered commit breaks the hash. ----
    QueryDef("q_stream_ktable_tail_run", effectful = true, oracle = Some(
      """SELECT o_orderstatus AS status, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_orderstatus""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"stream:ktable_tail:$d") {
        import org.apache.spark.sql.streaming.Trigger
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ktail_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val half = src.agg(
          org.apache.spark.sql.functions.expr("percentile_approx(k, 0.5)"))
          .head.getLong(0)
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        sink.append(src.where(col("k") > half), target)
        val q = s.readStream.format("graft.sources.KeyedTable")
          .option("manifestsPerTrigger", "1")
          .load(target)
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(300000), "ktable tail did not finish")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
          "manifest pacing did not produce one micro-batch per commit")
        val out = s.read.parquet(s"$tmp/out")
          .groupBy(col("status"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("cents")).as("sum_cents"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- KEY LOOKUP against the V2 table, through the oracle gate:
    // orders land as TWO commits x 8 write buckets (16 committed
    // row-log files), then a two-key point lookup reads back. The
    // manifest records each file's key min/max AND its proven murmur3
    // write bucket, so the scan routes the lookup to the only files
    // that can hold the keys — the same pruning a partition-key
    // predicate gets from Cassandra token routing — asserted inside
    // the entry (planned partitions << committed files). All
    // predicates stay residual: stats prune FILES, Spark still
    // filters rows, so the hash is exact by construction. ----
    QueryDef("q_scan_ktable_key_lookup", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT min(o_orderkey) FROM orders
        |  UNION ALL SELECT max(o_orderkey) FROM orders)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_lookup:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_klookup_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        sink.append(src.where(col("k") > half), target)
        val committed = graft.sources.KeyedTable.committedFiles(target).size
        val lookup = s.read.format("graft.sources.KeyedTable").load(target)
          .where(col("k").isin(lo, hi))
        val scans = lookup.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.inputRDD.getNumPartitions
        }
        // scans.nonEmpty keeps the lint loud: an empty collect (plan
        // shape drift) must fail, not pass as "0 < committed"
        assert(scans.nonEmpty, "no v2 scan found in the lookup plan")
        val plannedFiles = scans.sum
        assert(plannedFiles < committed && plannedFiles <= 2,
          s"key lookup scanned $plannedFiles of $committed committed files " +
            "— manifest stats/bucket routing did not prune")
        val out = lookup.localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- CLUSTERED READ-BACK: a keyed aggregate over the V2 table
    // reuses the clustering the WRITE already paid for. The table is
    // loaded through graft.sources.KeyedTableCatalog (the
    // FunctionCatalog that makes the bucket transform resolvable), the
    // scan reports KeyGroupedPartitioning(bucket(8, k)) with one
    // HasPartitionKey partition per proven write bucket, and the
    // groupBy(k) plans NO Exchange — asserted inside the entry. At
    // 100 TB this is the difference between a free aggregate over
    // loaded keys and re-shuffling the whole table. ----
    QueryDef("q_scan_ktable_clustered_agg", effectful = true, oracle = Some(
      """SELECT o_custkey AS k, count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_custkey""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_clustered:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kclust_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_custkey").as("k"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val half = src.agg(expr("percentile_approx(k, 0.5)")).head.getLong(0)
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        sink.append(src.where(col("k") > half), target)
        // register + bucketing conf are SCOPED to this entry: the
        // result is materialized before restore, so no later entry's
        // plan depends on whether this one ran first (the same
        // session-hygiene rule the streaming runs follow for their
        // state-store provider)
        val out = withKeyedCatalog(s) {
          val agg = s.table(s"graft_keyed.`$target`")
            .groupBy(col("k"))
            .agg(count(lit(1)).as("n_orders"), sum(col("cents")).as("sum_cents"))
          // the clustering contract, linted on the EXECUTED plan: no
          // shuffle anywhere between the ktable scan and the aggregate
          assert(graft.ops.PlanChecks.countShuffles(
            agg.queryExecution.executedPlan) == 0,
            "keyed aggregate over the clustered read planned an Exchange — " +
              "the write's clustering was not reused")
          agg.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- STORAGE-PARTITIONED JOIN between two V2 keyed tables:
    // orders and customer are loaded into separate keyed tables
    // clustered on the same key domain (custkey, same modulus), then
    // joined ON that key and aggregated BY it through catalog-loaded
    // scans — the whole chain plans ZERO Exchange (in-entry lint):
    // both join sides and the aggregate ride the clustering the two
    // loads already paid for. At 100 TB this is joining two loaded
    // tables without shuffling either one. ----
    QueryDef("q_scan_ktable_spj", effectful = true, oracle = Some(
      """SELECT c_custkey AS k, c_mktsegment AS segment,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_mktsegment""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_spj:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kspj_").toString
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(Tables(s, d, "orders").select(
          col("o_custkey").as("k"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")), s"$tmp/orders_k")
        sink.append(Tables(s, d, "customer").select(
          col("c_custkey").as("k"),
          col("c_mktsegment").as("segment")), s"$tmp/customer_k")
        val out = withKeyedCatalog(s) {
          val o = s.table(s"graft_keyed.`$tmp/orders_k`")
          val c = s.table(s"graft_keyed.`$tmp/customer_k`")
          val agg = o.join(c, Seq("k"))
            .groupBy(col("k"), col("segment"))
            .agg(count(lit(1)).as("n_orders"),
              sum(col("cents")).as("sum_cents"))
          assert(graft.ops.PlanChecks.countShuffles(
            agg.queryExecution.executedPlan) == 0,
            "storage-partitioned join planned an Exchange — the two " +
              "loads' clustering was not reused")
          agg.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- MANIFEST-METADATA aggregate pushdown on the V2 table:
    // count(*) / count(key) / min(key) / max(key) over the loaded
    // table are answered from the manifest's per-file stats — zero
    // row-log bytes read, however many rows are committed (the
    // connector-side twin of the pipeline's parquet-footer progress
    // counts). In-entry assert: the push happened and Spark planned
    // NO aggregate node. ----
    QueryDef("q_scan_ktable_agg_pushdown", effectful = true, oracle = Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(o_orderkey) AS BIGINT) AS n_keys,
        |  min(o_orderkey) AS min_k, max(o_orderkey) AS max_k,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |    AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_agg:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kagg_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val half = src.agg(expr("percentile_approx(k, 0.5)")).head.getLong(0)
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        sink.append(src.where(col("k") > half), target)
        val agg = s.read.format("graft.sources.KeyedTable").load(target)
          .agg(count(lit(1)).as("n_rows"), count(col("k")).as("n_keys"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            sum(col("cents")).as("sum_cents"))
        val scans = agg.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
        }
        assert(scans.exists(_.scan.description().contains("pushedAggregates=")),
          "manifest aggregate did not push")
        assert(agg.queryExecution.executedPlan.collect {
          case h: org.apache.spark.sql.execution.aggregate.HashAggregateExec => h
          case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
        }.isEmpty, "complete pushdown still planned an aggregate node")
        val out = agg.localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- UPSERT SEMANTICS (the Cassandra data model the reference's
    // sink writes into — py:347-353: INSERT *is* an upsert resolved
    // per primary key by write time): writes stay pure appends; the
    // LATEST view resolves the current row per key declaratively
    // (max_by over the (_seq,_pos) metadata version — the table's
    // deterministic writetime). Loaded through the clustered catalog
    // the resolution rides the write's bucket clustering: the current
    // state of a 100 TB table plans ZERO Exchange (in-entry lint). ----
    QueryDef("q_ktable_upsert_latest", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    + CASE WHEN o_orderkey % 10 = 0 THEN 1000 ELSE 0 END AS cents
        |FROM orders""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:upsert_latest:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kup_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        // the UPSERT: every 10th key re-written with changed fields
        sink.append(src.where(col("k") % 10 === 0)
          .withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 1000), target)
        val out = withKeyedCatalog(s) {
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the latest view planned an Exchange — last-write-wins did " +
              "not reuse the write clustering")
          latest.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- KEY-ONLY DELETE via tombstone commits (Cassandra's delete
    // path): `DELETE FROM t WHERE k IN (...)` through SQL writes one
    // tiny marker file per write bucket — NOTHING is scanned, bytes
    // are O(#keys) however big the table — and last-write-wins hides
    // the keys. A later append of a deleted key outranks the marker
    // (re-insert works), proven in the result. ----
    QueryDef("q_ktable_delete_tombstone", effectful = true, oracle = Some(
      """WITH dels AS (
        |  SELECT o_orderkey AS dk FROM orders ORDER BY o_orderkey LIMIT 3),
        |mn AS (SELECT min(o_orderkey) AS m FROM orders)
        |SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
        |WHERE o_orderkey NOT IN (SELECT dk FROM dels)
        |UNION ALL
        |SELECT m AS k, 'R' AS status FROM mn""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:delete:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kdel_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        val dels = src.orderBy(col("k")).limit(3)
          .collect().map(_.getLong(0))
        val out = withKeyedCatalog(s) {
          val before = graft.sources.KeyedTable.committedFiles(target).size
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
          val added =
            graft.sources.KeyedTable.committedFiles(target).size - before
          assert(added <= dels.length,
            s"deleting ${dels.length} keys added $added files — the " +
              "delete must write markers, not rewrite the table")
          // re-insert the smallest deleted key: it must win again
          val o = s
          import o.implicits._
          sink.append(Seq((dels.min, "R")).toDF("k", "status"), target)
          graft.sources.KeyedTableOps.latest(s, target).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- TIME TRAVEL: `VERSION AS OF n` pins a read to the table's
    // state at commit sequence n — later commits (and snapshot
    // rewrites above the fence) are invisible, the Spark-native
    // spelling of a snapshot-consistent read over the migration
    // target. ----
    QueryDef("q_ktable_time_travel", effectful = true,
      oracle = Some(timeTravelOracleSql))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:time_travel:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ktt_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        val v1 = graft.sources.KeyedTable.currentSeq(target)
        sink.append(src.where(col("k") > half), target)
        // commit 3 mutates history ABOVE the pin: it must stay invisible
        sink.append(src.where(col("k") <= half)
          .withColumn("status", lit("X")), target)
        val out = withKeyedCatalog(s) {
          s.sql(s"SELECT * FROM graft_keyed.`$target` VERSION AS OF $v1")
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- SNAPSHOT REWRITE COMPACTION (Cassandra compaction / Delta
    // OPTIMIZE): the upsert+delete log folds into ONE clustered
    // snapshot commit — latest row per key, deleted keys dropped,
    // tombstones purged after grace — committed AT the fence sequence
    // and superseding exactly what it merged, so racing commits
    // outrank it and tail streams never see it (dataChange=false).
    // In-entry: the live set collapses to the snapshot, vacuum
    // reclaims superseded bytes without touching live ones, and the
    // latest view hashes identically before and after (the oracle IS
    // that view). ----
    QueryDef("q_ktable_rewrite_compact", effectful = true, oracle = Some(
      """WITH dels AS (
        |  SELECT o_orderkey AS dk FROM orders ORDER BY o_orderkey LIMIT 2)
        |SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    + CASE WHEN o_orderkey % 10 = 0 THEN 1000 ELSE 0 END AS cents
        |FROM orders
        |WHERE o_orderkey NOT IN (SELECT dk FROM dels)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:rewrite:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_krw_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        sink.append(src.where(col("k") % 10 === 0)
          .withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 1000), target)
        val dels = src.orderBy(col("k")).limit(2)
          .collect().map(_.getLong(0))
        val out = withKeyedCatalog(s) {
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
          val folded = graft.sources.KeyedTableOps
            .rewriteCompact(s, target, tombstoneGraceMs = 0)
          assert(folded.isDefined, "three commits + tombstones must fold")
          val live = graft.sources.KeyedTable.liveManifestNames(target)
          assert(live == Seq(folded.get),
            s"live set after rewrite must be the snapshot alone: $live")
          val liveFiles = graft.sources.KeyedTable.liveFiles(target).toSet
          val reclaimed = graft.sources.KeyedTable.vacuum(target, graceMs = 0)
          assert(reclaimed.nonEmpty && !reclaimed.exists(liveFiles),
            "vacuum must reclaim superseded bytes and only those")
          graft.sources.KeyedTableOps.latest(s, target).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- ATOMIC OVERWRITE (Cassandra truncate-then-load, one commit):
    // `mode("overwrite")` commits the new rows in a manifest that
    // SUPERSEDES everything live at commit time — readers never see an
    // intermediate empty table, history stays time-travelable until
    // vacuum's grace, and appends after the overwrite compose under
    // last-write-wins as usual. ----
    QueryDef("q_ktable_overwrite_load", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status
        |FROM orders
        |WHERE o_orderkey <=
        |    (SELECT (min(o_orderkey) + max(o_orderkey)) // 2 FROM orders)
        |  OR o_orderkey % 10 = 0""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:overwrite:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kovr_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        // the OVERWRITE: replace the whole table with its lower half
        src.where(col("k") <= half)
          .write.format("graft.sources.KeyedTable")
          .option("key", "k").option("writePartitions", "8")
          .mode("overwrite").save(target)
        assert(graft.sources.KeyedTable.liveManifestNames(target).size == 1,
          "overwrite must supersede every previous live manifest")
        // post-overwrite appends compose under last-write-wins
        sink.append(src.where(col("k") % 10 === 0)
          .withColumn("status", lit("U")), target)
        val out = withKeyedCatalog(s) {
          graft.sources.KeyedTableOps.latest(s, target).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- STREAMING MATERIALIZATION of the upsert log (the "migrate,
    // then serve downstream" composition): the table's change feed —
    // tailed with `withVersion`, which advertises the version columns
    // as real schema (streaming scans have no pruning phase to request
    // metadata columns through) — is folded per micro-batch into a
    // materialized latest-state store: LWW merge of (state ∪ batch) on
    // the explicit (_seq,_pos) version, so the result is ORDER-
    // INDEPENDENT, tombstones hide keys, and a re-delivered commit
    // merges idempotently. Runs through the REAL streaming runtime
    // (AvailableNow, one commit per micro-batch, asserted). ----
    QueryDef("q_stream_ktable_materialize_run", effectful = true,
      oracle = Some(
        """WITH dels AS (
          |  SELECT o_orderkey AS dk FROM orders ORDER BY o_orderkey LIMIT 3)
          |SELECT o_orderkey AS k,
          |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
          |    AS status,
          |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          |    + CASE WHEN o_orderkey % 10 = 0 THEN 1000 ELSE 0 END AS cents
          |FROM orders
          |WHERE o_orderkey NOT IN (SELECT dk FROM dels)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:materialize:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kmat_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        sink.append(src.where(col("k") % 10 === 0)
          .withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 1000), target)
        val dels = src.orderBy(col("k")).limit(3)
          .collect().map(_.getLong(0))
        withKeyedCatalog(s) {
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
        }
        // the materialized store keeps markers + versions so merges
        // stay order-independent and idempotent
        val stateCols = Seq("k", "status", "cents",
          "_tombstone", "_seq", "_pos")
        def lww(df: org.apache.spark.sql.DataFrame) = {
          val payload = stateCols.filterNot(_ == "k")
          df.groupBy(col("k"))
            .agg(max_by(struct(payload.map(col): _*),
              struct(col("_seq"), col("_pos"))).as("__w"))
            .select(col("k") +: payload.map(c => col(s"__w.`$c`").as(c)): _*)
        }
        val stateDir = s"$tmp/state"
        val q = s.readStream.format("graft.sources.KeyedTable")
          .option("withVersion", "true")
          .option("manifestsPerTrigger", "1").load(target)
          .writeStream
          .option("checkpointLocation", s"$tmp/ckpt")
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            val batch = b.select(stateCols.map(col): _*)
            val merged =
              if (new java.io.File(s"$stateDir/_SUCCESS").exists())
                lww(s.read.parquet(stateDir).unionByName(batch))
              else lww(batch)
            // pin the merge before overwriting its own input
            val pinned = merged.localCheckpoint(true)
            pinned.write.mode("overwrite").parquet(stateDir)
            pinned.unpersist()
            ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(300000), "materialize run did not finish")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
          "expected one micro-batch per commit (2 loads + 1 delete)")
        val out = s.read.parquet(stateDir)
          .where(!col("_tombstone"))
          .select(col("k"), col("status"), col("cents"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- STREAMING CHANGE DATA FEED (Delta's readChangeFeed
    // spelling): the same log tailed CLASSIFIED — each micro-batch
    // delivers insert / update_preimage / update_postimage / delete
    // events with their commit versions, computed EXCHANGE-FREE per
    // write bucket inside the source's readers (slice + preimage state
    // co-locate by the write clustering; the batch twin
    // KeyedTableOps.changeDataFeed pays a lag-window shuffle for the
    // same rows). Runs through the real streaming runtime, one commit
    // per micro-batch, so every update's preimage crosses a BATCH
    // boundary — the state hand-off is what's under test. ----
    QueryDef("q_stream_ktable_cdf_run", effectful = true,
      oracle = Some(
        """WITH src AS (
          |  SELECT o_orderkey AS k, o_orderstatus AS status,
          |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          |      AS cents
          |  FROM orders),
          |dels AS (SELECT k AS dk FROM src ORDER BY k LIMIT 3)
          |SELECT k, status, cents, 'insert' AS _change_type,
          |  CAST(1 AS BIGINT) AS _commit_version FROM src
          |UNION ALL
          |SELECT k, status, cents, 'update_preimage', CAST(2 AS BIGINT)
          |FROM src WHERE k % 10 = 0
          |UNION ALL
          |SELECT k, 'U', cents + 1000, 'update_postimage', CAST(2 AS BIGINT)
          |FROM src WHERE k % 10 = 0
          |UNION ALL
          |SELECT k, CASE WHEN k % 10 = 0 THEN 'U' ELSE status END,
          |  cents + CASE WHEN k % 10 = 0 THEN 1000 ELSE 0 END,
          |  'delete', CAST(3 AS BIGINT)
          |FROM src WHERE k IN (SELECT dk FROM dels)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:cdfstream:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcdfs_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target) // seq 1: inserts
        sink.append(src.where(col("k") % 10 === 0) // seq 2: updates
          .withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 1000), target)
        val dels = src.orderBy(col("k")).limit(3)
          .collect().map(_.getLong(0))
        withKeyedCatalog(s) { // seq 3: deletes
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
        }
        val outDir = s"$tmp/out"
        val q = s.readStream.format("graft.sources.KeyedTable")
          .option("readChangeFeed", "true")
          .option("manifestsPerTrigger", "1").load(target)
          .writeStream.format("parquet")
          .option("path", outDir)
          .option("checkpointLocation", s"$tmp/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        assert(q.awaitTermination(300000), "CDF stream did not finish")
        assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
          "expected one micro-batch per commit (2 loads + 1 delete)")
        val out = s.read.parquet(outDir)
          .select(col("k"), col("status"), col("cents"),
            col("_change_type"), col("_commit_version"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- COMPOSITE PRIMARY KEY (Cassandra's full key model:
    // partition key + clustering columns): the customer-partition /
    // orders-as-rows shape — PK (custkey, orderkey), the table
    // clusters/routes/deletes on the PARTITION key, resolution happens
    // per full key tuple, and a partition-key tombstone acts as a
    // RANGE tombstone hiding the whole partition (every order of the
    // deleted customers disappears at once). The full-key aggregate
    // still rides the write clustering (grouping on a superset of the
    // partition key); the tombstone cuts are a tiny broadcast. (The
    // lineitem (orderkey, linenumber) spelling would be the textbook
    // PK, but the synthetic fixture does not keep it unique — orders'
    // (custkey, orderkey) is unique by construction.) ----
    QueryDef("q_ktable_latest_composite", effectful = true, oracle = Some(
      """WITH dels AS (
        |  SELECT DISTINCT o_custkey AS dk FROM orders
        |  ORDER BY dk LIMIT 2)
        |SELECT o_custkey AS k, o_orderkey AS ord,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status
        |FROM orders
        |WHERE o_custkey NOT IN (SELECT dk FROM dels)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:composite:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcomp_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_custkey").as("k"),
          col("o_orderkey").as("ord"),
          col("o_orderstatus").as("status"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        // upsert a SUBSET of (k, ord) tuples — the customer's other
        // orders must keep their original values
        sink.append(src.where(col("ord") % 10 === 0)
          .withColumn("status", lit("U")), target)
        val dels = src.select("k").distinct().orderBy(col("k")).limit(2)
          .collect().map(_.getLong(0))
        val out = withKeyedCatalog(s) {
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
          val t = s.table(s"graft_keyed.`$target`")
          val latest = graft.sources.KeyedTableOps
            .latestOver(t, Seq("k", "ord"))
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "composite latest view planned a shuffle — grouping on a " +
              "superset of the partition key must ride the clustering")
          latest.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- COUNTER COLUMNS (Cassandra's counter tables): every append
    // is a commutative INCREMENT — writers never read-modify-write —
    // and the read merges by SUM per key instead of last-write-wins.
    // A key-delete RESETS the counter (earlier increments stop
    // counting; later ones count from zero; a key with no surviving
    // increments is absent). Increments here are order rows per
    // customer: a base wave, a second wave for every 10th order, a
    // reset of the two smallest customers, then fresh increments for
    // the smallest — the read is one clustered aggregate. ----
    QueryDef("q_ktable_counter", effectful = true, oracle = Some(
      s"""$counterIncCte
        |SELECT k, CAST(count(*) AS BIGINT) AS n_inc,
        |  CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM inc GROUP BY k""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:counter:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcnt_").toString
        val target = s"$tmp/t"
        val out = withKeyedCatalog(s) {
          buildCounterTable(s, d, target)
          val totals = graft.sources.KeyedTableOps
            .counterTotals(s, target, Seq("cents"))
          assert(graft.ops.PlanChecks.countShuffles(
            totals.queryExecution.executedPlan) == 0,
            "counter totals planned an Exchange — the sum-merge must " +
              "ride the write clustering")
          totals.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- COUNTER COMPACTION: the fold obeys the table's DECLARED
    // merge discipline (`merge=counter` table property). A counter
    // table's snapshot rewrite merges increments ADDITIVELY per key —
    // Cassandra compaction merging counter shards — never
    // last-write-wins (which would silently collapse each key's
    // increment history to its latest row and corrupt every sum).
    // Gated on the same increment fixture as q_ktable_counter, minus
    // n_inc: the fold legitimately collapses increment COUNTS (one
    // snapshot row carries the accumulated total) while sums must not
    // move a cent — asserted both against the oracle and pre-vs-post
    // inside the entry. ----
    QueryDef("q_ktable_counter_compact", effectful = true, oracle = Some(
      s"""$counterIncCte
        |SELECT k, CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM inc GROUP BY k""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:counter_compact:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcntc_").toString
        val target = s"$tmp/t"
        val out = withKeyedCatalog(s) {
          buildCounterTable(s, d, target)
          graft.sources.KeyedTableOps.declareMerge(target, "counter")
          def totals = graft.sources.KeyedTableOps
            .counterTotals(s, target, Seq("cents"))
            .select(col("k"), col("sum_cents"))
          val pre = totals.localCheckpoint(true)
          val manifestsBefore =
            graft.sources.KeyedTable.liveManifestNames(target).size
          val folded = graft.sources.KeyedTableOps
            .rewriteCompact(s, target, tombstoneGraceMs = 0)
          assert(folded.isDefined, "counter fold did not commit")
          assert(graft.sources.KeyedTable.liveManifestNames(target).size
            < manifestsBefore,
            "the fold must shrink the live manifest set")
          val post = totals.localCheckpoint(true)
          assert(pre.except(post).isEmpty && post.except(pre).isEmpty,
            "counter sums moved across the fold — compaction must " +
              "merge increments additively, not last-write-wins")
          post
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- TTL (Cassandra's USING TTL, per-commit granularity — the
    // bulk-load shape): a write with ttlMs expires that many millis
    // after its commit; expiry is a READ-time property (expired
    // commits stop planning everywhere, time travel included), the
    // bytes become vacuum-reclaimable after the grace, and the change
    // feed still carries the events. Tested with the two deterministic
    // extremes: ttl 0 (born expired) never appears, a huge ttl always
    // does. ----
    QueryDef("q_ktable_ttl_expiry", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_orderstatus AS status FROM orders
        |WHERE o_orderkey % 3 <> 0""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:ttl:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kttl_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        def write(df: org.apache.spark.sql.DataFrame, ttl: Option[Long]) = {
          val w = df.write.format("graft.sources.KeyedTable")
            .option("key", "k").option("writePartitions", "8")
          ttl.foreach(t => w.option("ttlMs", t.toString))
          w.mode("append").save(target)
        }
        // durable half (ttl ~forever) and an ephemeral half (born
        // expired): only the durable rows may ever be read
        write(src.where(col("k") % 3 =!= 0), Some(365L * 24 * 3600 * 1000))
        write(src.where(col("k") % 3 === 0), Some(0L))
        val all = graft.sources.KeyedTable.committedFiles(target).size
        val live = graft.sources.KeyedTable.liveFiles(target).size
        assert(live < all,
          "the expired commit must be referenced but not live")
        val out = withKeyedCatalog(s) {
          graft.sources.KeyedTableOps.latest(s, target).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- CDC APPLY, third rendering: the keyed table IS a
    // changelog-apply target. The same I/U/D changelog the batch
    // window apply (q_migrate_cdc_apply) and the streaming
    // transformWithState machine (q_stream_cdc_run) consume is here
    // applied with NOTHING but the table's native verbs — upsert waves
    // are plain appends, the delete wave is one key-predicate DELETE
    // (tombstones, nothing scanned), and the final state is the
    // shuffle-free latest view. All three implementations are gated on
    // the ONE oracle (composed below), so they can never drift. ----
    QueryDef("q_ktable_cdc_apply", effectful = true, oracle = Some(
      QueryDef.requireOracle(MigrationQueries.defs, "q_migrate_cdc_apply",
        "q_ktable_cdc_apply")))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:cdc_apply:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcdc_").toString
        val target = s"$tmp/t"
        val log = MigrationQueries.cdcLog(s, d)
        def wave(seq: Int) = log.where(col("seq") === seq)
          .select(col("k"), col("op").as("last_op"), col("status"),
            col("cents"), col("seq").cast("bigint").as("version"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(wave(0), target)
        sink.append(wave(1), target)
        val delKeys = log.where(col("op") === "D")
          .select("k").collect().map(_.getLong(0))
        val out = withKeyedCatalog(s) {
          val before = graft.sources.KeyedTable.committedFiles(target).size
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${delKeys.mkString(", ")})")
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            s"deleting ${delKeys.length} keys must cost marker files " +
              "per bucket, not a table rewrite")
          sink.append(wave(3), target)
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the applied state must read shuffle-free")
          latest.select(col("k").as("o_orderkey"), col("last_op"),
            col("status"), col("cents"), col("version"))
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- ALL-COLUMN ZONE MAPS: every manifest line now carries
    // per-column (nulls, min, max), so a NON-key predicate — exactly
    // the reference's own filter surface (x_cust_id ranges / IN-lists,
    // json:53-58 applied at py:118-120) — prunes committed files
    // before a byte is read. Orders load as two commits split by
    // CUSTKEY range (the incremental-load shape: each commit's files
    // have tight custkey zones even though the table is keyed and
    // bucketed on ORDERKEY); a custkey range probe must plan only the
    // matching commit's files (in-entry lint: planned < committed).
    // Then a snapshot rewrite folds the commits and a KEY point lookup
    // proves compaction tightens planning further: one file after vs
    // one per commit before. ----
    QueryDef("q_scan_ktable_zonemap_prune", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS status
        |FROM orders
        |WHERE o_custkey <=
        |  (SELECT (min(o_custkey) + max(o_custkey)) // 2 FROM orders)
        |""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_zonemap:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kzone_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_custkey").as("ck"),
          col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("ck")), max(col("ck"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("ck") <= half), target)
        sink.append(src.where(col("ck") > half), target)
        def planned(df: org.apache.spark.sql.DataFrame): Int = {
          val scans = df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }
          assert(scans.nonEmpty, "no v2 scan found in the plan")
          scans.sum
        }
        def read = s.read.format("graft.sources.KeyedTable").load(target)
        val committed = graft.sources.KeyedTable.committedFiles(target).size
        val probe = read.where(col("ck") <= half)
        assert(planned(probe) <= committed / 2,
          s"non-key zone maps did not prune: planned ${planned(probe)} " +
            s"of $committed committed files on a half-range custkey probe")
        // compaction tightens KEY planning deterministically via an
        // UPSERT: re-write the smallest key (third commit), so its
        // versions live in two commits — a point lookup must plan a
        // candidate file in each (bucket + range both pass: the key IS
        // there) — then fold; the snapshot holds the key exactly once
        val key0 = src.agg(min(col("k"))).head.getLong(0)
        sink.append(src.where(col("k") === key0), target)
        def lookup = read.where(col("k") === key0)
        val lookupBefore = planned(lookup)
        assert(lookupBefore >= 2,
          s"upserted key must plan one candidate file per commit, got $lookupBefore")
        val folded = graft.sources.KeyedTableOps
          .rewriteCompact(s, target, tombstoneGraceMs = 0)
        assert(folded.isDefined, "snapshot rewrite did not commit")
        assert(planned(lookup) == 1,
          s"compaction did not tighten planning: $lookupBefore files " +
            s"before, ${planned(lookup)} after (want 1)")
        val out = read.where(col("ck") <= half).localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- PER-FILE BLOOM FILTERS (declared columns): zone maps prune
    // RANGES — a HIGH-CARDINALITY equality probe over unsorted data
    // (md5 digest = '…') sits inside every file's [min, max] and scans
    // everything. Declaring the column makes every writer task emit a
    // per-file Bloom sidecar the planner consults AFTER zone maps.
    // In-entry lint proves the contrast on the same data: on an
    // UNDECLARED twin table the digest probe plans EVERY committed
    // file (zone maps admit them all); on the declared table the same
    // probe plans ≪ committed, and an in-range ABSENT digest plans
    // ZERO files. ----
    QueryDef("q_scan_ktable_bloom_prune", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k,
        |  md5(CAST(o_orderkey AS VARCHAR)) AS h,
        |  o_orderstatus AS status
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_bloom:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kbloom_").toString
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          md5(col("o_orderkey").cast("string").cast("binary")).as("h"),
          col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        def load(t: String): Unit = {
          sink.append(src.where(col("k") <= half), t)
          sink.append(src.where(col("k") > half), t)
        }
        val plain = s"$tmp/plain"
        val bloomed = s"$tmp/bloomed"
        graft.sources.KeyedTableOps.declareTable(bloomed, "k", 8)
        graft.sources.KeyedTableOps.declareBloomColumns(bloomed, Seq("h"))
        load(plain)
        load(bloomed)
        def planned(df: org.apache.spark.sql.DataFrame): Int = {
          val scans = df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }
          assert(scans.nonEmpty, "no v2 scan found in the plan")
          scans.sum
        }
        def read(t: String) =
          s.read.format("graft.sources.KeyedTable").load(t)
        val key0 = src.agg(min(col("k"))).head.getLong(0)
        val probeH = src.where(col("k") === key0).head.getString(1)
        val committed = graft.sources.KeyedTable.committedFiles(plain).size
        // control: zone maps alone admit EVERY file for the digest probe
        val unpruned = planned(read(plain).where(col("h") === probeH))
        assert(unpruned == committed,
          s"control broke: zone maps should admit all $committed files " +
            s"for a digest probe, planned $unpruned")
        // the blooms prune the same probe to a fraction
        val pruned = planned(read(bloomed).where(col("h") === probeH))
        assert(pruned >= 1 && pruned * 2 <= committed,
          s"bloom pruning too weak: planned $pruned of $committed")
        // an in-range ABSENT digest plans NOTHING (every sidecar rejects)
        val absentH = probeH.take(16) + "0000000000000000"
        assert(planned(read(bloomed).where(col("h") === absentH)) == 0,
          "absent digest must prune every file via the blooms")
        val out = read(bloomed).where(col("h") === probeH)
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- Z-ORDER COMPACTION: a `zorder(a,b)` sort declaration makes
    // rewriteCompact fold each bucket by the MORTON INTERLEAVE of the
    // two columns — the fold pre-shapes the frame (hash repartition by
    // key = the bucket routing, curve sort within tasks) and rolls
    // files into tight 2-D BOXES, so the per-column zone maps already
    // in every manifest line serve box predicates on BOTH columns.
    // In-entry lint: the same box probe over a LEXICOGRAPHIC fold of
    // identical content (sorted (partkey, suppkey)) plans strictly
    // more files — lexicographic order serves only its leading
    // column. ----
    QueryDef("q_ktable_zorder_compact", effectful = true, oracle = Some(
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_custkey AS p,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS s
        |  FROM orders),
        |st AS (
        |  SELECT min(p) AS plo, max(p) AS phi,
        |         min(s) AS slo, max(s) AS shi
        |  FROM src),
        |bx AS (
        |  SELECT plo + (phi - plo + 1) // 4 AS pb0,
        |         plo + 3 * ((phi - plo + 1) // 4) - 1 AS pb1,
        |         slo + (shi - slo + 1) // 2 AS sb0,
        |         slo + (shi - slo + 1) // 2
        |           + greatest((shi - slo + 1) // 16, 1) - 1 AS sb1
        |  FROM st)
        |SELECT k, p, s FROM src, bx
        |WHERE p BETWEEN pb0 AND pb1
        |  AND s BETWEEN sb0 AND sb1""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:zorder:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kzo_").toString
        // key = o_orderkey (UNIQUE — lineitem's (orderkey, linenumber)
        // is not unique in this fixture, and an LWW fold dedupes);
        // dims = (custkey, total cents): mutually uncorrelated, both
        // uncorrelated with the key's clustering
        // eager persist: the frame feeds SIX downstream jobs (the
        // stats head, and two appends into each of the two tables) —
        // one scan into blocks instead of six parquet re-scans, built
        // race-free because the consumers are sequential driver jobs
        // (round-20 two-fold reuse; the folds themselves stay two, they
        // are the operation under proof). Unpersisted after the builds.
        val src = graft.ops.ScanPar.eager(
          Tables(s, d, "orders").select(
            col("o_orderkey").as("k"),
            col("o_custkey").as("p"),
            (col("o_totalprice").cast("decimal(18,2)") * 100)
              .cast("long").as("s")))
        // one job for the zone stats AND the row count (was two)
        val st = src.agg(min(col("p")), max(col("p")),
          min(col("s")), max(col("s")), count(lit(1))).head
        val (plo, phi, slo, shi) =
          (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
        val srcRows = st.getLong(4)
        // the probe box: middle HALF of p, a sliver of s — wide in the
        // lexicographic leading column, narrow in the second
        val (pb0, pb1) = (plo + (phi - plo + 1) / 4,
          plo + 3 * ((phi - plo + 1) / 4) - 1)
        val sWidth = math.max((shi - slo + 1) / 16, 1L)
        val (sb0, sb1) = (slo + (shi - slo + 1) / 2,
          slo + (shi - slo + 1) / 2 + sWidth - 1)
        val sink = graft.pipeline.V2KeyedTableSink("k")
        val rollAt = math.max(srcRows / 256, 16L)
        def build(t: String): Unit = {
          sink.append(src.where(col("k") % 2 === 0), t)
          sink.append(src.where(col("k") % 2 === 1), t)
          assert(graft.sources.KeyedTableOps.rewriteCompact(s, t,
            tombstoneGraceMs = 0, targetFileRows = rollAt).isDefined,
            "fold did not commit")
        }
        val lex = s"$tmp/lex"
        val zed = s"$tmp/zed"
        graft.sources.KeyedTableOps.declareTable(lex, "k", 8)
        graft.sources.KeyedTableOps.declareSortOrder(lex, Seq("p", "s"))
        graft.sources.KeyedTableOps.declareTable(zed, "k", 8)
        graft.sources.KeyedTableOps.declareZOrder(zed, Seq("p", "s"))
        build(lex); build(zed)
        src.unpersist(blocking = false)
        def planned(df: org.apache.spark.sql.DataFrame): Int = {
          val scans = df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }
          assert(scans.nonEmpty, "no v2 scan found in the plan")
          scans.sum
        }
        def boxOf(t: String) =
          s.read.format("graft.sources.KeyedTable").load(t)
            .where(col("p").between(pb0, pb1) &&
              col("s").between(sb0, sb1))
        val plannedLex = planned(boxOf(lex))
        val plannedZed = planned(boxOf(zed))
        assert(plannedZed < plannedLex,
          s"zorder fold must plan strictly fewer files than the " +
            s"lexicographic fold on a 2-D box: z=$plannedZed " +
            s"lex=$plannedLex (committed " +
            s"${graft.sources.KeyedTable.liveFiles(zed).size})")
        val out = boxOf(zed).localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- EVOLUTION PURELY VIA SQL: every lifecycle step in its SQL
    // spelling — CREATE TABLE with the write contract, INSERT INTO,
    // ALTER TABLE ADD COLUMNS (schema evolution), ALTER TABLE SET
    // TBLPROPERTIES (sort declaration through the validated declare*
    // path), a second INSERT at the evolved width, and CALL
    // graft_keyed.compact(...) (Spark 4 native procedure). In-entry
    // lints: the fold collapsed the live set to ONE manifest, and the
    // declared sort made a range probe on the sorted column plan fewer
    // files than committed. ----
    QueryDef("q_ktable_evolve_sql", effectful = true, oracle = Some(
      """WITH st AS (
        |  SELECT (min(o_orderkey) + max(o_orderkey)) // 2 AS half
        |  FROM orders)
        |SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    AS cents,
        |  CASE WHEN o_orderkey > half THEN 'evolved' END AS note
        |FROM orders, st""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:evolve_sql:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kevo_").toString
        val t = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        src.createOrReplaceTempView("graft_evolve_src")
        val rollAt = math.max(src.count() / 64, 32L)
        val out = withKeyedCatalog(s) {
          s.sql(s"CREATE TABLE graft_keyed.`$t` " +
            "(k BIGINT, status STRING, cents BIGINT) " +
            "TBLPROPERTIES('key'='k', 'writePartitions'='8')")
          s.sql(s"INSERT INTO graft_keyed.`$t` " +
            s"SELECT k, status, cents FROM graft_evolve_src " +
            s"WHERE k <= $half")
          s.sql(s"ALTER TABLE graft_keyed.`$t` ADD COLUMNS (note STRING)")
          s.sql(s"ALTER TABLE graft_keyed.`$t` " +
            "SET TBLPROPERTIES('sortOrder'='cents')")
          s.sql(s"INSERT INTO graft_keyed.`$t` " +
            s"SELECT k, status, cents, 'evolved' FROM graft_evolve_src " +
            s"WHERE k > $half")
          val receipt = s.sql(
            s"CALL graft_keyed.compact('$t', $rollAt)").collect()
          assert(receipt.head.getString(0) != null,
            "the SQL-spelled fold must commit")
          assert(graft.sources.KeyedTable.liveManifestNames(t).size == 1,
            "the fold must collapse the live set to one manifest")
          // the SQL-declared sort order reached the fold: a range probe
          // on the sorted column plans fewer files than committed
          val committed = graft.sources.KeyedTable.liveFiles(t).size
          val probe = s.read.format("graft.sources.KeyedTable").load(t)
            .where(col("cents") <= src.agg(
              percentile_approx(col("cents"), lit(0.25), lit(100)))
              .head.getLong(0))
          val planned = probe.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }.sum
          assert(planned < committed,
            s"the declared sort must tighten zone maps: planned " +
              s"$planned of $committed files")
          s.sql(s"SELECT k, status, cents, note FROM graft_keyed.`$t`")
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- NDV STATISTICS FOR THE COST-BASED OPTIMIZER: every file's
    // manifest line now carries per-column KMV distinct sketches (64
    // smallest murmur3 hashes — mergeable by union), and the scan
    // reports the PRUNED read's per-column distinct counts, null
    // counts, and zone-map min/max through V2 columnStats. With CBO
    // on, a 3-way join over keyed tables orders itself by the join
    // keys' NDV, unhinted: two dims with IDENTICAL row counts — row
    // stats alone cannot tell them apart — join selective-first, and
    // the in-entry lint proves the order FLIPS when the NDV roles
    // flip. ----
    QueryDef("q_ktable_cbo_reorder", effectful = true, oracle = Some(
      """WITH f AS (
        |  SELECT o_orderkey AS k, o_custkey AS ja,
        |    o_orderkey % 8 AS jb,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |a AS (SELECT c_custkey AS k, c_name AS pay FROM customer),
        |b AS (SELECT c_custkey AS k, c_custkey % 8 AS j, c_name AS pay
        |      FROM customer)
        |SELECT count(*) AS cnt,
        |  CAST(sum(f.cents) AS BIGINT) AS cents_sum
        |FROM f JOIN a ON f.ja = a.k JOIN b ON f.jb = b.j""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:cbo_reorder:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcbo_").toString
        val sink = graft.pipeline.V2KeyedTableSink("k")
        val fact = s"$tmp/fact"
        sink.append(Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_custkey").as("ja"),
          (col("o_orderkey") % 8).as("jb"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents")), fact)
        // the dims: SAME rows and bytes, different join-key NDV — a is
        // joined on its UNIQUE key, b on an 8-distinct bucket column
        val dimA = s"$tmp/dim_a"
        val dimB = s"$tmp/dim_b"
        val cust = Tables(s, d, "customer")
        sink.append(cust.select(col("c_custkey").as("k"),
          col("c_name").as("pay")), dimA)
        sink.append(cust.select(col("c_custkey").as("k"),
          (col("c_custkey") % 8).as("j"), col("c_name").as("pay")), dimB)
        def innermostDim(df: org.apache.spark.sql.DataFrame): String = {
          val joins = df.queryExecution.optimizedPlan.collect {
            case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
          }
          assert(joins.size == 2, s"expected a 3-way join, got $joins")
          joins.last.collectLeaves().flatMap {
            case r: org.apache.spark.sql.execution.datasources.v2
                .DataSourceV2ScanRelation => Some(r.scan.description())
            case _ => None
          }.mkString(" ")
        }
        val out = withKeyedCbo(s) {
          def t(p: String) = s.read.table(s"graft_keyed.`$p`")
          val q1 = t(fact).as("f")
            .join(t(dimA).as("a"), col("f.ja") === col("a.k"))
            .join(t(dimB).as("b"), col("f.jb") === col("b.j"))
          val inner1 = innermostDim(q1)
          assert(inner1.contains("dim_a") && !inner1.contains("dim_b"),
            s"CBO must join the selective (unique-key) dim first, " +
              s"unhinted: $inner1")
          // flip the roles: join a on the 8-distinct column, b on
          // the unique key — the order must flip with the NDV
          val q2 = t(fact).as("f")
            .join(t(dimB).as("b"), col("f.jb") === col("b.j"))
            .join(t(dimA).as("a"), col("f.ja") === col("a.k"))
          val inner2 = innermostDim(q2)
          assert(inner2.contains("dim_a") && !inner2.contains("dim_b"),
            s"the join order must follow the NDV, not the written " +
              s"order: $inner2")
          q1.agg(count(lit(1)).as("cnt"),
            sum(col("f.cents")).as("cents_sum")).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- ZONE-MAP-DERIVED EQUI-HEIGHT HISTOGRAMS FOR THE CBO: each
    // planned file's (rows, min, max) manifest line contributes a
    // uniform density; the merged CDF cuts into catalyst equi-height
    // bins, reported through V2 columnStats.histogram() — ZERO new
    // write-path cost, and after a sorted fold heavy values become
    // zero-width bins (catalyst's own skew representation). The lint:
    // a skewed key's JOIN cardinality estimates within 8x of truth
    // with the histogram, and underestimates by > 8x without it (the
    // misestimate that makes a planner broadcast a huge intermediate
    // at cluster scale). ----
    QueryDef("q_ktable_cbo_histogram", effectful = true, oracle = Some(
      """WITH f AS (
        |  SELECT o_orderkey AS k,
        |    CASE WHEN o_orderkey % 2 = 0 THEN 1
        |         ELSE o_orderkey % 997 + 2 END AS j
        |  FROM orders),
        |d AS (
        |  SELECT c_custkey AS k,
        |    CASE WHEN c_custkey % 2 = 0 THEN 1
        |         ELSE c_custkey % 997 + 2 END AS j
        |  FROM customer)
        |SELECT CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(f.k + d.k) AS BIGINT) AS keysum
        |FROM f JOIN d ON f.j = d.j""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:cbo_histogram:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_khst_").toString
        def skew(c: org.apache.spark.sql.Column) =
          when(c % 2 === 0, lit(1L)).otherwise(c % 997 + 2)
        val fact = s"$tmp/fact"
        val dim = s"$tmp/dim"
        def build(path: String, src: org.apache.spark.sql.DataFrame): Unit = {
          src.write.format("graft.sources.KeyedTable")
            .option("key", "k").option("writePartitions", "4")
            .mode("append").save(path)
          graft.sources.KeyedTableOps.declareSortOrder(path, Seq("j"))
          // slices RELATIVE to the table (16 per bucket at 4 buckets)
          // so the hot value isolates into zero-width zones at every
          // scale factor — the structure, not the row count, carries
          assert(graft.sources.KeyedTableOps.rewriteCompact(s, path, 0,
            targetFileRows = math.max(src.count() / 64, 8L),
            force = true).isDefined, "the sorted fold must commit")
        }
        build(fact, Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), skew(col("o_orderkey")).as("j")))
        build(dim, Tables(s, d, "customer").select(
          col("c_custkey").as("k"), skew(col("c_custkey")).as("j")))
        val out = withKeyedCbo(s) {
          def t(p: String) = s.read.table(s"graft_keyed.`$p`")
          def joined() = t(fact).as("f").join(t(dim).as("d"), "j")
          def estimate(): Long = joined().queryExecution.optimizedPlan
            .stats.rowCount.map(_.toLong).getOrElse(-1L)
          // ONE execution of the skewed join serves both the output
          // row and the estimate-vs-actual lint (round 20: the old
          // joined().count() + final agg ran the hot-key join twice —
          // the entry's two most expensive jobs were the same job)
          val out = joined().agg(count(lit(1)).as("cnt"),
            sum(col("f.k") + col("d.k")).as("keysum"))
            .localCheckpoint(true)
          val actual = out.head.getLong(0)
          val withHist = estimate()
          assert(withHist >= actual / 10 && withHist <= actual * 10,
            s"histogram join estimate $withHist must land within 10x " +
              s"of actual $actual")
          val withoutHist = graft.SessionConf.withConfs(s,
            Map("spark.graft.histogram.enabled" -> Some("false")))(estimate())
          assert(withoutHist >= 0 && withoutHist < actual / 10,
            s"bounds+NDV alone must miss the skew: $withoutHist " +
              s"vs actual $actual")
          out
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- ROLLBACK / RESTORE (Delta's RESTORE TABLE ... TO VERSION AS
    // OF): rewind the table's CURRENT state to a past commit as ONE
    // new commit riding the atomic overwrite — the restored rows
    // supersede everything live, history above the target stays
    // time-travelable until vacuum's grace (rollback rewinds state,
    // never the log), and a racing write outranks the restore under
    // last-write-wins like any other commit. In-entry: the SQL CALL
    // receipt names the restored and committed sequences, the live set
    // collapses to the restore commit, and VERSION AS OF still
    // resolves the pre-rollback history above the target. ----
    QueryDef("q_ktable_rollback", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END
        |    AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    + CASE WHEN o_orderkey % 10 = 0 THEN 1000 ELSE 0 END AS cents
        |FROM orders""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:rollback:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_krbk_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)                          // seq 1
        sink.append(src.where(col("k") % 10 === 0)        // seq 2
          .withColumn("status", lit("U"))
          .withColumn("cents", col("cents") + 1000), target)
        sink.append(src.withColumn("status", lit("X"))    // seq 3: the
          .withColumn("cents", lit(0L)), target)          // bad load
        val total = src.count()
        val out = withKeyedCatalog(s) {
          val r = s.sql(
            s"CALL graft_keyed.rollback('$target', 2)").collect().head
          assert(r.getLong(0) == 2L && r.getLong(1) == 4L,
            s"rollback receipt must be (restored_to=2, committed_seq=4): $r")
          assert(graft.sources.KeyedTable.liveManifestNames(target).size == 1,
            "the restore commit must supersede everything live")
          // the log is rewound in STATE only: above the target the
          // pre-rollback history still time-travels
          val at3 = s.sql(
            s"SELECT count(*) FROM graft_keyed.`$target` VERSION AS OF 3 " +
              "WHERE status = 'X'").head.getLong(0)
          assert(at3 == total,
            s"VERSION AS OF 3 must still see the bad load: $at3 of $total")
          graft.sources.KeyedTableOps.latest(s, target).localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- METADATA TABLES (Iceberg's `db.table.history` spelling over
    // the keyed table's commit log): `graft_keyed.`/p`.history` is one
    // row per commit — sequence, operation kind, file/row/byte totals,
    // liveness — and `.files` one row per LIVE file with its manifest
    // line's stats. The rows are the SAME driver-read bounded manifest
    // listing every scan plan already pays for, served as a LocalScan:
    // the in-entry lint pins that the relation plans a LOCAL scan (no
    // data bytes, no executors), and the oracle pins the recorded
    // row accounting against DuckDB re-counting the same waves. ----
    QueryDef("q_ktable_history", effectful = true, oracle = Some(
      """SELECT CAST(1 AS BIGINT) AS seq, 'append' AS operation,
        |  CAST(count(*) AS BIGINT) AS rows_added FROM orders
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), 'append', CAST(count(*) AS BIGINT)
        |FROM orders WHERE o_orderkey % 10 = 0
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), 'append', CAST(count(*) AS BIGINT)
        |FROM orders WHERE o_orderkey % 3 = 0""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:history:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_khis_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)                          // seq 1
        sink.append(src.where(col("k") % 10 === 0), target) // seq 2
        sink.append(src.where(col("k") % 3 === 0), target)  // seq 3
        val out = withKeyedCatalog(s) {
          val hist = s.sql("SELECT seq, operation, rows AS rows_added " +
            s"FROM graft_keyed.`$target`.history")
          // bounded metadata, driver-served: the relation must plan a
          // LOCAL scan — zero data bytes, zero executor tasks
          val plan = hist.queryExecution.executedPlan.toString
          assert(plan.contains("LocalTableScan"),
            s"the metadata relation must plan a local scan:\n$plan")
          // the files relation accounts for the same rows, per file
          val fileRows = s.sql("SELECT sum(rows) FROM " +
            s"graft_keyed.`$target`.files").head.getLong(0)
          val histRows = hist.agg(sum(col("rows_added"))).head.getLong(0)
          assert(fileRows == histRows,
            s"files must account history's rows: $fileRows vs $histRows")
          hist.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- MERGE INTO, the single-statement row-level-operations
    // spelling (fourth rendering of the CDC apply, gated on the SAME
    // oracle as the batch window apply, the streaming state machine,
    // and the native-verbs apply — the four can never drift):
    // KeyedTableOps.merge compiles SQL-MERGE clause semantics to the
    // table's native verbs — matched+condition DELETE -> one tombstone
    // commit (nothing scanned), matched UPDATE SET * -> upsert append,
    // NOT MATCHED INSERT * -> the same append. A key deleted by an
    // earlier MERGE counts as absent, so a later change takes the
    // INSERT branch and wins — Cassandra re-insert semantics through
    // MERGE. ----
    QueryDef("q_ktable_merge_apply", effectful = true, oracle = Some(
      QueryDef.requireOracle(MigrationQueries.defs, "q_migrate_cdc_apply",
        "q_ktable_merge_apply")))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:merge_apply:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kmrg_").toString
        val target = s"$tmp/t"
        val log = MigrationQueries.cdcLog(s, d)
        def wave(seq: Int) = log.where(col("seq") === seq)
          .select(col("k"), col("op").as("last_op"), col("status"),
            col("cents"), col("seq").cast("bigint").as("version"))
        val out = withKeyedCatalog(s) {
          s.sql(s"CREATE TABLE graft_keyed.`$target` (k BIGINT, " +
            "last_op STRING, status STRING, cents BIGINT, version BIGINT) " +
            "TBLPROPERTIES('key'='k', 'writePartitions'='8')")
          import graft.sources.KeyedTableOps
          KeyedTableOps.merge(s, target, wave(0)) // empty table: all INSERT
          KeyedTableOps.merge(s, target, wave(1)) // all matched: UPDATE
          val before = graft.sources.KeyedTable.committedFiles(target).size
          KeyedTableOps.merge(s, target, wave(2), // WHEN MATCHED AND D THEN DELETE
            deleteWhen = Some(col("last_op") === "D"),
            updateWhenMatched = false, insertWhenNotMatched = false)
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            "MERGE deletes must cost marker files per bucket, not a rewrite")
          KeyedTableOps.merge(s, target, wave(3)) // update + re-insert-after-delete
          val latest = KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the merged state must read shuffle-free")
          latest.select(col("k").as("o_orderkey"), col("last_op"),
            col("status"), col("cents"), col("version"))
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- SORTED COMPACTION (OPTIMIZE ZORDER's single-dimension
    // analogue): declareSortOrder(ck) makes rewriteCompact order each
    // bucket's fold by the sort column and roll row-log files every
    // targetFileRows rows — per-file zone maps become narrow DISJOINT
    // ck slices. The in-entry lint proves the claim mechanically: the
    // SAME non-key range probe over the SAME logical content plans
    // every file of a plain fold but at most half the files of the
    // sorted fold. Content is oracled (the probe's rows). ----
    QueryDef("q_ktable_sorted_compact", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS status
        |FROM orders
        |WHERE o_custkey <= (SELECT min(o_custkey) +
        |  (max(o_custkey) - min(o_custkey)) // 8 FROM orders)
        |""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:sorted_compact:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ksort_").toString
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_custkey").as("ck"),
          col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("ck")), max(col("ck"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val cut = lo + (hi - lo) / 8
        val Array(kLo, kHi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val kHalf = (kLo + kHi) / 2
        val n = src.count()
        val sink = graft.pipeline.V2KeyedTableSink("k")
        def load(t: String): Unit = { // two commits so the fold folds
          sink.append(src.where(col("k") <= kHalf), t)
          sink.append(src.where(col("k") > kHalf), t)
        }
        def planned(df: org.apache.spark.sql.DataFrame): Int = {
          val scans = df.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
              b.inputRDD.getNumPartitions
          }
          assert(scans.nonEmpty, "no v2 scan found in the plan")
          scans.sum
        }
        def read(t: String) =
          s.read.format("graft.sources.KeyedTable").load(t)
        import graft.sources.{KeyedTable, KeyedTableOps}
        val plain = s"$tmp/plain"
        load(plain)
        assert(KeyedTableOps.rewriteCompact(s, plain,
          tombstoneGraceMs = 0).isDefined, "plain fold did not commit")
        val sorted = s"$tmp/sorted"
        load(sorted)
        KeyedTableOps.declareSortOrder(sorted, Seq("ck"))
        // roll so each bucket folds into ~4 slices at any scale factor
        val perFile = math.max(1L, n / (8L * 4L))
        assert(KeyedTableOps.rewriteCompact(s, sorted,
          tombstoneGraceMs = 0, targetFileRows = perFile).isDefined,
          "sorted fold did not commit")
        val probe = col("ck") <= cut
        val plainPlanned = planned(read(plain).where(probe))
        val plainFiles = KeyedTable.liveFiles(plain).size
        val sortedPlanned = planned(read(sorted).where(probe))
        val sortedFiles = KeyedTable.liveFiles(sorted).size
        assert(sortedFiles > plainFiles,
          s"the sorted fold must roll files: $sortedFiles vs $plainFiles")
        // the mechanical claim: plain zones span the whole ck range
        // (every file plans); sorted zones are slices (most files skip)
        assert(plainPlanned == plainFiles,
          s"plain fold should plan all $plainFiles files for a ck range " +
            s"probe, planned $plainPlanned")
        assert(sortedPlanned * 2 <= sortedFiles,
          s"sorted fold must prune at least half its files on the same " +
            s"probe: planned $sortedPlanned of $sortedFiles")
        val out = read(sorted).where(probe).localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- CHANGE DATA FEED, Delta's column spelling: changesBetween
    // emits raw events (upserts + tombstones with versions);
    // changeDataFeed classifies each one against the key's previous
    // version under the same last-write-wins order — insert /
    // update_preimage / update_postimage / delete, stamped
    // _commit_version. Gated on a DuckDB window oracle that replays the
    // SAME four CDC waves (insert / upsert / delete / upsert-with-
    // re-insert) and derives the classes with lag() — the engine's
    // window path and the storage engine's version order must agree
    // event by event. One lag window per key = ONE shuffle of the
    // events slice (linted), the cost floor for per-key ordering. ----
    QueryDef("q_ktable_cdf", effectful = true, oracle = Some(
      """WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status,
        |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders),
        |ev AS (
        |  SELECT k, CAST(status AS VARCHAR) AS status, cents,
        |      1 AS v, FALSE AS tomb FROM base
        |  UNION ALL SELECT k, 'U1', cents + 500, 2, FALSE
        |    FROM base WHERE k % 5 = 0
        |  UNION ALL SELECT k, CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
        |      3, TRUE FROM base WHERE k % 11 = 0
        |  UNION ALL SELECT k, 'U2', cents + 1000, 4, FALSE
        |    FROM base WHERE k % 35 = 0),
        |lagd AS (SELECT ev.*, lag(status) OVER w AS pstatus,
        |    lag(cents) OVER w AS pcents, lag(tomb) OVER w AS ptomb
        |  FROM ev WINDOW w AS (PARTITION BY k ORDER BY v)),
        |rng AS (SELECT * FROM lagd WHERE v > 1 AND v <= 4)
        |SELECT k AS o_orderkey, status, cents,
        |    'insert' AS _change_type, CAST(v AS BIGINT) AS _commit_version
        |  FROM rng WHERE NOT tomb AND (ptomb IS NULL OR ptomb)
        |UNION ALL SELECT k, pstatus, pcents, 'update_preimage',
        |    CAST(v AS BIGINT) FROM rng WHERE NOT tomb AND ptomb = FALSE
        |UNION ALL SELECT k, status, cents, 'update_postimage',
        |    CAST(v AS BIGINT) FROM rng WHERE NOT tomb AND ptomb = FALSE
        |UNION ALL SELECT k, pstatus, pcents, 'delete',
        |    CAST(v AS BIGINT) FROM rng WHERE tomb AND ptomb = FALSE
        |""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:cdf:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kcdf_").toString
        val target = s"$tmp/t"
        val log = MigrationQueries.cdcLog(s, d)
        def wave(seq: Int) = log.where(col("seq") === seq)
          .select(col("k"), col("status"), col("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(wave(0), target) // v1: every key inserts
        sink.append(wave(1), target) // v2: k%5 upserts (U1)
        val out = withKeyedCatalog(s) {
          // v3: the delete wave — key-predicate SQL DELETE, marker-only
          val dels = wave(2).select(col("k")).collect().map(_.getLong(0))
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE k IN (${dels.mkString(", ")})")
          sink.append(wave(3), target) // v4: k%35 upserts + re-inserts
          val cdf = graft.sources.KeyedTableOps
            .changeDataFeed(s, target, fromSeq = 1L, toSeq = 4L)
          assert(graft.ops.PlanChecks.countShuffles(
            cdf.queryExecution.executedPlan) <= 1,
            "CDF must cost one per-key window shuffle, nothing more")
          cdf.select(col("k").as("o_orderkey"), col("status"), col("cents"),
            col("_change_type"), col("_commit_version"))
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- MERGE INTO as the SQL STATEMENT (fifth rendering of the CDC
    // apply, same oracle as the batch window apply, the streaming state
    // machine, the native-verbs apply, and the KeyedTableOps.merge
    // compile — five spellings, one truth): the table implements
    // SupportsRowLevelOperations (delta-based), so Spark's own
    // RewriteMergeIntoTable plans `spark.sql("MERGE INTO ...")` onto
    // the native verbs — matched+condition DELETE -> tombstone markers
    // in the statement's single manifest, matched UPDATE SET * /
    // NOT MATCHED INSERT * -> upsert appends. The operation's target
    // scan resolves the CURRENT state merge-on-read, so a key deleted
    // by an earlier statement counts as absent and its re-insert takes
    // the INSERT branch (Cassandra re-insert through SQL MERGE). Wave 0
    // is INSERT-ONLY — the one shape Spark plans as a plain append
    // behind an anti-join, which the GraftExtensions hint rule pins to
    // the current-state view. ----
    QueryDef("q_ktable_merge_sql", effectful = true, oracle = Some(
      QueryDef.requireOracle(MigrationQueries.defs, "q_migrate_cdc_apply",
        "q_ktable_merge_sql")))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:merge_sql:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kmsql_").toString
        val target = s"$tmp/t"
        val log = MigrationQueries.cdcLog(s, d)
        def wave(seq: Int): Unit = log.where(col("seq") === seq)
          .select(col("k"), col("op").as("last_op"), col("status"),
            col("cents"), col("seq").cast("bigint").as("version"))
          .createOrReplaceTempView("graft_merge_sql_src")
        val out = withKeyedCatalog(s) {
          s.sql(s"CREATE TABLE graft_keyed.`$target` (k BIGINT, " +
            "last_op STRING, status STRING, cents BIGINT, version BIGINT) " +
            "TBLPROPERTIES('key'='k', 'writePartitions'='8')")
          def merge(clauses: String): Unit = s.sql(
            s"MERGE INTO graft_keyed.`$target` t " +
              "USING graft_merge_sql_src src ON t.k = src.k " + clauses)
          wave(0) // empty table — INSERT-ONLY statement (hint-rule path)
          merge("WHEN NOT MATCHED THEN INSERT *")
          wave(1) // all matched — UPDATE SET *
          merge("WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *")
          val before = graft.sources.KeyedTable.committedFiles(target).size
          wave(2) // delete wave — matched + condition, one manifest
          merge("WHEN MATCHED AND src.last_op = 'D' THEN DELETE")
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            "SQL MERGE deletes must cost marker files per bucket, not a rewrite")
          wave(3) // updates + re-inserts of keys the delete wave removed
          merge("WHEN MATCHED AND src.last_op = 'D' THEN DELETE " +
            "WHEN MATCHED THEN UPDATE SET * " +
            "WHEN NOT MATCHED THEN INSERT *")
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the merged state must read shuffle-free")
          latest.select(col("k").as("o_orderkey"), col("last_op"),
            col("status"), col("cents"), col("version"))
            .localCheckpoint(true)
        }
        s.catalog.dropTempView("graft_merge_sql_src")
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- UPDATE as the SQL STATEMENT, gated on the SAME oracle as
    // the native verb (q_ktable_update) so the two spellings can
    // never drift: Spark's RewriteUpdateTable plans the statement
    // through the delta row-level operation — the target scan
    // resolves the CURRENT state merge-on-read, the SET expressions
    // read each key's current values exactly once, and the matched
    // rows land as ONE upsert append manifest. ----
    QueryDef("q_ktable_update_sql", effectful = true,
      oracle = Some(ktableUpdateOracleSql))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:update_sql:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kusql_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        val before = graft.sources.KeyedTable.committedFiles(target).size
        val out = withKeyedCatalog(s) {
          s.sql(s"UPDATE graft_keyed.`$target` " +
            "SET status = 'X', cents = cents + 500 WHERE k % 7 = 0")
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            "SQL UPDATE must append the matched rows, not rewrite the table")
          val names = graft.sources.KeyedTable.liveManifestNames(target)
          assert(names.count(_.startsWith("rlo-update-")) == 1,
            s"one UPDATE statement must commit one manifest: $names")
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the updated state must read shuffle-free")
          latest.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- view=current (the server-side latest view) + non-key SQL
    // DELETE: the scan option resolves last-write-wins + tombstones in
    // the READER, per write bucket — zero shuffles, snapshot-pinned —
    // and the DELETE's non-key predicate takes the row-level path
    // (scan the current state, tombstone the matching keys at marker
    // cost; key-predicate DELETEs would take the metadata fast path
    // instead). Oracled end to end: upsert wave + status-predicate
    // delete + resolved read against one DuckDB expression. ----
    QueryDef("q_ktable_view_current", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 3 = 0 THEN 'b' ELSE 'a' END AS tag
        |FROM orders WHERE o_orderstatus <> 'P'""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:view_current:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kview_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.withColumn("tag", lit("a")), target)
        sink.append(src.where(col("k") % 3 === 0)
          .withColumn("tag", lit("b")), target)
        val out = withKeyedCatalog(s) {
          val before = graft.sources.KeyedTable.committedFiles(target).size
          s.sql(s"DELETE FROM graft_keyed.`$target` WHERE status = 'P'")
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            "a non-key DELETE must cost tombstone markers, not a rewrite")
          val cur = s.read.option("view", "current")
            .table(s"graft_keyed.`$target`")
          assert(graft.ops.PlanChecks.countShuffles(
            cur.queryExecution.executedPlan) == 0,
            "view=current must resolve in the reader — no shuffle, " +
              "no aggregate")
          cur.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- TIMESTAMP AS OF: the wall-clock spelling of time travel.
    // Spark resolves the SQL timestamp to an instant; the catalog maps
    // it through the manifest commit timestamps to the highest
    // sequence committed at or before it (Delta's rule) and reads
    // exactly like VERSION AS OF — gated on the same oracle as the
    // sequence spelling, so the two resolutions can never drift. ----
    QueryDef("q_ktable_time_travel_ts", effectful = true,
      oracle = Some(timeTravelOracleSql))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:time_travel_ts:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kttts_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val Array(lo, hi) = src.agg(min(col("k")), max(col("k"))).head
          .toSeq.map(_.asInstanceOf[Long]).toArray
        val half = (lo + hi) / 2
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        // the pin instant: strictly after commit 1's manifest stamp,
        // strictly before commit 2's (millisecond timestamps — a
        // barrier sleep on each side makes the order deterministic)
        Thread.sleep(15)
        val t1 = System.currentTimeMillis()
        Thread.sleep(15)
        sink.append(src.where(col("k") > half), target)
        sink.append(src.where(col("k") <= half)
          .withColumn("status", lit("X")), target)
        val lit1 = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
          .withZone(java.time.ZoneOffset.UTC)
          .format(java.time.Instant.ofEpochMilli(t1))
        val out = withKeyedCatalog(s) {
          s.sql(s"SELECT * FROM graft_keyed.`$target` " +
            s"TIMESTAMP AS OF '$lit1'").localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- BATCH CHANGE FEED: changesBetween(v1, v2) reads exactly the
    // change events committed in (v1, v2] — the batch twin of the tail
    // stream, gated on the SAME oracle as the keyed log's offset
    // replay (q_keyedlog_replay): "replay from a committed position"
    // must mean the same rows whether the position is a log offset or
    // a table version. A snapshot rewrite folds the table BEFORE the
    // feed is read: superseded originals must still serve change
    // history (retention) while the rewrite itself stays invisible
    // (dataChange=false). A second window then proves DELETE events
    // surface as tombstone rows with their version columns. ----
    QueryDef("q_ktable_change_feed", effectful = true, oracle = Some(
      QueryDef.requireOracle(StreamingQueries.defs, "q_keyedlog_replay",
        "q_ktable_change_feed")))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:change_feed:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kfeed_").toString
        val target = s"$tmp/t"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
        val sink = graft.pipeline.V2KeyedTableSink("event_id")
        sink.append(ev.where(col("event_id") % 3 =!= 0), target)
        val v1 = graft.sources.KeyedTable.currentSeq(target)
        sink.append(ev.where(col("event_id") % 3 === 0), target)
        val v2 = graft.sources.KeyedTable.currentSeq(target)
        // fold the log: the feed must keep serving the ORIGINAL
        // commits (grace retention) and never deliver the rewrite
        assert(graft.sources.KeyedTableOps
          .rewriteCompact(s, target, tombstoneGraceMs = 0).isDefined)
        val feed = graft.sources.KeyedTableOps
          .changesBetween(s, target, v1, v2)
        val out = feed.where(!col("_tombstone"))
          .select(col("event_id"), col("user_id"), col("event_type"))
          .localCheckpoint(true)
        // DELETE events surface in their own window as tombstone rows
        val delKeys = ev.where(col("event_id") % 3 === 0)
          .orderBy(col("event_id")).limit(3)
          .collect().map(_.getLong(0))
        withKeyedCatalog(s) {
          s.sql(s"DELETE FROM graft_keyed.`$target` " +
            s"WHERE event_id IN (${delKeys.mkString(", ")})")
        }
        val v3 = graft.sources.KeyedTable.currentSeq(target)
        val tombs = graft.sources.KeyedTableOps
          .changesBetween(s, target, v2, v3)
        assert(tombs.where(col("_tombstone")).count() == delKeys.length &&
          tombs.where(!col("_tombstone")).count() == 0,
          "the delete window must carry exactly the tombstone events")
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- SCHEMA EVOLUTION on the keyed table: `ALTER TABLE ... ADD
    // COLUMNS` widens the committed schema by trailing nullable
    // columns; every manifest records the field count its files were
    // framed with, so reads NULL-fill the new columns on
    // pre-evolution files while post-evolution commits carry values —
    // and the LWW latest view resolves across the mixed-schema log
    // shuffle-free, exactly as before the change. Type changes /
    // reorders / drops are rejected (spec-level): they would
    // mis-frame the binary decode of older files. ----
    QueryDef("q_ktable_schema_evolution", effectful = true, oracle = Some(
      """SELECT o_orderkey AS k, o_orderstatus AS status,
        |  CASE WHEN o_orderkey % 10 = 0
        |    THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |    ELSE NULL END AS cents
        |FROM orders""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:schema_evolution:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kevo_").toString
        val target = s"$tmp/t"
        val base = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(base, target) // schema v1: (k, status)
        val out = withKeyedCatalog(s) {
          s.sql(s"ALTER TABLE graft_keyed.`$target` ADD COLUMNS (cents BIGINT)")
          // upsert wave under the widened schema: every 10th key
          // re-written WITH a cents value
          sink.append(Tables(s, d, "orders")
            .where(col("o_orderkey") % 10 === 0)
            .select(col("o_orderkey").as("k"),
              col("o_orderstatus").as("status"),
              (col("o_totalprice").cast("decimal(18,2)") * 100)
                .cast("long").as("cents")), target)
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the latest view over a mixed-schema log must stay shuffle-free")
          latest.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- TIME-SERIES ZONE PRUNING: temporal columns (TIMESTAMP /
    // TIMESTAMP_NTZ / DATE) are first-class keyed-table columns —
    // framed as their Catalyst micros/days, so ordering, hashing, and
    // zone maps are the integral paths — and the classic time-series
    // read pattern falls out: events load in TIME ranges (each wave
    // covers a window, exactly how an incremental migration lands),
    // and a ts range predicate prunes committed files by the ts zone
    // maps before a byte is read. In-entry: the late-half probe plans
    // at most half the committed files. ----
    QueryDef("q_scan_ktable_time_prune", effectful = true, oracle = Some(
      """SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
        |WHERE epoch_us(ts) >=
        |  (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 FROM events)
        |""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_timeprune:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_ktime_").toString
        val target = s"$tmp/t"
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("ts"), col("user_id"))
        val b = ev.agg(min(unix_micros(col("ts"))),
          max(unix_micros(col("ts")))).head
        val cut = (b.getLong(0) + b.getLong(1)) / 2
        val sink = graft.pipeline.V2KeyedTableSink("event_id")
        sink.append(ev.where(unix_micros(col("ts")) < cut), target)
        sink.append(ev.where(unix_micros(col("ts")) >= cut), target)
        val committed = graft.sources.KeyedTable.committedFiles(target).size
        val probe = s.read.format("graft.sources.KeyedTable").load(target)
          .where(col("ts") >= timestamp_micros(lit(cut)))
        val planned = probe.queryExecution.executedPlan.collect {
          case bs: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            bs.inputRDD.getNumPartitions
        }.sum
        assert(planned > 0 && planned <= committed / 2,
          s"ts zone maps did not prune: planned $planned of $committed files")
        val out = probe.select(col("event_id"),
          unix_micros(col("ts")).as("ts_us"), col("user_id"))
          .localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- PARTIAL LIMIT PUSHDOWN: a LIMIT-k probe without an ordering
    // may return ANY k rows, so the scan plans only enough files (row
    // counts are already on the manifest lines) to cover k — a LIMIT
    // probe of a million-file table plans a handful of files instead
    // of all of them. Spark's own Limit stays on top (partial push =
    // exactness preserved), which is what makes the count
    // deterministic and oracle-able. In-entry: planned files strictly
    // fewer than committed. ----
    QueryDef("q_scan_ktable_limit_pushdown", effectful = true, oracle = Some(
      """SELECT CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT * FROM orders LIMIT 500)""".stripMargin))(
      (s, d) => graft.ops.FrameCache.memo(s, s"scan:ktable_limit:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_klim_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"), col("o_orderstatus").as("status"))
        val half = src.agg(expr("percentile_approx(k, 0.5)")).head.getLong(0)
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src.where(col("k") <= half), target)
        sink.append(src.where(col("k") > half), target)
        val committed = graft.sources.KeyedTable.committedFiles(target).size
        val lim = s.read.format("graft.sources.KeyedTable").load(target)
          .limit(500)
        val scans = lim.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b
        }
        assert(scans.nonEmpty &&
          scans.head.scan.description().contains("pushedLimit=500"),
          "limit did not push into the keyed-table scan")
        val planned = scans.map(_.inputRDD.getNumPartitions).sum
        assert(planned < committed,
          s"pushed limit did not bound planning: $planned of $committed files")
        val out = lim.agg(count(lit(1)).as("n")).localCheckpoint(true)
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- UPDATE, the predicate-driven upsert spelling (completing
    // the DML verbs: DELETE = tombstones, MERGE = clause compilation,
    // UPDATE = read-matched + SET + ONE append commit whose rows
    // outrank the old versions under last-write-wins — Cassandra's
    // UPDATE is an upsert write). SET expressions reference current
    // columns (cents increments by 500), the write is O(#matched
    // rows) — in-entry: files added <= write buckets, never a table
    // rewrite — and the updated state reads shuffle-free. ----
    QueryDef("q_ktable_update", effectful = true,
      oracle = Some(ktableUpdateOracleSql))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ktable:update:$d") {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kupd_").toString
        val target = s"$tmp/t"
        val src = Tables(s, d, "orders").select(
          col("o_orderkey").as("k"),
          col("o_orderstatus").as("status"),
          (col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").as("cents"))
        val sink = graft.pipeline.V2KeyedTableSink("k")
        sink.append(src, target)
        val before = graft.sources.KeyedTable.committedFiles(target).size
        val out = withKeyedCatalog(s) {
          graft.sources.KeyedTableOps.update(s, target,
            col("k") % 7 === 0,
            Map("status" -> lit("X"), "cents" -> (col("cents") + 500)))
          assert(graft.sources.KeyedTable.committedFiles(target).size
            - before <= 8,
            "UPDATE must append the matched rows, not rewrite the table")
          val latest = graft.sources.KeyedTableOps.latest(s, target)
          assert(graft.ops.PlanChecks.countShuffles(
            latest.queryExecution.executedPlan) == 0,
            "the updated state must read shuffle-free")
          latest.localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // LEFT OUTER join + null-tolerant aggregation: per-customer order stats
    // (count(col) skips nulls in both engines; sum over empty => NULL => 0).
    QueryDef("q_join_left_outer", Some(
      """SELECT c_custkey AS custkey, count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin))(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .groupBy(c("c_custkey").as("custkey"))
          .agg(
            count(o("o_orderkey")).as("n_orders"),
            coalesce(sum(o("o_totalprice").cast("decimal(18,2)")), lit(0))
              .cast("double").as("spend"))
      }),

    // LEFT SEMI join (EXISTS): customers having a finished high-value order.
    QueryDef("q_join_semi", Some(
      """SELECT c_custkey AS custkey, c_name AS name
        |FROM customer WHERE EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
        |    AND o_totalprice > 150000)""".stripMargin))(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders")
          .where("o_orderstatus = 'F' AND o_totalprice > 150000")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
      }),

    // LEFT ANTI join (NOT EXISTS): customers who never placed an urgent order.
    QueryDef("q_join_anti", Some(
      """SELECT c_custkey AS custkey, c_name AS name
        |FROM customer WHERE NOT EXISTS (
        |  SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin))(
      (s, d) => {
        val c = Tables(s, d, "customer")
        val o = Tables(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select(col("c_custkey").as("custkey"), col("c_name").as("name"))
      }),

    // FULL OUTER join of two aggregates on nationkey.
    QueryDef("q_join_full_outer", Some(
      """SELECT coalesce(cn.k, sn.k) AS nationkey,
        |  coalesce(cn.n_cust, 0) AS n_cust, coalesce(sn.n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS k, count(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) cn
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS k, count(*) AS n_supp
        |      FROM supplier GROUP BY s_nationkey) sn
        |ON cn.k = sn.k""".stripMargin))(
      (s, d) => {
        val cn = Tables(s, d, "customer").groupBy(col("c_nationkey").as("k"))
          .agg(count(lit(1)).as("n_cust"))
        val sn = Tables(s, d, "supplier").groupBy(col("s_nationkey").as("k"))
          .agg(count(lit(1)).as("n_supp"))
        cn.join(sn, cn("k") === sn("k"), "full_outer")
          .select(
            coalesce(cn("k"), sn("k")).as("nationkey"),
            coalesce(cn("n_cust"), lit(0)).as("n_cust"),
            coalesce(sn("n_supp"), lit(0)).as("n_supp"))
      }),

    // RIGHT outer: keep every customer, null order columns where no
    // big order matches (the mirror of q_join_left_outer — Catalyst
    // plans both as the same hash join with build-side swap).
    QueryDef("q_join_right_outer", Some(
      """SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey, o.o_totalprice
        |FROM (SELECT * FROM orders WHERE o_totalprice >= 490000) o
        |RIGHT OUTER JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin))(
      (s, d) => {
        val o = Tables(s, d, "orders").where(col("o_totalprice") >= 490000)
        val c = Tables(s, d, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
          .select(c("c_custkey"), c("c_mktsegment"),
            o("o_orderkey"), o("o_totalprice"))
      }),

    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys MATCH
    // each other instead of vanishing — Spark still plans it as a hash
    // join (NullSafeEqual is a valid equi-key), not a nested loop.
    // Fixture keys are non-null, so nulls are minted from keys % 7 = 0
    // on both sides to exercise the NULL==NULL group.
    QueryDef("q_join_null_safe", Some(
      """SELECT n.k AS nat_key, count(*) AS n_pairs
        |FROM (SELECT CASE WHEN c_nationkey % 7 = 0 THEN NULL
        |                  ELSE c_nationkey END AS k FROM customer) c
        |JOIN (SELECT CASE WHEN n_nationkey % 7 = 0 THEN NULL
        |                  ELSE n_nationkey END AS k FROM nation) n
        |  ON c.k IS NOT DISTINCT FROM n.k
        |GROUP BY n.k""".stripMargin))(
      (s, d) => {
        val c = Tables(s, d, "customer")
          .select(when(col("c_nationkey") % 7 === 0, lit(null))
            .otherwise(col("c_nationkey")).as("ck"))
        val n = Tables(s, d, "nation")
          .select(when(col("n_nationkey") % 7 === 0, lit(null))
            .otherwise(col("n_nationkey")).as("nk"))
        c.join(n, col("ck") <=> col("nk"))
          .groupBy(col("nk").as("nat_key"))
          .agg(count(lit(1)).as("n_pairs"))
      }),

    // CROSS join (tiny dims only — guarded by design, not by Spark).
    QueryDef("q_join_cross", Some(
      """SELECT r_name AS region, sts.s AS status
        |FROM region CROSS JOIN
        |  (SELECT DISTINCT o_orderstatus AS s FROM orders) sts""".stripMargin))(
      (s, d) => {
        val r = Tables(s, d, "region").select(col("r_name").as("region"))
        val sts = Tables(s, d, "orders")
          .select(col("o_orderstatus").as("status")).distinct()
        r.crossJoin(sts)
      }),

    // Range (theta) join, rewritten scale-safe: a nested-loop BETWEEN
    // join is O(|part|·|lineitem|); instead, bucket the band. Each
    // lineitem lands in bucket floor(price/10); each part explodes to
    // the buckets its ±5 band can touch (2-3); the join is then a pure
    // equi-join on the bucket with the BETWEEN as a residual guard.
    // Monotonicity of IEEE divide/floor guarantees bucket coverage, so
    // this is exactly the BETWEEN-join output at hash-join cost.
    QueryDef("q_range_join_bucketed", Some(
      """SELECT p_brand AS brand, count(*) AS n_pairs,
        |  count(DISTINCT p_partkey) AS n_parts
        |FROM part JOIN lineitem
        |  ON l_extendedprice BETWEEN p_retailprice - 5 AND p_retailprice + 5
        |GROUP BY p_brand""".stripMargin), headline = true)(
      (s, d) => {
        val p = Tables(s, d, "part")
          .withColumn("bucket", explode(sequence(
            floor((col("p_retailprice") - 5) / 10),
            floor((col("p_retailprice") + 5) / 10))))
        val li = Tables(s, d, "lineitem")
          .withColumn("bucket", floor(col("l_extendedprice") / 10))
        p.join(li, p("bucket") === li("bucket") &&
            li("l_extendedprice").between(
              p("p_retailprice") - 5, p("p_retailprice") + 5))
          .groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_partkey")).as("n_parts"))
      }),

    // The same range join written as the plain BETWEEN join, with no
    // bucketing in user code: the session's BandJoinRewrite (wired
    // through spark.sql.extensions) must catch it and plan the
    // bucketed hash join itself. Same oracle as the hand-bucketed entry.
    QueryDef("q_range_join_native", Some(
      """SELECT p_brand AS brand, count(*) AS n_pairs,
        |  count(DISTINCT p_partkey) AS n_parts
        |FROM part JOIN lineitem
        |  ON l_extendedprice BETWEEN p_retailprice - 5 AND p_retailprice + 5
        |GROUP BY p_brand""".stripMargin))(
      (s, d) => {
        val p = Tables(s, d, "part")
        val li = Tables(s, d, "lineitem")
        p.join(li, li("l_extendedprice").between(
            p("p_retailprice") - 5, p("p_retailprice") + 5))
          .groupBy(col("p_brand").as("brand"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("p_partkey")).as("n_parts"))
      }),

    // INTERVAL join: purchases within 1h after a signup by the same
    // user. Same scale pattern as the range join: bucket event time by
    // hour, equi-join on (user, bucket) with the signup exploded to the
    // 2 buckets its window can reach, interval predicate as residual
    // guard — hash join, never a time-cross-product.
    QueryDef("q_interval_join", Some(
      """SELECT s.event_id AS signup_id, p.event_id AS purchase_id,
        |  s.user_id AS user_id,
        |  epoch_us(p.ts) - epoch_us(s.ts) AS delay_us
        |FROM (SELECT * FROM events WHERE event_type = 'signup') s
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON p.user_id = s.user_id
        | AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 1 HOUR""".stripMargin))(
      (s, d) => {
        val hourUs = 3600L * 1000000L
        val ev = Tables(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("tus"))
        val signups = ev.where(col("event_type") === "signup")
          .withColumn("bucket", explode(array(
            expr(s"tus div $hourUs"), expr(s"tus div $hourUs") + 1)))
          .select(col("event_id").as("signup_id"), col("user_id"),
            col("tus").as("s_tus"), col("bucket"))
        val purchases = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"),
            col("user_id").as("p_user"), col("tus").as("p_tus"),
            expr(s"tus div $hourUs").as("bucket"))
        signups.join(purchases,
            col("user_id") === col("p_user") &&
              signups("bucket") === purchases("bucket") &&
              col("p_tus") > col("s_tus") &&
              col("p_tus") <= col("s_tus") + hourUs)
          .select(col("signup_id"), col("purchase_id"), col("user_id"),
            (col("p_tus") - col("s_tus")).as("delay_us"))
      }),

    // AS-OF join: for each 'error' event, the most recent 'click' by the
    // same user at-or-before it. Implemented the scalable way — a single
    // shuffle: tag both sides, then last(ignoreNulls) over a
    // user-partitioned time-ordered window (no pairwise explosion).
    QueryDef("q_asof_join", Some(
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        |  epoch_us(c.ts) AS last_click_epoch_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND c.ts <= e.ts""".stripMargin),
      headline = true)(
      (s, d) => {
        // clicks sort before errors at equal ts => "at or before" semantics
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        asofTagged(s, d)
          .withColumn("last_click_ts",
            last(col("click_ts"), ignoreNulls = true).over(w))
          .where(col("error_id").isNotNull)
          .select(col("error_id"), col("user_id"),
            unix_micros(col("last_click_ts")).as("last_click_epoch_us"))
      }),

    // ---- as-of with a match tolerance (the production form: a stale
    // quote/click should NOT attribute): same single-shuffle union +
    // LOCF plan as q_asof_join, then matches older than 1 h are nulled
    // — tolerance costs one comparison, not a different join. The
    // oracle bounds DuckDB's native ASOF the same way. ----
    QueryDef("q_asof_join_tolerance", Some(
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        |  CASE WHEN epoch_us(c.ts) >= epoch_us(e.ts) - 3600000000
        |       THEN epoch_us(c.ts) END AS last_click_epoch_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND c.ts <= e.ts""".stripMargin))(
      (s, d) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        asofTagged(s, d)
          .withColumn("last_click_ts",
            last(col("click_ts"), ignoreNulls = true).over(w))
          .where(col("error_id").isNotNull)
          .select(col("error_id"), col("user_id"),
            when(unix_micros(col("last_click_ts")) >=
              unix_micros(col("ts")) - 3600000000L,
              unix_micros(col("last_click_ts"))).as("last_click_epoch_us"))
      }),

    // ---- FORWARD as-of: first click at-or-after each error (the
    // "next action after failure" direction). Union trick mirrored:
    // one ascending window over the FOLLOWING frame with
    // first-ignore-nulls; errors sort BEFORE clicks at equal ts so an
    // exactly-simultaneous click lands in the frame (inclusive >=).
    // Still one shuffle. ----
    QueryDef("q_asof_join_forward", Some(
      """SELECT e.event_id AS error_id, e.user_id AS user_id,
        |  epoch_us(c.ts) AS next_click_epoch_us
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON e.user_id = c.user_id AND c.ts >= e.ts""".stripMargin))(
      (s, d) => {
        // ascending scan, FOLLOWING frame: first click at ts >= error ts
        // (is_click asc puts the error first at equal ts → the
        // simultaneous click stays inside the frame → inclusive)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        asofTagged(s, d)
          .withColumn("next_click_ts",
            first(col("click_ts"), ignoreNulls = true).over(w))
          .where(col("error_id").isNotNull)
          .select(col("error_id"), col("user_id"),
            unix_micros(col("next_click_ts")).as("next_click_epoch_us"))
      }),

    // ---- NEAREST as-of: the click closest in time to each error in
    // EITHER direction, ties to the earlier side — the sensor-fusion
    // variant (align each reading with whichever reference sample is
    // closest). One tagged frame carries BOTH the backward LOCF and
    // the forward first-following window over the same user
    // partitioning (one exchange, two sort passes), then an exact
    // integer micros comparison picks the side; the oracle composes
    // DuckDB's native ASOF twice (≤ and ≥) and applies the identical
    // tie rule. ----
    QueryDef("q_asof_join_nearest", Some(
      """WITH err AS (SELECT * FROM events WHERE event_type = 'error'),
        |clk AS (SELECT * FROM events WHERE event_type = 'click'),
        |b AS (
        |  SELECT e.event_id, e.user_id, epoch_us(e.ts) AS e_us,
        |    epoch_us(c.ts) AS prev_us
        |  FROM err e ASOF LEFT JOIN clk c
        |    ON e.user_id = c.user_id AND c.ts <= e.ts),
        |f AS (
        |  SELECT e.event_id, epoch_us(c.ts) AS next_us
        |  FROM err e ASOF LEFT JOIN clk c
        |    ON e.user_id = c.user_id AND c.ts >= e.ts)
        |SELECT b.event_id AS error_id, b.user_id,
        |  CAST(CASE
        |    WHEN b.prev_us IS NULL THEN f.next_us
        |    WHEN f.next_us IS NULL THEN b.prev_us
        |    WHEN b.e_us - b.prev_us <= f.next_us - b.e_us THEN b.prev_us
        |    ELSE f.next_us END AS BIGINT) AS nearest_click_epoch_us
        |FROM b JOIN f ON b.event_id = f.event_id""".stripMargin))(
      (s, d) => {
        val wB = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wF = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("is_click").asc)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        asofTagged(s, d)
          .withColumn("prev_ts",
            last(col("click_ts"), ignoreNulls = true).over(wB))
          .withColumn("next_ts",
            first(col("click_ts"), ignoreNulls = true).over(wF))
          .where(col("error_id").isNotNull)
          .select(col("error_id"), col("user_id"),
            when(col("prev_ts").isNull, unix_micros(col("next_ts")))
              .when(col("next_ts").isNull, unix_micros(col("prev_ts")))
              .when(unix_micros(col("ts")) - unix_micros(col("prev_ts")) <=
                unix_micros(col("next_ts")) - unix_micros(col("ts")),
                unix_micros(col("prev_ts")))
              .otherwise(unix_micros(col("next_ts")))
              .cast("bigint").as("nearest_click_epoch_us"))
      }),

    // ---- TPC-H Q3 shape (shipping priority): 3-way join, date
    // bounds on both fact legs, top-10 by revenue. Revenue is the
    // engine's exact-money pattern taken to products:
    // cents × (100 − discount%) per row is int64-small, the SUM
    // accumulates in DECIMAL(38,0) (DuckDB: HUGEINT) so a 100 TB
    // group cannot wrap, and one final cast-to-double divides by 1e4.
    // Date predicates are epoch-micros integers. LIMIT ties broken by
    // key so the cut is deterministic in both engines. ----
    QueryDef("q_tpch_q3", Some(
      s"""SELECT l_orderkey,
         |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue,
         |  epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND epoch_us(o_orderdate) < 890956800000000
         |  AND epoch_us(l_shipdate) > 890956800000000
         |GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin))(
      (s, d) => {
        val cut = 890956800000000L // 1998-03-15T00:00:00Z
        Tables(s, d, "customer").where(col("c_mktsegment") === "BUILDING")
          .join(Tables(s, d, "orders"), expr("c_custkey = o_custkey"))
          .where(unix_micros(col("o_orderdate").cast("timestamp")) < cut)
          .join(Tables(s, d, "lineitem"), expr("l_orderkey = o_orderkey"))
          .where(unix_micros(col("l_shipdate").cast("timestamp")) > cut)
          .groupBy(col("l_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
            col("o_orderpriority"))
          .agg((sum(
            ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
              * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100).cast("bigint")))
              .cast("decimal(28,0)"))
            .cast("double") / 10000.0).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
          .select(col("l_orderkey"), col("revenue"),
            col("o_orderdate_us"), col("o_orderpriority"))
      }),

    // ---- TPC-H Q5 shape (local-supplier volume): the 6-way join with
    // the s_nationkey = c_nationkey locality constraint. The two big
    // tables (lineitem, orders) hash-join; supplier/customer/nation/
    // region are dimension-sided. Same exact-revenue arithmetic. ----
    QueryDef("q_tpch_q5", Some(
      s"""SELECT n_name,
         |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND epoch_us(o_orderdate) >= 852076800000000
         |  AND epoch_us(o_orderdate) < 883612800000000
         |GROUP BY n_name""".stripMargin))(
      (s, d) => {
        Tables(s, d, "customer")
          .join(Tables(s, d, "orders"), expr("c_custkey = o_custkey"))
          .where(unix_micros(col("o_orderdate").cast("timestamp"))
            .between(852076800000000L, 883612800000000L - 1))
          .join(Tables(s, d, "lineitem"), expr("l_orderkey = o_orderkey"))
          .join(broadcast(Tables(s, d, "supplier")),
            expr("l_suppkey = s_suppkey AND s_nationkey = c_nationkey"))
          .join(broadcast(Tables(s, d, "nation")), expr("c_nationkey = n_nationkey"))
          .join(broadcast(Tables(s, d, "region")), expr("n_regionkey = r_regionkey"))
          .where(col("r_name") === "ASIA")
          .groupBy(col("n_name"))
          .agg((sum(
            ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
              * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100).cast("bigint")))
              .cast("decimal(28,0)"))
            .cast("double") / 10000.0).as("revenue"))
      }),

    // ---- TPC-H Q7 (volume shipping): bilateral trade between two
    // nations by ship year — supplier nation vs customer nation in
    // both directions through the lineitem⋈orders bridge and TWO
    // nation dimension aliases. Revenue rides the engine's exact
    // integer-cents ladder (the q5 parity treatment). The nation pair
    // (NATION_3/NATION_8) has suppliers at every fixture scale. Scale
    // shape: one lineitem⋈orders shuffle pair; both nation aliases
    // broadcast; the disjunctive pair filter prunes before the
    // aggregate. ----
    QueryDef("q_tpch_q7", Some(
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(vol) AS DOUBLE) / 10000.0 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS DECIMAL(28,0)) AS vol
        |  FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
        |     OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
        |) shipping
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin))(
      (s, d) => {
        val n1 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("n1k"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("n2k"), col("n_name").as("cust_nation"))
        Tables(s, d, "supplier")
          .join(Tables(s, d, "lineitem"), expr("s_suppkey = l_suppkey"))
          .join(Tables(s, d, "orders"), expr("o_orderkey = l_orderkey"))
          .join(Tables(s, d, "customer"), expr("c_custkey = o_custkey"))
          .join(broadcast(n1), expr("s_nationkey = n1k"))
          .join(broadcast(n2), expr("c_nationkey = n2k"))
          .where(expr("(supp_nation = 'NATION_3' AND cust_nation = 'NATION_8')" +
            " OR (supp_nation = 'NATION_8' AND cust_nation = 'NATION_3')"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("bigint").as("l_year"))
          .agg((sum(
            ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
              * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
                .cast("bigint"))).cast("decimal(28,0)"))
            .cast("double") / 10000.0).as("revenue"))
      }),

    // ---- TPC-H Q8 (national market share): NATION_3's share of
    // STANDARD-part revenue sold to ASIA customers, by order year —
    // the conditional-aggregate-over-a-star shape (numerator = CASE
    // inside the same sum, never a second scan). Both sums ride the
    // exact-cents ladder; the share is ONE double division of two
    // exactly-computed totals. Scale shape: part prunes on p_type at
    // the scan and joins un-hinted (a growing dim — AQE broadcasts
    // only while it fits); nation/region broadcast. ----
    QueryDef("q_tpch_q8", Some(
      """SELECT o_year,
        |  CASE WHEN sum(vol) = 0 THEN NULL
        |    ELSE CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol
        |              ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE)
        |      / CAST(sum(vol) AS DOUBLE) END AS mkt_share,
        |  CAST(sum(vol) AS DOUBLE) / 10000.0 AS total_revenue
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |    n1.n_name AS supp_nation,
        |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |      AS DECIMAL(28,0)) AS vol
        |  FROM part
        |  JOIN lineitem ON p_partkey = l_partkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |  JOIN region ON n2.n_regionkey = r_regionkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
        |) all_nations
        |GROUP BY o_year""".stripMargin))(
      (s, d) => {
        val n1 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("n1k"), col("n_name").as("supp_nation"))
        val n2 = Tables(s, d, "nation")
          .select(col("n_nationkey").as("n2k"), col("n_regionkey").as("n2r"))
        val vol =
          ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
            * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
              .cast("bigint"))).cast("decimal(28,0)")
        Tables(s, d, "part").where(col("p_type") === "STANDARD")
          .join(Tables(s, d, "lineitem"), expr("p_partkey = l_partkey"))
          .join(Tables(s, d, "supplier"), expr("s_suppkey = l_suppkey"))
          .join(Tables(s, d, "orders"), expr("l_orderkey = o_orderkey"))
          .join(Tables(s, d, "customer"), expr("o_custkey = c_custkey"))
          .join(broadcast(n2), expr("c_nationkey = n2k"))
          .join(broadcast(Tables(s, d, "region")), expr("n2r = r_regionkey"))
          .join(broadcast(n1), expr("s_nationkey = n1k"))
          .where(col("r_name") === "ASIA")
          .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
          .agg(
            // 0/0 guard: an all-zero-revenue year (100% discounts)
            // would be NaN on Spark but engine-dependent on the oracle
            when(sum(vol) === 0, lit(null).cast("double"))
              .otherwise(
                sum(when(col("supp_nation") === "NATION_3", vol)
                  .otherwise(lit(0).cast("decimal(28,0)"))).cast("double")
                  / sum(vol).cast("double")).as("mkt_share"),
            (sum(vol).cast("double") / 10000.0).as("total_revenue"))
      }),

    // ---- TPC-H Q13 (customer distribution): orders per customer
    // via LEFT join (zero-order customers count!), then the histogram
    // of those counts — the two-level aggregate every engagement
    // funnel runs. (The original's o_comment NOT LIKE filter is
    // dropped — the fixture has no comment column; the shape is the
    // point.) Scale: one customer⋈orders shuffle, then a
    // |distinct counts|-row second aggregate. ----
    QueryDef("q_tpch_q13", Some(
      """SELECT c_count, count(*) AS custdist
        |FROM (
        |  SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey) c_orders
        |GROUP BY c_count""".stripMargin))(
      (s, d) =>
        Tables(s, d, "customer")
          .join(Tables(s, d, "orders"),
            col("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_custkey"))
          .agg(count(col("o_orderkey")).as("c_count"))
          .groupBy(col("c_count"))
          .agg(count(lit(1)).as("custdist"))),

    // ---- TPC-H Q15 (top supplier): quarterly revenue per supplier,
    // keep every supplier at the MAX (the original's view + scalar
    // subquery, decorrelated into one broadcast of the 1-row max —
    // ties survive, exactly as the spec requires). Revenue rides the
    // exact-cents ladder so the max comparison is integer-exact.
    // Scale: one lineitem shuffle on suppkey; the max broadcasts
    // back; supplier joins the (tiny) winner set un-hinted. ----
    QueryDef("q_tpch_q15", Some(
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |        AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100
        |        AS BIGINT)) AS DECIMAL(28,0))) AS BIGINT) AS total_e4
        |  FROM lineitem
        |  WHERE epoch_us(l_shipdate) >= 852076800000000
        |    AND epoch_us(l_shipdate) < 859939200000000
        |  GROUP BY l_suppkey),
        |m AS (SELECT max(total_e4) AS mx FROM revenue)
        |SELECT s_suppkey, s_name,
        |  CAST(r.total_e4 AS DOUBLE) / 10000.0 AS total_revenue
        |FROM supplier JOIN revenue r ON s_suppkey = r.supplier_no
        |CROSS JOIN m WHERE r.total_e4 = m.mx""".stripMargin))(
      (s, d) => {
        val rev = Tables(s, d, "lineitem")
          .where(unix_micros(col("l_shipdate").cast("timestamp"))
            .between(852076800000000L, 859939200000000L - 1))
          .groupBy(col("l_suppkey").as("supplier_no"))
          .agg(sum(
            ((col("l_extendedprice").cast("decimal(18,2)") * 100)
              .cast("bigint")
              * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
                .cast("bigint"))).cast("decimal(28,0)"))
            .cast("bigint").as("total_e4"))
        val m = rev.agg(max(col("total_e4")).as("mx"))
        Tables(s, d, "supplier")
          .join(rev, col("s_suppkey") === col("supplier_no"))
          .crossJoin(broadcast(m))
          .where(col("total_e4") === col("mx"))
          .select(col("s_suppkey"), col("s_name"),
            (col("total_e4").cast("double") / 10000.0).as("total_revenue"))
      }),

    // ---- TPC-H Q17 (small-quantity-order revenue): lineitems of one
    // brand whose quantity is under 20% of that part's average — the
    // correlated scalar subquery DECORRELATED into a per-part
    // aggregate joined back (what Catalyst's RewriteCorrelatedScalar-
    // Subquery does; written directly so the plan is one lineitem
    // shuffle on partkey + a broadcast-able per-part threshold). The
    // 0.2·avg comparison is exact by cross-multiplication: 10·qty·n
    // < 2·sum_qty in integer cents — no fractional avg anywhere.
    // (p_container doesn't exist in the fixture; p_brand alone scopes
    // the part set.) ----
    QueryDef("q_tpch_q17", Some(
      """WITH pq AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS sq,
        |    count(*) AS n
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS rev_cents,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey AND p_brand = 'Brand#1'
        |JOIN pq ON pq.l_partkey = lineitem.l_partkey
        |WHERE 10 * CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) * pq.n
        |  < 2 * pq.sq""".stripMargin))(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        val pq = li.groupBy(col("l_partkey").as("pk"))
          .agg(sum(floor(col("l_quantity") * 100 + 0.5).cast("bigint"))
            .cast("bigint").as("sq"),
            count(lit(1)).as("n"))
        li.join(broadcast(Tables(s, d, "part")
            .where(col("p_brand") === "Brand#1")),
            expr("p_partkey = l_partkey"))
          .join(pq, col("pk") === col("l_partkey"))
          .where(lit(10) * floor(col("l_quantity") * 100 + 0.5)
            .cast("bigint") * col("n") < lit(2) * col("sq"))
          .agg(sum(floor(col("l_extendedprice") * 100 + 0.5).cast("bigint"))
            .cast("bigint").as("rev_cents"),
            count(lit(1)).as("n_lines"))
      }),

    // ---- TPC-H Q18 shape (large-volume customers): orders whose
    // total line quantity exceeds a threshold, re-joined to customer,
    // global top-100. Unlike the literal Q18 text (IN-subquery, then a
    // SECOND lineitem scan to re-aggregate), the aggregate is computed
    // once and CARRIED through the joins — exactly equivalent because
    // the re-aggregation groups by the same order key. Scale shape:
    // one lineitem shuffle (partial+final sum), the HAVING filter
    // shrinks orders to a sliver that AQE broadcasts against customer,
    // and the top-100 plans as TakeOrderedAndProject (no global sort).
    // Quantity sums ride DECIMAL end-to-end per the parity rules. ----
    QueryDef("q_tpch_q18", Some(
      """WITH bigo AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sq
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |  epoch_us(o_orderdate) AS o_orderdate_us, o_totalprice,
        |  CAST(sq AS DOUBLE) AS sum_qty
        |FROM bigo
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin))(
      (s, d) => {
        val bigo = Tables(s, d, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("sq"))
          .where(col("sq") > 300)
        bigo.join(Tables(s, d, "orders"), expr("o_orderkey = l_orderkey"))
          .join(Tables(s, d, "customer"), expr("c_custkey = o_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"),
            col("o_totalprice"), col("sq").cast("double").as("sum_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(100)
      }),

    // ---- TPC-H Q10 shape (returned-item revenue): which customers
    // returned the most value in a quarter-year window — the
    // classic 3-way join → customer-grained aggregate → top-20. The
    // plan Spark should (and does) pick: lineitem filtered on
    // returnflag at the scan, hash-join to the date-filtered orders,
    // customer broadcast, one hash aggregate, TakeOrderedAndProject
    // for the cut. Revenue through the exact integer
    // cents·(100−disc) arithmetic shared with Q3/Q5; ORDER BY leads
    // with revenue and tie-breaks on the key so the LIMIT is total. ----
    QueryDef("q_tpch_q10", Some(
      s"""SELECT c_custkey, c_name, c_mktsegment,
         |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue,
         |  count(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |WHERE l_returnflag = 'R'
         |  AND epoch_us(o_orderdate) >= 820454400000000
         |  AND epoch_us(o_orderdate) < 852076800000000
         |GROUP BY c_custkey, c_name, c_mktsegment
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin))(
      (s, d) => {
        val lo = 820454400000000L // 1996-01-01T00:00:00Z
        val hi = 852076800000000L // 1997-01-01T00:00:00Z
        val ous = unix_micros(col("o_orderdate").cast("timestamp"))
        Tables(s, d, "lineitem").where(col("l_returnflag") === "R")
          .join(Tables(s, d, "orders")
            .where(ous >= lo && ous < hi), expr("l_orderkey = o_orderkey"))
          .join(Tables(s, d, "customer"), expr("o_custkey = c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"), col("c_mktsegment"))
          .agg(
            (sum(
              ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
                * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
                  .cast("bigint")))
                .cast("decimal(28,0)"))
              .cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy(col("revenue").desc, col("c_custkey").asc)
          .limit(20)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            col("revenue"), col("n_items"))
      }),

    // ---- TPC-H Q6 shape (forecasting revenue change): the purest
    // scan query in the suite — no join, one global aggregate, and
    // EVERY predicate eligible for parquet pushdown (shipdate range,
    // discount band, quantity cap all sit on raw columns, so the
    // row-group statistics prune before decode; pinned in
    // PlanShapeSpec). At 100 TB this query is the I/O-efficiency
    // bellwether: its cost is the filtered scan, nothing else.
    // Revenue = Σ cents(price)·disc%, exact integers accumulated in
    // DECIMAL(28,0)/HUGEINT, one final double division. Discount
    // literals 0.05/0.07 parse to identical doubles in both engines
    // and the fixture stores exact 2-decimal values, so the band
    // comparison is deterministic. ----
    QueryDef("q_tpch_q6", Some(
      s"""SELECT
         |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
         |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |WHERE epoch_us(l_shipdate) >= 820454400000000
         |  AND epoch_us(l_shipdate) < 852076800000000
         |  AND l_discount >= 0.05 AND l_discount <= 0.07
         |  AND l_quantity < 24""".stripMargin))(
      (s, d) => {
        val lo = 820454400000000L // 1996-01-01T00:00:00Z
        val hi = 852076800000000L // 1997-01-01T00:00:00Z
        val sus = unix_micros(col("l_shipdate").cast("timestamp"))
        Tables(s, d, "lineitem")
          .where(sus >= lo && sus < hi &&
            col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
            col("l_quantity") < 24)
          .agg(
            (sum(
              ((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
                * (col("l_discount").cast("decimal(18,2)") * 100).cast("bigint"))
                .cast("decimal(28,0)"))
              .cast("double") / 10000.0).as("revenue"),
            count(lit(1)).as("n_items"))
      }),

    // ---- TPC-H Q14 shape (promotion effect): one month of lineitem
    // joined to part, promo share as a conditional aggregate — the
    // CASE-inside-SUM pattern over a dimension attribute. Scale
    // shape: the month filter cuts lineitem at the SCAN (pushdown),
    // part broadcasts (dimension-sided), and the share is ONE
    // partial+final agg — no second pass for the denominator. Both
    // sums stay exact integers (DECIMAL(28,0)/HUGEINT); the percent
    // is a single double expression over the two exact sums. ----
    QueryDef("q_tpch_q14", Some(
      s"""WITH l AS (
         |  SELECT l_partkey,
         |    CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         |      * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
         |      AS DECIMAL(28,0)) AS rev
         |  FROM lineitem
         |  WHERE epoch_us(l_shipdate) >= 841536000000000
         |    AND epoch_us(l_shipdate) < 844128000000000)
         |SELECT
         |  100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
         |                        ELSE CAST(0 AS DECIMAL(28,0)) END) AS DOUBLE)
         |    / CAST(sum(rev) AS DOUBLE) AS promo_revenue_pct,
         |  CAST(sum(rev) AS DOUBLE) / 10000.0 AS total_revenue,
         |  count(*) AS n_items
         |FROM l JOIN part ON l_partkey = p_partkey""".stripMargin))(
      (s, d) => {
        val lo = 841536000000000L // 1996-09-01T00:00:00Z
        val hi = 844128000000000L // 1996-10-01T00:00:00Z
        val sus = unix_micros(col("l_shipdate").cast("timestamp"))
        val l = Tables(s, d, "lineitem")
          .where(sus >= lo && sus < hi)
          .select(col("l_partkey"),
            (((col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
              * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
                .cast("bigint"))).cast("decimal(28,0)")).as("rev"))
        l.join(broadcast(Tables(s, d, "part")), expr("l_partkey = p_partkey"))
          .agg(
            (lit(100.0) * sum(when(col("p_type") === "PROMO", col("rev"))
              .otherwise(lit(0).cast("decimal(28,0)"))).cast("double")
              / sum(col("rev")).cast("double")).as("promo_revenue_pct"),
            (sum(col("rev")).cast("double") / 10000.0).as("total_revenue"),
            count(lit(1)).as("n_items"))
      }),

    // ---- TPC-H Q19 shape (discounted revenue, disjunctive
    // predicate): three OR'd branches each tying a PART attribute
    // (brand + size band) to a LINEITEM attribute (quantity band) —
    // the classic test of disjunctive pushdown and join-predicate
    // splitting. Catalyst extracts each side's implied disjunction
    // and pushes it to that side's SCAN — part gets the full
    // (brand=…∧size≤…)∨… Or filter plus the common size lower bound,
    // lineitem gets the quantity envelope — while the cross-table
    // residual evaluates on the joined row (plan pinned in
    // PlanShapeSpec); neither table is scanned unfiltered. Revenue is
    // the exact integer-cents product (DECIMAL(28,0)/HUGEINT, the Q6
    // idiom) with one double division at the end. ----
    QueryDef("q_tpch_q19", Some(
      """SELECT count(*) AS n_items,
        |  CAST(sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |      AS BIGINT)
        |    * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS DECIMAL(28,0))) AS DOUBLE) / 10000.0 AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin))(
      (s, d) => {
        val disj =
          """(p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15
            |   AND l_quantity BETWEEN 1 AND 11)
            |OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 25
            |   AND l_quantity BETWEEN 10 AND 20)
            |OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 50
            |   AND l_quantity BETWEEN 20 AND 30)""".stripMargin
        Tables(s, d, "lineitem")
          .join(broadcast(Tables(s, d, "part")),
            expr("l_partkey = p_partkey"))
          .where(expr(disj))
          .agg(count(lit(1)).as("n_items"),
            (sum(
              ((col("l_extendedprice").cast("decimal(18,2)") * 100)
                .cast("bigint")
                * (lit(100) - (col("l_discount").cast("decimal(18,2)") * 100)
                  .cast("bigint"))).cast("decimal(28,0)"))
              .cast("double") / 10000.0).as("revenue"))
      }),

    // ---- format round-trip through the DuckDB gate: the fixture
    // slice travels parquet → CSV → JSON → ORC (every non-parquet
    // format the engine ships, write AND read) and only then
    // aggregates; the oracle computes the same aggregate from the
    // parquet directly, so a value lost or mangled by ANY codec in
    // the chain fails the hash compare. All staged columns are
    // BIGINT/VARCHAR (cents + epoch-micros), so the trip is lossless
    // BY CONSTRUCTION — this entry proves the multi-file write/read
    // plumbing (partitioned writers, explicit read schemas), not
    // float-text semantics. Reads use the explicit source schema:
    // inferSchema on CSV is a per-run sampling pass that could drift
    // types between runs, which a deterministic pipeline never wants. ----
    QueryDef("q_format_roundtrip", Some(
      """SELECT l_returnflag AS rf, count(*) AS n,
        |  CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  CAST(sum(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS sum_cents,
        |  CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS max_ship_us
        |FROM lineitem WHERE l_linenumber <= 2
        |GROUP BY l_returnflag""".stripMargin))(
      (s, d) => {
        // Deterministic per-dataset staging dir: repeated bench/verify
        // invocations in one JVM OVERWRITE the same three staged copies
        // instead of leaking a fresh tree per call, and the shutdown
        // hook removes the whole tree when the process exits (the
        // staged files must outlive this builder — the returned frame
        // reads them lazily).
        val tmp = formatStageDir(d)
        val src = Tables(s, d, "lineitem").where(col("l_linenumber") <= 2)
          .select(col("l_returnflag").as("rf"),
            floor(col("l_quantity") + 0.5).cast("bigint").as("qty"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("bigint").as("cents"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
        Relational.sinkCsv(src, s"$tmp/csv")
        val afterCsv = s.read.schema(src.schema)
          .option("header", "true").csv(s"$tmp/csv")
        Relational.sinkJson(afterCsv, s"$tmp/json")
        val afterJson = s.read.schema(src.schema).json(s"$tmp/json")
        Relational.sinkOrc(afterJson, s"$tmp/orc")
        Relational.scanOrc(s, s"$tmp/orc")
          .groupBy(col("rf"))
          .agg(count(lit(1)).as("n"),
            sum(col("qty")).cast("bigint").as("sum_qty"),
            sum(col("cents")).cast("bigint").as("sum_cents"),
            max(col("ship_us")).cast("bigint").as("max_ship_us"))
      }),

    // ---- schema evolution across file generations: a legacy batch
    // written WITHOUT the cents column and a current batch WITH it are
    // read back as one frame via mergeSchema — the reader unions the
    // footer schemas and NULL-fills the missing column for legacy
    // files (the standard long-lived-dataset upgrade path: add a
    // column, never rewrite old files). The aggregate proves the fill:
    // sum(cents) covers only current-generation rows and n_legacy
    // counts exactly the NULL-filled ones. The oracle states the same
    // result from the source table directly, modeling the missing
    // column with CASE on the generation key — so a reader that
    // misaligned columns or dropped legacy rows fails the hash. Scale:
    // mergeSchema unions footer schemas on the driver (per-FILE
    // footers, not data) and the aggregate is one partial+final hash
    // agg; pin the merged schema explicitly once known to skip even
    // the footer sweep. ----
    QueryDef("q_schema_evolution", Some(
      """SELECT l_returnflag AS rf, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |    AS sum_qty,
        |  CAST(sum(CASE WHEN l_linenumber = 2
        |    THEN CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) END)
        |    AS BIGINT) AS sum_cents,
        |  CAST(sum(CASE WHEN l_linenumber = 2 THEN 0 ELSE 1 END) AS BIGINT)
        |    AS n_legacy
        |FROM lineitem WHERE l_linenumber <= 2
        |GROUP BY l_returnflag""".stripMargin))(
      (s, d) => {
        val tmp = stageDir("evo", d)
        val base = Tables(s, d, "lineitem").where(col("l_linenumber") <= 2)
        base.where(col("l_linenumber") === 1)
          .select(col("l_returnflag").as("rf"),
            floor(col("l_quantity") + 0.5).cast("bigint").as("qty"))
          .write.mode("overwrite").parquet(s"$tmp/gen1")
        base.where(col("l_linenumber") === 2)
          .select(col("l_returnflag").as("rf"),
            floor(col("l_quantity") + 0.5).cast("bigint").as("qty"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("bigint")
              .as("cents"))
          .write.mode("overwrite").parquet(s"$tmp/gen2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$tmp/gen1", s"$tmp/gen2")
          .groupBy(col("rf"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("qty")).cast("bigint").as("sum_qty"),
            sum(col("cents")).cast("bigint").as("sum_cents"),
            sum(when(col("cents").isNull, 1L).otherwise(0L)).cast("bigint")
              .as("n_legacy"))
      }),

    // ---- dynamic partition pruning over a month-partitioned fact ----
    // The fact is staged Hive-partitioned by ship month (the layout a
    // 100 TB lineitem would actually use) and carries NO static filter
    // on the partition column; the months come from the filtered dim at
    // RUNTIME, so the scan must prune 9 of 12 partitions via DPP (plan
    // pinned in DppSpec). The oracle states the same join over the raw
    // table.
    QueryDef("q_partition_prune", Some(
      """SELECT mon, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS qty_cents
        |FROM (SELECT CAST(month(l_shipdate) AS INTEGER) AS mon, l_quantity
        |      FROM lineitem) f
        |JOIN (SELECT DISTINCT CAST(month(o_orderdate) AS INTEGER) AS mon
        |      FROM orders
        |      WHERE o_orderpriority = '1-URGENT'
        |        AND month(o_orderdate) IN (1, 2, 3)) d USING (mon)
        |GROUP BY mon""".stripMargin))(
      (s, d) => {
        val fact = RelationalQueries.monthPartitionedLineitem(s, d)
        val dim = Tables(s, d, "orders")
          .where(col("o_orderpriority") === "1-URGENT" &&
            month(col("o_orderdate")).isin(1, 2, 3))
          .select(month(col("o_orderdate")).cast("int").as("mon"))
          .distinct()
        fact.join(broadcast(dim), Seq("mon"))
          .groupBy(col("mon"))
          .agg(count(lit(1)).as("n_lines"),
            sum(floor(col("l_quantity") * 100 + 0.5).cast("bigint"))
              .as("qty_cents"))
      }),

    // ---- incremental view maintenance for a JOIN view: the delta
    // algebra (O∪ΔO)⋈(L∪ΔL) = O⋈L ∪ ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL, with each
    // quadrant partially aggregated and the partials merged by a
    // second groupBy (counts/sums merge by SUM — the same contract
    // q_agg_incremental_refresh pins for single-table aggs). The
    // fixture's "deltas" are deterministic cross-cutting slices
    // (o_orderkey % 7 on the orders side, l_linenumber > 4 on the
    // lineitem side) so all four quadrants are non-empty. The full-
    // recompute oracle pins maintain == recompute. Scale: at 100 TB
    // the O⋈L base state is persisted between refreshes and only the
    // three delta quadrants execute — cost ∝ |Δ|·join-fanout, never
    // |base|; the delta sides carry no broadcast hint on purpose
    // (a "delta" is small by convention, not by construction — AQE
    // picks broadcast when a given refresh's delta actually is). ----
    QueryDef("q_ivm_join_delta", Some(
      """SELECT o_orderpriority, count(*) AS n_lines,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
        |    AS BIGINT) AS rev_cents
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority""".stripMargin))(
      (s, d) => {
        val o = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val l = Tables(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("bigint")
              .as("cents"))
        val oBase = o.where(pmod(col("o_orderkey"), lit(7L)) =!= 0)
        val oDelta = o.where(pmod(col("o_orderkey"), lit(7L)) === 0)
        val lBase = l.where(col("l_linenumber") <= 4)
        val lDelta = l.where(col("l_linenumber") > 4)
        def quadrant(of: DataFrame, lf: DataFrame): DataFrame =
          of.join(lf, col("o_orderkey") === col("l_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("pn"), sum(col("cents")).as("pc"))
        quadrant(oBase, lBase)
          .unionAll(quadrant(oDelta, lBase))
          .unionAll(quadrant(oBase, lDelta))
          .unionAll(quadrant(oDelta, lDelta))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("pn")).as("n_lines"),
            sum(col("pc")).as("rev_cents"))
      }),

    // ---- manual skew-join mitigation (the AQE-skew-join algebra made
    // explicit, for engines/paths where OptimizeSkewedJoin can't fire,
    // e.g. a join feeding a co-partitioned downstream op): a fact⋈fact
    // self-join of events (clicks ⋈ views) on a SENTINEL-SKEWED key —
    // every 10th user collapses to uid −1, modeling the production
    // skew source (unknown/default/null-sentinel keys concentrating a
    // constant FRACTION of both fact sides on one reducer; the
    // fixture's organic user activity is uniform). Hot keys are
    // detected from a key-histogram (count cross-multiplied against
    // 4× the mean — integer, scale-free; at every sf it flags exactly
    // the sentinel), then routed two ways: cold keys join plain; hot
    // keys join SALTED — the click side tags pmod(event_id, 8), the
    // view side explodes ×8 — so one hot key's pair-explosion spreads
    // over 8 reducers instead of one. The plain-join oracle pins
    // salted ∪ cold == unsalted. Scale: the histogram is |distinct
    // keys| rows; the hot SET is mass-bounded (each hot key carries
    // > 4× mean, so ≤ nu/4 keys worst case) but not row-bounded, so
    // its probes carry no broadcast hint — AQE broadcasts when it is
    // actually small. Per-reducer work for a key with d_c·d_v pairs
    // drops from d_c·d_v to d_c·d_v/8 at the cost of replicating
    // only the hot slice of the view side ×8. ----
    QueryDef("q_join_skew_salted", Some(
      """WITH c AS (SELECT
        |    CASE WHEN user_id % 10 = 0 THEN -1 ELSE user_id END AS user_id,
        |    event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c_cents
        |  FROM events WHERE event_type = 'click'),
        |v AS (SELECT
        |    CASE WHEN user_id % 10 = 0 THEN -1 ELSE user_id END AS user_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_cents
        |  FROM events WHERE event_type = 'view'),
        |hist AS (SELECT user_id, count(*) AS n FROM c GROUP BY user_id),
        |tot AS (SELECT count(*) AS nc, count(DISTINCT user_id) AS nu FROM c),
        |hot AS (SELECT user_id FROM hist, tot WHERE n * nu > 4 * nc),
        |j AS (SELECT c.user_id,
        |    CAST(CASE WHEN hot.user_id IS NOT NULL THEN 1 ELSE 0 END
        |      AS BIGINT) AS is_hot,
        |    c.c_cents, v.v_cents
        |  FROM c JOIN v ON c.user_id = v.user_id
        |  LEFT JOIN hot ON c.user_id = hot.user_id)
        |SELECT is_hot, count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_pairs,
        |  CAST(sum(c_cents + v_cents) AS BIGINT) AS sum_cents
        |FROM j GROUP BY is_hot""".stripMargin))(
      (s, d) => {
        val ev = Tables(s, d, "events")
        val sentinel = when(col("user_id") % 10 === 0, lit(-1L))
          .otherwise(col("user_id"))
        val c = ev.where(col("event_type") === "click")
          .select(sentinel.as("user_id"), col("event_id"),
            floor(col("value") * 100 + 0.5).cast("bigint").as("c_cents"))
        val v = ev.where(col("event_type") === "view")
          .select(sentinel.as("user_id"),
            floor(col("value") * 100 + 0.5).cast("bigint").as("v_cents"))
        val hist = c.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        val tot = hist.agg(sum(col("n")).as("nc"),
          count(lit(1)).as("nu"))
        val hot = hist.crossJoin(broadcast(tot))
          .where(col("n") * col("nu") > lit(4) * col("nc"))
          .select(col("user_id"))
        val salts = 8
        // the hot SET is small in the intended regime but only
        // mass-bounded, not row-bounded, by the 4×-mean threshold
        // (worst case nu/4 keys) — so its four semi/anti probes carry
        // no broadcast hint; AQE broadcasts when it actually is small
        // cold lane: plain equi-join after anti-joining the hot set
        val cCold = c.join(hot, Seq("user_id"), "left_anti")
        val vCold = v.join(hot, Seq("user_id"), "left_anti")
        val cold = cCold.join(vCold, Seq("user_id"))
          .select(col("user_id"), lit(0L).as("is_hot"),
            col("c_cents"), col("v_cents"))
        // hot lane: click rows salt deterministically, view rows
        // explode across every salt — join key (user_id, salt)
        val cHot = c.join(hot, Seq("user_id"), "left_semi")
          .withColumn("salt", pmod(col("event_id"), lit(salts.toLong)))
        val vHot = v.join(hot, Seq("user_id"), "left_semi")
          .withColumn("salt",
            explode(sequence(lit(0L), lit(salts.toLong - 1))))
        val hotJ = cHot.join(vHot, Seq("user_id", "salt"))
          .select(col("user_id"), lit(1L).as("is_hot"),
            col("c_cents"), col("v_cents"))
        cold.unionAll(hotJ)
          .groupBy(col("is_hot"))
          .agg(countDistinct(col("user_id")).as("n_users"),
            count(lit(1)).as("n_pairs"),
            sum(col("c_cents") + col("v_cents")).as("sum_cents"))
      })
  )

  /** Per-dataset staging dir (one per prefix), removed on JVM exit —
    * staged copies are read lazily by the returned frames, so they
    * cannot be deleted inline; repeated invocations in one JVM
    * overwrite rather than leak. The dir is keyed on the PROCESS id
    * too: two concurrent JVMs on the same fixture (bench ∥ verify)
    * must not overwrite each other's staged files mid-read. */
  private def stageDir(prefix: String, d: String): String = {
    val dir = s"/tmp/graft_${prefix}_${ProcessHandle.current.pid}_" +
      Integer.toHexString(d.hashCode)
    val f = new java.io.File(dir)
    if (stageHooked.add(dir)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rm)); x.delete(): Unit
        }
        rm(f)
      }))
    }
    dir
  }
  private val stageHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def formatStageDir(d: String): String = stageDir("fmt", d)

  /** Stage lineitem partitioned by ship month (idempotent per fixture
    * dir) and read it back — a Hive-partitioned fact for the DPP
    * query/spec. Partition discovery types `mon` as INTEGER. */
  def monthPartitionedLineitem(s: SparkSession, d: String): DataFrame = {
    // Cache key includes the source file's (mtime, size): a REGENERATED
    // fixture under the same path must invalidate the staged copy, or
    // this would silently serve pre-regeneration rows.
    val srcMeta = {
      val f = new java.io.File(s"$d/lineitem.parquet")
      s"${f.lastModified()}_${f.length()}".hashCode
    }
    val dir =
      s"/tmp/graft_dpp_${Integer.toHexString(d.hashCode ^ srcMeta)}"
    val marker = new java.io.File(s"$dir/_SUCCESS")
    if (!marker.exists()) {
      Tables(s, d, "lineitem")
        .select(month(col("l_shipdate")).cast("int").as("mon"), col("l_quantity"))
        .write.mode("overwrite").partitionBy("mon").parquet(dir)
    }
    s.read.parquet(dir)
  }
}
