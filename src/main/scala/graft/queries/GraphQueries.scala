package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over relationship tables (north-star extension,
  * complementing the connected-components clustering in
  * [[DedupQueries]]): iterative link analysis expressed as repeated
  * equi-join + aggregate rounds — the distributed PageRank shape.
  *
  * Everything is integer arithmetic: ranks are scaled by 1e9, each
  * node's contribution is an integer division by its out-degree, and
  * the damping step is `(85·mass) DIV 100` — so three unrolled
  * iterations are bit-identical between Spark and DuckDB with no
  * float accumulation anywhere.
  */
object GraphQueries {

  /** Fixed-point scale for rank mass (1e9 per node of initial mass). */
  private val prScale = 1000000000L
  /** Teleport mass per node per iteration: (15 · scale) DIV 100. */
  private val prBase = 15L * prScale / 100L

  /** Co-purchase graph CTEs (no leading WITH): parts sharing ≥2
    * baskets, one undirected edge per pair with p1 < p2. Shared by
    * q_graph_triangles and q_graph_link_predict so the two operators
    * cannot drift onto different graphs. */
  private val coPurchaseUndCte: String =
    """items AS (
      |  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      |pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, count(*) AS s
      |  FROM items a JOIN items b ON a.o = b.o AND a.p < b.p
      |  GROUP BY a.p, b.p),
      |und AS (SELECT p1, p2 FROM pairs WHERE s >= 2)""".stripMargin

  /** Session-memoized shared graph frames. The family's entries all
    * derive from TWO base graphs (the co-purchase projection and the
    * symmetrized part↔supplier supply graph); building them once per
    * (session, fixture dir) and materializing via eager localCheckpoint
    * removes 3–6 redundant distinct+self-join/union builds from any
    * run that touches several family members (Bench's full catalog,
    * Verify) without changing any entry's result. localCheckpoint —
    * not persist — so `spark.catalog.clearCache()` between bench
    * timings cannot evict them mid-family. The key carries the
    * shuffle-partition conf so layout-invariance tests (DeterminismSpec
    * runs entries at 4 vs 7 partitions) still rebuild the frames under
    * each layout rather than comparing a frame to itself.
    *
    * Fault tolerance and lifecycle live in [[graft.ops.FrameCache]]:
    * a lost checkpoint block (executor death — ChaosSpec's simulated
    * scenario) evicts and REBUILDS the frame instead of poisoning the
    * family for the session's lifetime, entries are LRU-bounded with
    * explicit unpersist on evict, and the whole set clears at
    * application end. */
  private def memo(s: SparkSession, d: String, kind: String)
      (build: => DataFrame): DataFrame =
    graft.ops.FrameCache.memo(s,
      s"graph:$d:${s.conf.get("spark.sql.shuffle.partitions")}:$kind")(build)

  /** Spark twin of [[coPurchaseUndCte]]'s `und` (shared by triangles,
    * link-predict, edge-support and bfs — memoized). */
  private def coPurchaseUnd(s: SparkSession, d: String): DataFrame =
    memo(s, d, "und") {
      val items = Tables(s, d, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
        .distinct()
      items.alias("a").join(items.alias("b"),
          expr("a.o = b.o AND a.p < b.p"))
        .groupBy(col("a.p").as("p1"), col("b.p").as("p2"))
        .agg(count(lit(1)).as("s"))
        .where(col("s") >= 2).select(col("p1"), col("p2"))
        .localCheckpoint(true)
    }

  /** Distinct bipartite supply pairs (2·partkey, 2·suppkey+1) —
    * the node/edge base of pagerank, kcore, assortativity, label-prop
    * and modularity. Memoized + materialized once per (session, dir,
    * layout). */
  private def supplyBi(s: SparkSession, d: String): DataFrame =
    memo(s, d, "bi") {
      Tables(s, d, "lineitem")
        .select((col("l_partkey") * 2).as("p"),
          (col("l_suppkey") * 2 + 1).as("sp"))
        .distinct()
        .localCheckpoint(true)
    }

  /** The symmetrized directed supply edge list, pre-partitioned on
    * `src` — the loop-invariant frame every iterative entry joins per
    * round (a Pregel runtime would maintain exactly this partitioning).
    * Memoized: the repartition+materialization happens once per
    * (session, dir, layout), and every iteration everywhere exchanges
    * only its |nodes|-sized state vector, never the edges. */
  private def supplyEdges(s: SparkSession, d: String): DataFrame =
    memo(s, d, "edges") {
      val bi = supplyBi(s, d)
      bi.select(col("p").as("src"), col("sp").as("dst"))
        .unionAll(bi.select(col("sp").as("src"), col("p").as("dst")))
        .repartition(col("src")).localCheckpoint(true)
    }

  private def lpIter(prev: String, out: String) =
    s"""v_$out AS (
       |  SELECT e.dst AS node, p.lab, count(*) AS c
       |  FROM e JOIN $prev p ON e.src = p.node
       |  WHERE p.lab IS NOT NULL
       |  GROUP BY e.dst, p.lab),
       |b_$out AS (
       |  SELECT node, lab FROM (
       |    SELECT node, lab,
       |      row_number() OVER (PARTITION BY node
       |        ORDER BY c DESC, lab ASC) AS rn
       |    FROM v_$out) t WHERE rn = 1),
       |$out AS (
       |  SELECT n.node,
       |    CASE WHEN n.node % 7 = 0 THEN n.node % 5
       |         ELSE coalesce(b.lab, p.lab) END AS lab
       |  FROM nodes n
       |  LEFT JOIN b_$out b ON b.node = n.node
       |  LEFT JOIN $prev p ON p.node = n.node)""".stripMargin

  /** The label-propagation CTE chain (bipartite build + 2 unrolled
    * rounds, final labels in `l2`) — factored so q_graph_label_prop
    * and the modularity eval share ONE text and cannot drift. */
  private lazy val labelPropCtes: String =
    s"""bi AS (
       |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
       |  FROM lineitem),
       |e AS (SELECT p AS src, sp AS dst FROM bi
       |      UNION ALL SELECT sp AS src, p AS dst FROM bi),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |l0 AS (SELECT node,
       |  CASE WHEN node % 7 = 0 THEN node % 5 END AS lab FROM nodes),
       |${lpIter("l0", "l1")},
       |${lpIter("l1", "l2")}""".stripMargin

  /** Right-size an iterative build's shuffle parallelism to its edge
    * set (the ops.ConnectedComponents pattern): one partition per
    * ~100k edges, capped at the session setting, scoped to the block.
    * Loop rounds materialize eagerly (localCheckpoint(true)) INSIDE
    * the block, so every per-round exchange runs at the loop's
    * parallelism — at fixture scale a round is hundreds of rows and
    * 32-way task scheduling is pure overhead (measured ~25% of the
    * graph family's wall time); at 100 TB the cap leaves the session
    * setting in charge.
    *
    * ASSUMES A SINGLE-THREADED DRIVER: the override is session-global
    * for the block's duration, so any frame another thread PLANS while
    * the block runs would silently plan at loop parallelism (the
    * catalog runner, Verify and Bench are all sequential). Note also
    * that only frames materialized INSIDE the block (the per-round
    * localCheckpoints) run at loop parallelism — a frame merely
    * CONSTRUCTED here but executed after the scope ends plans at
    * the session setting. */
  private def loopSized[T](s: SparkSession, edgeRows: Long)(f: => T): T = {
    val sess = s.sessionState.conf.numShufflePartitions
    val parts = math.max(1L,
      math.min(sess.toLong, (edgeRows + 99999) / 100000)).toInt
    graft.SessionConf.withConfs(s,
      Map("spark.sql.shuffle.partitions" -> Some(parts.toString)))(f)
  }

  /** Spark twin of [[labelPropCtes]]: returns (bi, e, final labels). */
  private def labelPropFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    // bi reused by edges AND (in the modularity eval) the e_in join;
    // both frames come from the memoized shared-graph cache, and the
    // propagated label vector is itself memoized below so label_prop
    // and modularity run the 2-round loop once per session+layout
    val bi = supplyBi(s, d)
    val e = supplyEdges(s, d)
    val labsOut = memo(s, d, "lp_labs") { labelPropLoop(s, e) }
    (bi, e, labsOut)
  }

  private def labelPropLoop(s: SparkSession, e: DataFrame): DataFrame = {
    val nodes = e.select(col("src").as("node")).distinct()
    var labs = nodes.select(col("node"),
      when(col("node") % 7 === 0, col("node") % 5).as("lab"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("c").desc, col("lab").asc)
    loopSized(s, e.count()) { for (_ <- 1 to 2) {
      val votes = e.join(labs.where(col("lab").isNotNull)
          .select(col("node").as("src"), col("lab")), "src")
        .groupBy(col("dst").as("node"), col("lab"))
        .agg(count(lit(1)).as("c"))
      val best = votes
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("node").as("bn"), col("lab").as("blab"))
      labs = nodes
        .join(best, col("node") === col("bn"), "left")
        .join(labs.select(col("node").as("pn"), col("lab").as("plab")),
          col("node") === col("pn"), "left")
        .select(col("node"),
          when(col("node") % 7 === 0, col("node") % 5)
            .otherwise(coalesce(col("blab"), col("plab"))).as("lab"))
        .localCheckpoint(true) // rounds run at loop parallelism
    } }
    labs
  }

  val defs: Seq[QueryDef] = Seq(

    // ---- PageRank (3 unrolled iterations, damping 0.85) over the
    // part↔supplier bipartite graph: nodes are parts (even ids,
    // 2·partkey) and suppliers (odd ids, 2·suppkey+1); edges are the
    // DISTINCT supply relationships in lineitem, symmetrized, so
    // every node has out-edges (no dangling-mass term) and appears
    // as a destination (no left-join backfill). Scale: each
    // iteration is ONE equi-join of the rank vector against the
    // edge list (both keyed on the node id — the natural
    // co-partitioning) plus a partial+final aggregate on dst;
    // per-iteration state is |nodes| rows, lineage stays linear in
    // the iteration count. Integer headroom: 85 × total mass must
    // stay under 2^63 — at ~1e9 nodes drop prScale to 1e6 or lift
    // the mass sums to DECIMAL(38,0), same plan. ----
    QueryDef("q_graph_pagerank", Some {
      def step(prev: String, out: String, cast: Boolean) = {
        val expr = s"$prBase + (85 * m) // 100"
        s"""s_$out AS (
           |  SELECT e.dst, sum($prev.pr // deg.deg) AS m
           |  FROM e JOIN $prev ON e.src = $prev.node
           |    JOIN deg ON deg.src = e.src
           |  GROUP BY e.dst),
           |$out AS (SELECT dst AS node,
           |  ${if (cast) s"CAST($expr AS BIGINT)" else expr} AS pr FROM s_$out)"""
          .stripMargin
      }
      s"""WITH b AS (
         |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem),
         |e AS (SELECT p AS src, sp AS dst FROM b
         |      UNION ALL SELECT sp AS src, p AS dst FROM b),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |p0 AS (SELECT src AS node, CAST($prScale AS BIGINT) AS pr FROM deg),
         |${step("p0", "p1", cast = false)},
         |${step("p1", "p2", cast = false)},
         |${step("p2", "p3", cast = true)}
         |SELECT node, node % 2 = 0 AS is_part, pr FROM p3""".stripMargin
    })(
      (s, d) => {
        // the shared memoized edge list is already src-partitioned and
        // materialized; deg and the degree-weighted edge frame derive
        // from it without re-reading lineitem
        val e = supplyEdges(s, d)
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        // every iteration's rank join then exchanges only the
        // |nodes|-sized rank vector, never the edges — the
        // loop-invariant partitioning a Pregel-style runtime maintains
        val ew = e.join(deg, "src").repartition(col("src"))
          // materialized once, reused every iteration; localCheckpoint
          // (not persist) so repeated catalog runs in one JVM don't
          // accumulate cache entries — checkpoint blocks are freed by
          // the ContextCleaner when the frame is GC'd
          .localCheckpoint(true)
        var pr = deg.select(col("src").as("node"), lit(prScale).as("pr"))
        loopSized(s, ew.count()) { for (_ <- 1 to 3) {
          pr = ew.join(pr, ew("src") === pr("node"))
            .select(col("dst"), expr("pr DIV deg").as("c"))
            .groupBy(col("dst")).agg(sum(col("c")).as("m"))
            .select(col("dst").as("node"),
              (lit(prBase) + expr("(85 * m) DIV 100")).as("pr"))
            .localCheckpoint(true) // rounds run at loop parallelism
        } }
        pr.select(col("node"), (pmod(col("node"), lit(2L)) === 0).as("is_part"),
          col("pr"))
      }),

    // ---- triangle counting over the co-purchase graph (parts that
    // share ≥2 baskets): the canonical clustering-coefficient
    // primitive, as the ORIENTED two-join plan — every edge stored
    // once, triangles found by joining e(a,b)⋈e(b,c) and closing with
    // e(a,c), so each triangle is counted exactly once and the wedge
    // enumeration only ever extends in one direction. Edges are
    // oriented by the DEGREE total order (deg, id), lower endpoint →
    // higher: every out-degree is then O(√m), so the wedge
    // intermediate is bounded O(m^1.5) even when a skewed hub has a
    // small id — the id-only orientation kept a small-id hub's full
    // out-degree and its wedge set grew quadratically at 100× scale.
    // Support ≥2 keeps the graph the meaningful repeat-co-occurrence
    // one, not single-basket noise.
    QueryDef("q_graph_triangles", Some(
      s"""WITH $coPurchaseUndCte,
        |deg AS (
        |  SELECT node, count(*) AS dg FROM (
        |    SELECT p1 AS node FROM und
        |    UNION ALL SELECT p2 AS node FROM und)
        |  GROUP BY node),
        |e AS (
        |  SELECT CASE WHEN d1.dg <= d2.dg THEN u.p1 ELSE u.p2 END AS src,
        |         CASE WHEN d1.dg <= d2.dg THEN u.p2 ELSE u.p1 END AS dst
        |  FROM und u JOIN deg d1 ON d1.node = u.p1
        |             JOIN deg d2 ON d2.node = u.p2)
        |SELECT (SELECT count(*) FROM e) AS n_edges,
        |  (SELECT count(*) FROM e a
        |     JOIN e b ON b.src = a.dst
        |     JOIN e c ON c.src = a.src AND c.dst = b.dst) AS n_triangles""".stripMargin))(
      (s, d) => {
        val und = coPurchaseUnd(s, d)
        val deg = und.select(col("p1").as("node"))
          .unionAll(und.select(col("p2").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("dg"))
        // orient lower (deg, id) → higher; p1 < p2 by construction, so
        // the (deg, id) tie-break reduces to d1 <= d2
        val lowFirst = col("d1") <= col("d2")
        val e = und
          .join(deg.select(col("node").as("p1"), col("dg").as("d1")), "p1")
          .join(deg.select(col("node").as("p2"), col("dg").as("d2")), "p2")
          .select(when(lowFirst, col("p1")).otherwise(col("p2")).as("src"),
            when(lowFirst, col("p2")).otherwise(col("p1")).as("dst"))
          // wedge join reads it three times; localCheckpoint not
          // persist — repeated catalog runs must not accumulate cache
          .localCheckpoint(true)
        val wedges = e.alias("x").join(e.alias("y"),
          expr("y.src = x.dst"))
        val tri = wedges.join(e.alias("z"),
          expr("z.src = x.src AND z.dst = y.dst"))
        e.agg(count(lit(1)).as("n_edges"))
          .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
      }),

    // ---- link prediction over the co-purchase graph (shared
    // [[coPurchaseUndCte]] graph): for every NON-adjacent pair, the
    // common-neighbor count and the Resource-Allocation index
    // Σ_z 1/deg(z) (Zhou et al. — the log-free cousin of Adamic-Adar;
    // 1e9 DIV deg is exact, so the ranking is bit-identical across
    // engines). Wedges are enumerated once per common neighbor z as
    // its (nb1 < nb2) neighbor pairs, candidate pairs hash-aggregate,
    // existing edges leave via ONE anti-join, top-20 is
    // TakeOrderedAndProject. Scale: wedge count is Σ_z deg(z)² — the
    // deg ≤ 1000 hub cap (a no-op on this fixture, applied identically
    // in the oracle) bounds each z's contribution the way production
    // link predictors bound celebrity nodes; RA then also down-weights
    // whatever large-but-capped hubs remain. ----
    QueryDef("q_graph_link_predict", Some(
      s"""WITH $coPurchaseUndCte,
         |adj AS (SELECT p1 AS z, p2 AS nb FROM und
         |        UNION ALL SELECT p2 AS z, p1 AS nb FROM und),
         |deg AS (SELECT z, count(*) AS dg FROM adj GROUP BY z),
         |wedge AS (
         |  SELECT a.nb AS n1, b.nb AS n2, a.z AS z
         |  FROM adj a JOIN adj b ON a.z = b.z AND a.nb < b.nb),
         |cand AS (
         |  SELECT w.n1, w.n2, count(*) AS cn,
         |    CAST(sum(1000000000 // deg.dg) AS BIGINT) AS ra_scaled
         |  FROM wedge w JOIN deg ON deg.z = w.z AND deg.dg <= 1000
         |  GROUP BY w.n1, w.n2),
         |fresh AS (
         |  SELECT c.n1, c.n2, c.cn, c.ra_scaled FROM cand c
         |  LEFT JOIN und u ON u.p1 = c.n1 AND u.p2 = c.n2
         |  WHERE u.p1 IS NULL)
         |SELECT n1, n2, cn, ra_scaled,
         |  CAST(row_number() OVER (ORDER BY cn DESC, ra_scaled DESC,
         |    n1, n2) AS BIGINT) AS rnk
         |FROM fresh
         |ORDER BY cn DESC, ra_scaled DESC, n1, n2 LIMIT 20""".stripMargin))(
      (s, d) => {
        val und = coPurchaseUnd(s, d)
          .localCheckpoint(true) // adjacency ×2 + the anti-join probe
        val adj = und.select(col("p1").as("z"), col("p2").as("nb"))
          .unionAll(und.select(col("p2").as("z"), col("p1").as("nb")))
        val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("dg"))
        val wedge = adj.alias("a").join(adj.alias("b"),
            expr("a.z = b.z AND a.nb < b.nb"))
          .select(col("a.nb").as("n1"), col("b.nb").as("n2"),
            col("a.z").as("z"))
        val cand = wedge
          .join(deg.where(col("dg") <= 1000), "z")
          .groupBy(col("n1"), col("n2"))
          .agg(count(lit(1)).as("cn"),
            sum(expr("1000000000 DIV dg")).as("ra_scaled"))
        val fresh = cand.join(und,
          cand("n1") === und("p1") && cand("n2") === und("p2"), "left_anti")
          .orderBy(col("cn").desc, col("ra_scaled").desc,
            col("n1").asc, col("n2").asc)
          .limit(20)
        val w = graft.ops.BoundedWindow
          .ordered(col("cn").desc, col("ra_scaled").desc,
            col("n1").asc, col("n2").asc)
        fresh.withColumn("rnk", row_number().over(w).cast("bigint"))
          .select(col("n1"), col("n2"), col("cn"), col("ra_scaled"),
            col("rnk"))
      }),

    // ---- edge embeddedness over the co-purchase graph (shared
    // [[coPurchaseUndCte]]): for every EXISTING edge, its triangle
    // support (common-neighbor count) and neighborhood-Jaccard
    // strength cn/(deg(a)+deg(b)−2−cn) as an exact 1e6-scaled
    // integer — the tie-strength signal a graph-data curator uses to
    // separate structural edges from noise before sampling. Same
    // wedge enumeration as q_graph_link_predict (deg ≤ 1000 hub cap)
    // but SEMI-joined onto the edge list instead of anti-joined;
    // edges whose endpoints share no neighbor carry support 0 via the
    // left join. Top-20 by (support, jaccard, pair) is a heap. ----
    QueryDef("q_graph_edge_support", Some(
      s"""WITH $coPurchaseUndCte,
         |adj AS (SELECT p1 AS z, p2 AS nb FROM und
         |        UNION ALL SELECT p2 AS z, p1 AS nb FROM und),
         |deg AS (SELECT z, count(*) AS dg FROM adj GROUP BY z),
         |wedge AS (
         |  SELECT a.nb AS n1, b.nb AS n2
         |  FROM adj a JOIN adj b ON a.z = b.z AND a.nb < b.nb
         |  JOIN deg ON deg.z = a.z AND deg.dg <= 1000),
         |sup AS (
         |  SELECT n1, n2, count(*) AS cn FROM wedge GROUP BY n1, n2),
         |e AS (
         |  SELECT u.p1, u.p2, coalesce(s.cn, 0) AS cn,
         |    d1.dg AS deg1, d2.dg AS deg2
         |  FROM und u
         |  LEFT JOIN sup s ON s.n1 = u.p1 AND s.n2 = u.p2
         |  JOIN deg d1 ON d1.z = u.p1
         |  JOIN deg d2 ON d2.z = u.p2)
         |SELECT p1, p2, CAST(cn AS BIGINT) AS support,
         |  CAST(CASE WHEN deg1 + deg2 - 2 - cn = 0 THEN 0
         |    ELSE (1000000 * cn) // (deg1 + deg2 - 2 - cn) END AS BIGINT)
         |    AS jaccard_e6,
         |  CAST(row_number() OVER (ORDER BY cn DESC,
         |    (1000000 * cn) // greatest(deg1 + deg2 - 2 - cn, 1) DESC,
         |    p1, p2) AS BIGINT) AS rnk
         |FROM e
         |ORDER BY support DESC, jaccard_e6 DESC, p1, p2 LIMIT 20""".stripMargin))(
      (s, d) => {
        val und = coPurchaseUnd(s, d)
          .localCheckpoint(true) // adjacency ×2 + the edge roster
        val adj = und.select(col("p1").as("z"), col("p2").as("nb"))
          .unionAll(und.select(col("p2").as("z"), col("p1").as("nb")))
        val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("dg"))
        val wedge = adj.alias("a").join(adj.alias("b"),
            expr("a.z = b.z AND a.nb < b.nb"))
          .select(col("a.nb").as("n1"), col("b.nb").as("n2"), col("a.z").as("z"))
          .join(deg.where(col("dg") <= 1000), "z")
        val sup = wedge.groupBy(col("n1"), col("n2"))
          .agg(count(lit(1)).as("cn"))
        val e = und
          .join(sup, und("p1") === sup("n1") && und("p2") === sup("n2"), "left")
          .join(deg.select(col("z").as("p1"), col("dg").as("deg1")), "p1")
          .join(deg.select(col("z").as("p2"), col("dg").as("deg2")), "p2")
          .select(col("p1"), col("p2"),
            coalesce(col("cn"), lit(0L)).as("cn"),
            col("deg1"), col("deg2"))
        val denom = col("deg1") + col("deg2") - 2 - col("cn")
        val scored = e.select(col("p1"), col("p2"),
          col("cn").cast("bigint").as("support"),
          when(denom === 0, 0L)
            .otherwise(expr("(1000000 * cn) DIV (deg1 + deg2 - 2 - cn)"))
            .cast("bigint").as("jaccard_e6"))
          .orderBy(col("support").desc, col("jaccard_e6").desc,
            col("p1").asc, col("p2").asc)
          .limit(20)
        val w = graft.ops.BoundedWindow
          .ordered(col("support").desc, col("jaccard_e6").desc,
            col("p1").asc, col("p2").asc)
        scored.withColumn("rnk", row_number().over(w).cast("bigint"))
      }),

    // ---- degree assortativity of the symmetrized part↔supplier
    // graph: the Pearson correlation between deg(src) and deg(dst)
    // over directed edges — the one-number structural summary that
    // tells a sampler whether hubs attach to hubs (r > 0) or to
    // leaves (r < 0). Scale shape: the degree table is |nodes| rows
    // joined onto the edge list twice by key (plain equi-joins — at
    // 1000 executors both sides hash-partition on the node id), then
    // ONE partial+final agg collects the five exact moment sums
    // (HUGEINT / DECIMAL(38,0) — the q_agg_regression machinery on a
    // graph-derived table). sqrt is IEEE-exact, so the final double
    // expression agrees bitwise across engines. ----
    QueryDef("q_graph_assortativity", Some(
      """WITH b AS (
        |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
        |  FROM lineitem),
        |e AS (SELECT p AS src, sp AS dst FROM b
        |      UNION ALL SELECT sp AS src, p AS dst FROM b),
        |deg AS (SELECT src AS node, count(*) AS deg FROM e GROUP BY src),
        |j AS (
        |  SELECT ds.deg AS dx, dd.deg AS dy
        |  FROM e JOIN deg ds ON ds.node = e.src
        |         JOIN deg dd ON dd.node = e.dst),
        |m AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
        |    sum(CAST(dx AS HUGEINT)*dx) AS sxx,
        |    sum(CAST(dy AS HUGEINT)*dy) AS syy,
        |    sum(CAST(dx AS HUGEINT)*dy) AS sxy
        |  FROM j)
        |SELECT n,
        |  CAST(n*sxy - sx*sy AS DOUBLE)
        |    / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |       * sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS assortativity
        |FROM m""".stripMargin))(
      (s, d) => {
        val e = supplyEdges(s, d)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("deg"))
        val j = e
          .join(deg.select(col("node").as("sn"), col("deg").as("dx")),
            col("src") === col("sn"))
          .join(deg.select(col("node").as("dn"), col("deg").as("dy")),
            col("dst") === col("dn"))
          .select(col("dx"), col("dy"))
        val m = j.agg(
          count(lit(1)).as("n"),
          sum(col("dx").cast("decimal(38,0)")).as("sx"),
          sum(col("dy").cast("decimal(38,0)")).as("sy"),
          sum(col("dx").cast("decimal(38,0)") * col("dx")).as("sxx"),
          sum(col("dy").cast("decimal(38,0)") * col("dy")).as("syy"),
          sum(col("dx").cast("decimal(38,0)") * col("dy")).as("sxy"))
        val nD = col("n").cast("decimal(38,0)")
        val num = (nD * col("sxy") - col("sx") * col("sy")).cast("double")
        val denx = (nD * col("sxx") - col("sx") * col("sx")).cast("double")
        val deny = (nD * col("syy") - col("sy") * col("sy")).cast("double")
        m.select(col("n"),
          (num / (sqrt(denx) * sqrt(deny))).as("assortativity"))
      }),

    // ---- semi-supervised label propagation (2 unrolled iterations)
    // over the symmetrized part↔supplier graph: anchor nodes
    // (node % 7 = 0) carry a fixed label (node % 5) and never change;
    // every other node takes the MAJORITY label among its labeled
    // neighbors each round, ties broken by the smallest label — the
    // fully deterministic variant (random or arrival-order tie-breaks
    // are irreproducible across partitionings). Per iteration: ONE
    // equi-join of the label vector against the edge list + a
    // (node, label) count + a per-node top-1 window — the same
    // join-agg round shape as PageRank, with per-iteration state
    // |nodes| rows. The result is the label histogram with node-range
    // witnesses, which pins every assignment without emitting the
    // whole vector. ----
    QueryDef("q_graph_label_prop", Some {
      s"""WITH $labelPropCtes
         |SELECT CAST(lab AS BIGINT) AS lab, count(*) AS n_nodes,
         |  CAST(min(node) AS BIGINT) AS min_node,
         |  CAST(max(node) AS BIGINT) AS max_node
         |FROM l2 GROUP BY lab""".stripMargin
    })(
      (s, d) => {
        val (_, _, labs) = labelPropFrames(s, d)
        labs.groupBy(col("lab").cast("bigint").as("lab"))
          .agg(count(lit(1)).as("n_nodes"),
            min(col("node")).cast("bigint").as("min_node"),
            max(col("node")).cast("bigint").as("max_node"))
      }),

    // ---- modularity evaluation of the label-propagation partition:
    // per community, Newman's Q term e_in/|E| − (vol/|E|)², where
    // e_in counts directed in-community edges, vol the community's
    // total degree, |E| the directed edge count — the standard "did
    // the communities beat a random graph with the same degrees"
    // audit a clustering run ships alongside its assignments. Shares
    // labelPropCtes/labelPropFrames with q_graph_label_prop (one CTE
    // text, no drift). Scale: e_in is two node-keyed equi-joins of
    // the edge list against the (|nodes|-row) label vector; vol is a
    // degree aggregate joined the same way; |E| is a 1-row scalar
    // broadcast. Integer numerators keep the doubles a last-step
    // division — bit-identical across engines. ----
    QueryDef("q_graph_modularity", Some {
      s"""WITH $labelPropCtes,
         |deg AS (SELECT src AS node, count(*) AS dg FROM e GROUP BY src),
         |tot AS (SELECT count(*) AS m2 FROM e),
         |lab_e AS (
         |  SELECT ls.lab, count(*) AS e_in
         |  FROM e JOIN l2 ls ON e.src = ls.node
         |         JOIN l2 ld ON e.dst = ld.node
         |  WHERE ls.lab IS NOT NULL AND ls.lab = ld.lab
         |  GROUP BY ls.lab),
         |lab_v AS (
         |  SELECT l.lab, count(*) AS n_nodes, sum(d.dg) AS vol
         |  FROM l2 l JOIN deg d ON l.node = d.node
         |  WHERE l.lab IS NOT NULL
         |  GROUP BY l.lab)
         |SELECT CAST(v.lab AS BIGINT) AS lab, v.n_nodes,
         |  CAST(coalesce(le.e_in, 0) AS BIGINT) AS e_in,
         |  CAST(v.vol AS BIGINT) AS vol,
         |  CAST(coalesce(le.e_in, 0) AS DOUBLE) / t.m2
         |    - (CAST(v.vol AS DOUBLE) / t.m2)
         |      * (CAST(v.vol AS DOUBLE) / t.m2) AS q_term
         |FROM lab_v v LEFT JOIN lab_e le ON le.lab = v.lab
         |CROSS JOIN tot t""".stripMargin
    })(
      (s, d) => {
        val (_, e, labsRaw) = labelPropFrames(s, d)
        // labels feed THREE joins below — materialize once
        val labs = labsRaw.where(col("lab").isNotNull).localCheckpoint(true)
        val deg = e.groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("dg"))
        val tot = e.agg(count(lit(1)).as("m2"))
        val labE = e
          .join(labs.select(col("node").as("src"), col("lab")), "src")
          .join(labs.select(col("node").as("dst"), col("lab").as("dlab")),
            "dst")
          .where(col("lab") === col("dlab"))
          .groupBy(col("lab")).agg(count(lit(1)).as("e_in"))
        val labV = labs.join(deg, "node")
          .groupBy(col("lab"))
          .agg(count(lit(1)).as("n_nodes"), sum(col("dg")).as("vol"))
        val eIn = coalesce(col("e_in"), lit(0L))
        labV.join(labE, Seq("lab"), "left")
          .crossJoin(broadcast(tot))
          .select(col("lab").cast("bigint").as("lab"), col("n_nodes"),
            eIn.cast("bigint").as("e_in"),
            col("vol").cast("bigint").as("vol"),
            (eIn.cast("double") / col("m2")
              - (col("vol").cast("double") / col("m2"))
                * (col("vol").cast("double") / col("m2"))).as("q_term"))
      }),

    // ---- k-core decomposition (k = 10) by iterative peeling: drop
    // every node whose degree in the SURVIVING subgraph is below k,
    // recompute, repeat — the standard community-pruning primitive.
    // Four peeling rounds are unrolled IDENTICALLY in both dialects:
    // peeling is idempotent at its fixpoint, so extra rounds are
    // no-ops and cross-engine parity holds round-for-round; this
    // fixture's graph converges by round 3 at every scale (measured).
    // ITERATIVE-PLAN LESSON (cost of learning it: a first cut with 10
    // un-materialized rounds never finished ANALYSIS): each round
    // references the previous node set TWICE, so inlined lineage
    // doubles per round — 2^rounds plan copies. The oracle pins the
    // CTEs MATERIALIZED and the Spark side cuts lineage per round
    // with an eager localCheckpoint — the same reason
    // ops.ConnectedComponents checkpoints its loop (use that
    // checkpointed-loop shape with a convergence count at production
    // scale instead of a fixed unroll). Each round is edge ⋈
    // survivors ⋈ survivors + a degree aggregate — the PageRank round
    // shape with a shrinking node set. ----
    QueryDef("q_graph_kcore", Some {
      val K = 10
      def round(prev: String, i: Int) =
        s"""d_$i AS MATERIALIZED (
           |  SELECT e.src AS node, count(*) AS dg
           |  FROM e JOIN $prev a ON e.src = a.node
           |         JOIN $prev b ON e.dst = b.node
           |  GROUP BY e.src),
           |n_$i AS MATERIALIZED (SELECT node FROM d_$i WHERE dg >= $K)"""
          .stripMargin
      val rounds = (1 to 4).map(i =>
        round(if (i == 1) "n_0" else s"n_${i - 1}", i)).mkString(",\n")
      s"""WITH bi AS (
         |  SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS sp
         |  FROM lineitem),
         |e AS MATERIALIZED (
         |  SELECT p AS src, sp AS dst FROM bi
         |  UNION ALL SELECT sp AS src, p AS dst FROM bi),
         |n_0 AS (SELECT DISTINCT src AS node FROM e),
         |$rounds
         |SELECT n_4.node, CAST(d_4.dg AS BIGINT) AS core_deg
         |FROM n_4 JOIN d_4 ON d_4.node = n_4.node""".stripMargin
    })(
      (s, d) => {
        val (nodes, deg) = kcorePeel(s, d, k = 10, rounds = 4)
        nodes.join(deg, "node")
          .select(col("node"), col("dg").cast("bigint").as("core_deg"))
      }),

    // ---- BFS / unweighted single-source shortest paths on the
    // co-purchase graph (source = min part id, deterministic): three
    // frontier-expansion rounds unrolled identically in both dialects
    // — each round is `reached ∪ (edges ⋈ reached)` followed by a
    // min-distance aggregate, the canonical distributed BFS shape
    // (Pregel's hop iteration as join+agg). Output is every node
    // within 3 hops with its exact distance; reachability is monotone
    // so parity holds round-for-round even pre-convergence. Scale:
    // per-round cost is one equi-join on the frontier + one hash-agg
    // — at diameter D run the ops.ConnectedComponents checkpointed
    // loop shape (lineage cut per round, convergence test on the
    // reached-count), exactly as the kcore note prescribes; no round
    // ever materializes more than (reached ∪ frontier-expansion)
    // rows. ----
    QueryDef("q_graph_bfs", Some {
      def round(prev: String, i: Int) =
        s"""d_$i AS MATERIALIZED (
           |  SELECT node, min(dist) AS dist FROM (
           |    SELECT node, dist FROM $prev
           |    UNION ALL
           |    SELECT e.dst AS node, p.dist + 1 AS dist
           |    FROM e JOIN $prev p ON e.src = p.node)
           |  GROUP BY node)""".stripMargin
      val rounds = (1 to 3).map(i =>
        round(if (i == 1) "d_0" else s"d_${i - 1}", i)).mkString(",\n")
      s"""WITH $coPurchaseUndCte,
         |e AS MATERIALIZED (
         |  SELECT p1 AS src, p2 AS dst FROM und
         |  UNION ALL SELECT p2 AS src, p1 AS dst FROM und),
         |d_0 AS (SELECT min(p1) AS node, 0 AS dist FROM und),
         |$rounds
         |SELECT node, CAST(dist AS BIGINT) AS dist FROM d_3""".stripMargin
    })(
      (s, d) => {
        val und = coPurchaseUnd(s, d)
        val e = und.select(col("p1").as("src"), col("p2").as("dst"))
          .unionAll(und.select(col("p2").as("src"), col("p1").as("dst")))
          .localCheckpoint(true) // both the source agg and 3 rounds read it
        // min(src) over e == min(p1) over und (p1 < p2 on every edge),
        // and e is already materialized — und is not re-derived
        var reached = e.agg(min(col("src")).as("node"))
          .select(col("node"), lit(0L).as("dist"))
          .localCheckpoint(true)
        loopSized(s, e.count()) { for (_ <- 1 to 3) {
          reached = reached
            .unionAll(e
              .join(reached.select(col("node").as("src"), col("dist")), "src")
              .select(col("dst").as("node"), (col("dist") + 1).as("dist")))
            .groupBy(col("node")).agg(min(col("dist")).as("dist"))
            .localCheckpoint(true) // cut the doubling lineage per round
        } }
        reached.select(col("node"), col("dist").cast("bigint").as("dist"))
      })
  )

  /** The k-core peel loop, exposed so KcoreConvergenceSpec can assert
    * the fixed 4-round unroll has actually converged on the fixture
    * (the oracle unrolls identically, so the differential gate alone
    * cannot detect a non-converged unroll — both engines would agree
    * on the same wrong answer). Returns the surviving node set and
    * the last round's in-subgraph degree table. */
  private[graft] def kcorePeel(s: SparkSession, d: String, k: Int,
      rounds: Int): (DataFrame, DataFrame) = {
    // loop-invariant shared edge frame (src-partitioned, memoized)
    val e = supplyEdges(s, d)
    loopSized(s, e.count()) {
    var nodes = e.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var deg = nodes // rebound each round
    for (_ <- 1 to rounds) {
      deg = e
        .join(nodes.select(col("node").as("an")), col("src") === col("an"))
        .join(nodes.select(col("node").as("bn")), col("dst") === col("bn"))
        .groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("dg"))
        .localCheckpoint(true) // cut the doubling lineage per round
      nodes = deg.where(col("dg") >= k).select(col("node"))
    }
    (nodes, deg)
    }
  }
}
