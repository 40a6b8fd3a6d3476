package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.GraftFunctions
import graft.ops.ExactTopK
import graft.ops.TextOps._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor search over the `embeddings` fixture
  * (north-star extension). Three tiers:
  *  - brute-force cosine top-k: the exact baseline. O(Q·N) with a fixed
  *    query set — at cluster scale this is a broadcast of Q against a
  *    partitioned scan of N, no shuffle of the big side.
  *  - IVF by coarse cell (the fixture's `label` is the cell
  *    assignment): candidates restricted to the query's cell — the
  *    partition-pruned scale path (cells ≈ IVF centroids).
  *  - LSH with random-hyperplane signatures, banded like minhash:
  *    candidate buckets by sign-bit band, exact cosine verify.
  *
  * All cosine math is double-precision sequential folds (TextOps) so
  * the DuckDB oracles are bit-identical. Hyperplane components are
  * md5-derived constants computed in Scala and embedded as literals in
  * BOTH the Spark plan and the oracle SQL.
  */
object SimilarityQueries {

  /** Deterministic md5-based h32 computed driver-side (same value as
    * TextOps.h32 / h32Sql for the same string). */
  private def h32Scala(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).take(4).map(b => f"${b & 0xff}%02x").mkString, 16)
  }

  private val dim = 64
  private val numPlanes = 8 // 2 bands × 4 planes
  private val planeBandRows = 4
  private val planeBands = numPlanes / planeBandRows

  /** plane p, component i in [-1, 1): md5-derived, engine-independent. */
  private val planes: Seq[Seq[Double]] =
    (0 until numPlanes).map { p =>
      (0 until dim).map(i => h32Scala(s"plane_${p}_$i") / 2147483648.0 - 1.0)
    }

  private def planeLit(p: Int) = array(planes(p).map(lit): _*)
  private def planeSql(p: Int) =
    planes(p).map(_.toString).mkString("CAST([", ", ", "] AS DOUBLE[])")

  /** Query set: every 100th vector — fixed fraction, scales with SF. */
  private[queries] val querySetPred = "vec_id % 100 = 0"

  /** Persisted: every ANN query reads this 2-3× (query + candidate
    * sides, LSH bands). */
  private[queries] def vecs(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", GraftFunctions.norm(col("v")))
      .persist()

  /** Every query-set vector of `n` (vec_id, v, nrm) against every other
    * vector: (query_id, qv, qn, neighbor_id, cv, cn, cos_sim). */
  private[queries] def bruteScored(n: DataFrame): DataFrame = {
    val q = n.where(expr(querySetPred))
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = n.select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
      col("nrm").as("cn"))
    ExactTopK.scored(q, c, col("neighbor_id") =!= col("query_id"))
  }

  /** Exact cosine top-k of every query-set vector of `n`:
    * (query_id, neighbor_id, cos_sim, rnk). */
  private[queries] def bruteTopK(n: DataFrame, k: Int): DataFrame =
    ExactTopK.topK(bruteScored(n), Seq("query_id"), "cos_sim", "neighbor_id", k)

  /** Shared centroid CTEs (SQL): vectors + bit-exact per-cell mean
    * vectors via integer-scaled component sums — order-independent, so
    * the oracle needs no sorted fold. Produces `n(vec_id, label, v)`
    * and `cent(code, centroid)`. */
  private[queries] val centCtesSql: String =
    s"""n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |g AS (
       |  SELECT label, d.d AS dim,
       |    CAST(sum(CAST(floor(v[d.d + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS ssum,
       |    count(*) AS cnt
       |  FROM n, range(0, $dim) d(d) GROUP BY label, d.d),
       |cent AS (
       |  SELECT label AS code,
       |    list(CAST(ssum AS DOUBLE) / 1000000000.0 / cnt ORDER BY dim) AS centroid
       |  FROM g GROUP BY label)""".stripMargin

  /** Shared PQ base (SQL): the centroid CTEs + 8 subspace bounds,
    * per-(vector,subspace,codeword) sub-distances, and the argmin code
    * assignment. */
  private[queries] val pqBaseSql: String = {
    val sub = (0 until 8).map { sIdx =>
      s"(SELECT $sIdx AS subspace, ${sIdx * 8 + 1} AS lo, ${sIdx * 8 + 8} AS hi)"
    }.mkString("\nUNION ALL\n")
    s"""$centCtesSql,
       |subs AS ($sub),
       |dists AS (
       |  SELECT n.vec_id, subs.subspace, cent.code,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(list_zip(n.v[subs.lo:subs.hi], cent.centroid[subs.lo:subs.hi]),
       |        z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y) AS dist
       |  FROM n, subs, cent),
       |codes AS (
       |  SELECT vec_id, subspace, code, dist FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, subspace
       |      ORDER BY dist, code) AS rn FROM dists) WHERE rn = 1)""".stripMargin
  }

  /** Constant-state centroid training (Spark): integer-scale each
    * component, sum with LongVecSumAgg (dim*8-byte buffer, map-side
    * partials, order-independent → bit-exact), divide back once. The
    * buffer never grows with cell cardinality — a cell of millions of
    * vectors aggregates in the same 512 bytes as a cell of 25.
    * Input must carry (`groupCol`, `v`); output is (code, centroid). */
  private[queries] def centroidsOf(df: DataFrame, groupCol: String): DataFrame =
    df.groupBy(col(groupCol))
      .agg(GraftFunctions.longVecSum(
          transform(col("v"), x => floor(x * lit(1e9))), dim).as("sums"),
        count(lit(1)).as("cnt"))
      .select(col(groupCol).as("code"),
        transform(col("sums"),
          x => x.cast("double") / lit(1e9) / col("cnt")).as("centroid"))

  /** Shared incremental-IVF delta CTEs (SQL): base/delta split (every
    * 10th vector plays the increment), base-trained centroids, and the
    * delta's nearest-centroid routing — factored so
    * q_ann_ivf_incremental and q_ann_ivf_retrain_signal share ONE
    * text and cannot drift. Produces `nb`, `nd`, `cent`, `route`. */
  private[queries] lazy val ivfDeltaCte: String =
    s"""nb AS (
       |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 10 <> 7),
       |nd AS (
       |  SELECT vec_id, label AS old_label, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings WHERE vec_id % 10 = 7),
       |g AS (
       |  SELECT label, d.d AS dim,
       |    CAST(sum(CAST(floor(v[d.d + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS ssum,
       |    count(*) AS cnt
       |  FROM nb, range(0, $dim) d(d) GROUP BY label, d.d),
       |cent AS (
       |  SELECT label AS code,
       |    list(CAST(ssum AS DOUBLE) / 1000000000.0 / cnt ORDER BY dim) AS centroid
       |  FROM g GROUP BY label),
       |dist AS (
       |  SELECT nd.vec_id, nd.old_label, cent.code,
       |    ${dotDSql("nd.v", "nd.v")} - 2.0 * ${dotDSql("nd.v", "cent.centroid")}
       |      + ${dotDSql("cent.centroid", "cent.centroid")} AS d2
       |  FROM nd, cent),
       |route AS (
       |  SELECT vec_id, old_label, code, d2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d2, code) AS rn FROM dist) WHERE rn = 1)""".stripMargin

  /** Spark twin of [[ivfDeltaCte]]: (all, nb, cent, route) — `all` is
    * the persisted table scan the caller should rely on for reuse. */
  private[queries] def ivfDeltaFrames(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val all = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
      // persisted: nb feeds centroid training AND per-cell aggregates,
      // nd the routing — three scans of the table otherwise
      .persist()
    val nb = all.where(pmod(col("vec_id"), lit(10L)) =!= 7)
    val nd = all.where(pmod(col("vec_id"), lit(10L)) === 7)
      .select(col("vec_id"), col("label").as("old_label"), col("v"))
    val cent = centroidsOf(nb.select(col("label"), col("v")), "label")
    val routeW = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("code").asc)
    val route = nd.crossJoin(broadcast(cent))
      .withColumn("d2", GraftFunctions.dot(col("v"), col("v"))
        - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
        + GraftFunctions.dot(col("centroid"), col("centroid")))
      .withColumn("rn", row_number().over(routeW))
      .where(col("rn") === 1)
    (all, nb, cent, route)
  }

  /** Shared IVF-PQ ADC pipeline (SQL): nprobe=2 coarse routing + ADC
    * over probed cells, on top of [[pqBaseSql]]'s CTEs. Produces
    * `adc(query_id, candidate_id, adc_scaled)`. */
  private[queries] val ivfpqAdcSql: String =
    s"""qroute AS (
       |  SELECT vec_id AS query_id, code AS cell, rn AS probe_rank FROM (
       |    SELECT vec_id, code, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY d_cell, code) AS rn
       |    FROM (SELECT vec_id, code,
       |            CAST(sum(CAST(floor(dist * 1000000000) AS BIGINT)) AS BIGINT) AS d_cell
       |          FROM dists WHERE $querySetPred GROUP BY vec_id, code))
       |  WHERE rn <= 2),
       |dtable AS (
       |  SELECT vec_id AS query_id, subspace, code,
       |    CAST(floor(dist * 1000000000) AS BIGINT) AS d_scaled
       |  FROM dists WHERE $querySetPred),
       |adc AS (
       |  SELECT q.query_id, n.vec_id AS candidate_id,
       |    CAST(sum(d.d_scaled) AS BIGINT) AS adc_scaled
       |  FROM qroute q
       |  JOIN n ON n.label = q.cell AND n.vec_id <> q.query_id
       |  JOIN codes k ON k.vec_id = n.vec_id
       |  JOIN dtable d ON d.query_id = q.query_id
       |    AND d.subspace = k.subspace AND d.code = k.code
       |  GROUP BY q.query_id, n.vec_id)""".stripMargin

  /** Shared IVF-PQ ADC pipeline (Spark): the twin of [[ivfpqAdcSql]].
    * Routing + distance tables are query-set-sized: broadcast both;
    * the corpus-sized sides only ever hash-join locally. */
  private[queries] def ivfpqAdc(s: SparkSession, d: String): DataFrame = {
    val (dists, codes) = pqBase(s, d)
    val scaled = floor(col("dist") * 1000000000L).cast("bigint")
    val routeW = Window.partitionBy(col("vec_id"))
      .orderBy(col("d_cell").asc, col("code").asc)
    val qroute = dists.where(expr(querySetPred))
      .groupBy(col("vec_id"), col("code"))
      .agg(org.apache.spark.sql.functions.sum(scaled).as("d_cell"))
      .withColumn("rn", row_number().over(routeW))
      .where(col("rn") <= 2)
      .select(col("vec_id").as("query_id"), col("code").as("cell"))
    val dtable = dists.where(expr(querySetPred))
      .select(col("vec_id").as("query_id"), col("subspace"), col("code"),
        scaled.as("d_scaled"))
    val cands = Tables(s, d, "embeddings")
      .select(col("vec_id").as("candidate_id"), col("label"))
    cands
      .join(broadcast(qroute), col("label") === col("cell") &&
        col("candidate_id") =!= col("query_id"))
      .join(codes.withColumnRenamed("vec_id", "candidate_id")
        .select(col("candidate_id"), col("subspace"), col("code")),
        Seq("candidate_id"))
      .join(broadcast(dtable), Seq("query_id", "subspace", "code"))
      .groupBy(col("query_id"), col("candidate_id"))
      .agg(org.apache.spark.sql.functions.sum(col("d_scaled")).as("adc_scaled"))
  }

  /** Shared PQ base (Spark): returns (dists, codes) DataFrames with
    * the same columns/semantics as the SQL CTEs above. */
  private[queries] def pqBase(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val n = Tables(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val cent = centroidsOf(n, "label")
    val subs = n.select(col("vec_id"), col("v"),
      explode(array((0 until 8).map(lit): _*)).as("subspace"))
    // codegen'd subspace fold (same sequential order as the interpreted
    // zip_with/aggregate chain it replaces — bit-identical, ~10× faster
    // over the |vectors| × |subspaces| × |codes| row explosion)
    val distCol = GraftFunctions.l2sub(
      col("v"), col("centroid"), (col("subspace") * 8).cast("int"), 8)
    // SCALE NOTE: this persist holds |vectors| × 8 subspaces × |codes|
    // sub-distance rows (MEMORY_AND_DISK — spills, never OOMs). Fine
    // at fixture scale where several queries share it; at corpus scale
    // the right shape is to persist only `codes` (|vectors| × 8 rows,
    // the PQ index itself) and re-derive the query-side distance table
    // per search — it is query×codes sized and broadcastable — or
    // stage `codes` columnar next to the embeddings.
    val dists = subs.join(broadcast(cent)).withColumn("dist", distCol)
      .select(col("vec_id"), col("subspace"), col("code"), col("dist"))
      .persist()
    val w = Window.partitionBy(col("vec_id"), col("subspace"))
      .orderBy(col("dist").asc, col("code").asc)
    val codes = dists.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("vec_id"), col("subspace"), col("code"), col("dist"))
    (dists, codes)
  }

  /** ADC top-k over the PQ codes: per query-set vector, the k
    * candidates with the smallest integer-scaled ADC distance, as
    * (query_id, candidate_id, adc_scaled, rnk). The rank window runs
    * over an equi-join of the codes with the broadcast distance
    * tables, not over a query × corpus cross. */
  private[queries] def pqAdcTop(s: SparkSession, d: String, k: Int): DataFrame = {
    val (dists, codes) = pqBase(s, d)
    val dtable = dists.where(expr(querySetPred))
      .select(col("vec_id").as("query_id"), col("subspace"), col("code"),
        floor(col("dist") * 1000000000L).cast("bigint").as("d_scaled"))
    val adc = codes.select(col("vec_id").as("candidate_id"),
        col("subspace"), col("code"))
      .join(broadcast(dtable), Seq("subspace", "code"))
      .where(col("candidate_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("candidate_id"))
      .agg(org.apache.spark.sql.functions.sum(col("d_scaled")).as("adc_scaled"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_scaled").asc, col("candidate_id").asc)
    adc.withColumn("rnk", row_number().over(w).cast("bigint"))
      .where(col("rnk") <= k)
      .select(col("query_id"), col("candidate_id"), col("adc_scaled"), col("rnk"))
  }

  /** Cell-routed exact top-3 (cells = labels) — shared by the inline
    * IVF entry and the keyed-table-served index entry, so the two can
    * never drift. */
  private[queries] lazy val ivfLabelOracleSql: String =
    s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
       |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
       |scored AS (
       |  SELECT q.vec_id AS query_id, q.label AS cell, c.vec_id AS neighbor_id,
       |    ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos_sim
       |  FROM (SELECT * FROM n WHERE $querySetPred) q
       |  JOIN n c ON c.label = q.label AND c.vec_id <> q.vec_id
       |)
       |SELECT query_id, cell, neighbor_id, cos_sim, rnk FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored
       |) WHERE rnk <= 3""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    // ---- IVF centroid training: per-cell mean vector via
    // constant-state integer-scaled sums (LongVecSumAgg). Components
    // are scaled floor(v*1e9) → summed as longs (order-independent,
    // exact — no sorted fold needed) → divided back once. The
    // aggregation buffer is dim longs regardless of cell size, and
    // Spark pre-reduces map-side, so this survives cells of millions
    // of vectors where a collect_list fold would OOM an executor. ----
    QueryDef("q_vector_centroids", Some(
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |g AS (
         |  SELECT label, d.d AS dim,
         |    CAST(sum(CAST(floor(v[d.d + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS ssum,
         |    count(*) AS n
         |  FROM n, range(0, $dim) d(d) GROUP BY label, d.d)
         |SELECT label, n, CAST(dim AS INT) AS dim,
         |  CAST(ssum AS DOUBLE) / 1000000000.0 / n AS val
         |FROM g""".stripMargin))(
      (s, d) => {
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        // one row per (label, dim): the driver compare can't sort rows
        // holding array cells, so the centroid is exploded to scalars.
        n.groupBy(col("label"))
          .agg(GraftFunctions.longVecSum(
              transform(col("v"), x => floor(x * lit(1e9))), dim).as("sums"),
            count(lit(1)).as("n"))
          .select(col("label"), col("n"),
            posexplode(transform(col("sums"),
              x => x.cast("double") / lit(1e9) / col("n"))).as(Seq("dim", "val")))
          .select(col("label"), col("n"), col("dim"), col("val"))
      }),

    // ---- product quantization: train per-subspace codebooks from the
    // (bit-exact) cell centroids, then encode every vector as 8
    // nearest-codeword ids — the memory-compressed ANN representation
    // (64 dims × 4B → 8 codes). Every step is deterministic: centroids
    // come from the sorted fold, sub-distances are sequential
    // squared-difference folds, and argmin tiebreaks on code id — so
    // the full encoding is DuckDB-oracled. One row per (vector,
    // subspace) keeps all FP sums within a single fold. ----
    QueryDef("q_ann_pq_encode", Some(
      s"""WITH $pqBaseSql
         |SELECT vec_id, subspace, code, dist AS sub_qerr FROM codes""".stripMargin))(
      (s, d) => {
        val (_, codes) = pqBase(s, d)
        codes.select(col("vec_id"), col("subspace"), col("code"),
          col("dist").as("sub_qerr"))
      }),

    // ---- ADC search over the PQ codes: for each query vector, rank
    // candidates by the sum of per-subspace distance-table entries
    // (query-subvector vs the candidate's codeword). The per-subspace
    // distances are integer-scaled (floor(d*1e9)) BEFORE the 8-term
    // sum, making the total order-independent and exact — so the
    // approximate ranking itself is DuckDB-oracled. ----
    QueryDef("q_ann_pq_search", Some(
      s"""WITH $pqBaseSql,
         |dtable AS (
         |  SELECT vec_id AS query_id, subspace, code,
         |    CAST(floor(dist * 1000000000) AS BIGINT) AS d_scaled
         |  FROM dists WHERE vec_id % 100 = 0),
         |adc AS (
         |  SELECT dtable.query_id, codes.vec_id AS candidate_id,
         |    CAST(sum(dtable.d_scaled) AS BIGINT) AS adc_scaled
         |  FROM codes JOIN dtable
         |    ON codes.subspace = dtable.subspace AND codes.code = dtable.code
         |  WHERE codes.vec_id <> dtable.query_id
         |  GROUP BY dtable.query_id, codes.vec_id)
         |SELECT query_id, candidate_id, adc_scaled, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_scaled, candidate_id) AS rnk FROM adc) WHERE rnk <= 5""".stripMargin))(
      (s, d) => pqAdcTop(s, d, 5)),

    // ---- exact brute-force cosine top-k ----
    QueryDef("q_ann_brute_topk", Some(
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos_sim
         |  FROM (SELECT * FROM n WHERE $querySetPred) q
         |  JOIN n c ON c.vec_id <> q.vec_id
         |)
         |SELECT query_id, neighbor_id, cos_sim, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored
         |) WHERE rnk <= 5""".stripMargin), headline = true)(
      (s, d) => bruteTopK(vecs(s, d), 5)),

    // ---- IVF: search only the query's coarse cell (label) ----
    QueryDef("q_ann_ivf_label", Some(ivfLabelOracleSql))(
      (s, d) => {
        val n = vecs(s, d)
        val q = n.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("label").as("cell"),
            col("v").as("qv"), col("nrm").as("qn"))
        val c = n.select(col("vec_id").as("neighbor_id"), col("label"),
          col("v").as("cv"), col("nrm").as("cn"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
        q.join(c, col("label") === col("cell") &&
            col("neighbor_id") =!= col("query_id"))
          .withColumn("cos_sim", GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .select(col("query_id"), col("cell"), col("neighbor_id"), col("cos_sim"))
          .withColumn("rnk", row_number().over(w).cast("bigint"))
          .where(col("rnk") <= 3)
      }),

    // ---- the IVF index PERSISTED as keyed-table artifacts (verdict
    // r17 #5): postings keyed on the CELL (partition key = cell,
    // clustering = vec_id, dim — one coordinate per row, the format's
    // scalar layout), centroids keyed on cell too. The index is BUILT
    // from the base vectors and MAINTAINED by a native upsert of the
    // delta wave; the SERVE path is two exchange-free aggregates over
    // the clustered catalog read (LWW resolution, then per-vector
    // reconstruction in dim order — both group sets contain the
    // partition key, so the write's bucket clustering carries them),
    // a broadcast of the query set, and the same top-3 window as the
    // inline entry. Gated on the SAME oracle as q_ann_ivf_label over
    // ALL vectors — the answer is only right if the delta upsert
    // landed, so incremental maintenance is part of the oracled
    // contract, not a side assert. In-entry lints: the reconstruction
    // plans ZERO Exchange, and a single-cell posting lookup plans a
    // fraction of the committed files (bucket pruning on the cell
    // key — the "read one cell's postings" serving pattern). ----
    QueryDef("q_ann_ivf_serve_ktable", effectful = true,
      oracle = Some(ivfLabelOracleSql))(
      (s, d) => graft.ops.FrameCache.memo(s, s"ann:ivf_serve_ktable:$d") {
        import graft.sources.KeyedTableOps
        val tmp = java.nio.file.Files
          .createTempDirectory("graft_kivf_").toString
        val postings = s"$tmp/postings"
        val cents = s"$tmp/centroids"
        val n = vecs(s, d)
        val posed = n.select(col("label").as("cell"), col("vec_id"),
          posexplode(col("v")).as(Seq("dim", "coord")))
        val sinkP = graft.pipeline.V2KeyedTableSink("cell",
          writeParallelism = 8)
        sinkP.append(posed.where(col("vec_id") % 10 =!= 7), postings)
        KeyedTableOps.declareClustering(postings, Seq("vec_id", "dim"))
        // the routing half: per-cell centroids as (cell, dim) -> c
        val cdf = SimilarityQueries
          .centroidsOf(n.select(col("label"), col("v")), "label")
          .select(col("code").as("cell"),
            posexplode(col("centroid")).as(Seq("dim", "c")))
        graft.pipeline.V2KeyedTableSink("cell", writeParallelism = 4)
          .append(cdf, cents)
        KeyedTableOps.declareClustering(cents, Seq("dim"))
        val out = graft.sources.KeyedTableRegistry.withKeyedCatalog(s) {
          // incremental maintenance: the delta wave is a native upsert
          sinkP.append(posed.where(col("vec_id") % 10 === 7), postings)
          // persisted centroids reconstruct bit-exactly
          val centBack = KeyedTableOps.latest(s, cents)
            .groupBy(col("cell"))
            .agg(transform(array_sort(collect_list(
              struct(col("dim"), col("c")))), x => x.getField("c"))
              .as("centroid"))
            .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
          val centWant = SimilarityQueries
            .centroidsOf(n.select(col("label"), col("v")), "label")
            .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
          assert(centBack == centWant,
            "persisted centroids must reconstruct the trained ones exactly")
          // serve: resolve + reconstruct, exchange-free by clustering
          val resolved = KeyedTableOps.latest(s, postings)
          val cand = resolved.groupBy(col("cell"), col("vec_id"))
            .agg(transform(array_sort(collect_list(
              struct(col("dim"), col("coord")))), x => x.getField("coord"))
              .as("cv"))
            .select(col("cell"), col("vec_id").as("neighbor_id"),
              col("cv"))
            .withColumn("cn", graft.functions.GraftFunctions.norm(col("cv")))
          assert(graft.ops.PlanChecks.countShuffles(
            cand.queryExecution.executedPlan) == 0,
            "posting reconstruction must ride the write's bucket clustering")
          // cell-routed lookup prunes files on the partition key
          val someCell = posed.select(col("cell")).head.get(0)
          val probe = s.read.table(s"graft_keyed.`$postings`")
            .where(col("cell") === someCell)
          val plannedFiles = probe.queryExecution.executedPlan.collect {
            case b: org.apache.spark.sql.execution.datasources.v2
              .BatchScanExec => b.inputRDD.getNumPartitions
          }.sum
          val committed =
            graft.sources.KeyedTable.committedFiles(postings).size
          assert(plannedFiles * 2 <= committed,
            s"a one-cell posting lookup must prune: planned $plannedFiles " +
              s"of $committed files")
          val q = n.where(expr(querySetPred))
            .select(col("vec_id").as("query_id"), col("label").as("cell"),
              col("v").as("qv"), col("nrm").as("qn"))
          val w = Window.partitionBy(col("query_id"))
            .orderBy(col("cos_sim").desc, col("neighbor_id").asc)
          cand.join(broadcast(q), Seq("cell"))
            .where(col("neighbor_id") =!= col("query_id"))
            .withColumn("cos_sim",
              graft.functions.GraftFunctions.dot(col("qv"), col("cv")) /
                (col("qn") * col("cn")))
            .select(col("query_id"), col("cell"), col("neighbor_id"),
              col("cos_sim"))
            .withColumn("rnk", row_number().over(w).cast("bigint"))
            .where(col("rnk") <= 3)
            .localCheckpoint(true)
        }
        graft.queries.StreamingQueries.deleteRecursively(tmp)
        out
      }),

    // ---- incremental IVF maintenance (the daily-ingest shape): a
    // delta batch (vec_id % 10 = 7) arrives AFTER the index was
    // built, so centroids are trained on the BASE ONLY (the exact
    // integer-scaled means of [[centroidsOf]]) and each delta vector
    // routes to its nearest base centroid by exact L2 argmin
    // (v·v − 2·v·c + c·c, (d2, code) tie-break). The report is what
    // an index maintainer watches: per-cell base/added/total counts,
    // how many delta vectors landed in their original cell
    // (n_stable — routing drift means the centroids need retraining),
    // and the summed 1e9-scaled assignment distances (order-
    // independent exact integers). Scale shape: the delta streams
    // through a BROADCAST of the k centroids (bounded build side —
    // one global-ish aggregate), the base contributes only its
    // per-cell count aggregate, and NOTHING re-scans base vectors
    // per delta row. ----
    QueryDef("q_ann_ivf_incremental", Some(
      s"""WITH $ivfDeltaCte,
         |b AS (SELECT label AS cell, count(*) AS n_base FROM nb GROUP BY label),
         |a AS (
         |  SELECT code AS cell, count(*) AS n_added,
         |    CAST(sum(CASE WHEN old_label = code THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_stable,
         |    CAST(sum(CAST(floor(d2 * 1000000000.0) AS BIGINT)) AS BIGINT)
         |      AS sum_d2_scaled
         |  FROM route GROUP BY code)
         |SELECT b.cell, CAST(b.n_base AS BIGINT) AS n_base,
         |  coalesce(a.n_added, 0) AS n_added,
         |  coalesce(a.n_stable, 0) AS n_stable,
         |  coalesce(a.sum_d2_scaled, 0) AS sum_d2_scaled,
         |  CAST(b.n_base + coalesce(a.n_added, 0) AS BIGINT) AS n_total
         |FROM b LEFT JOIN a ON a.cell = b.cell""".stripMargin))(
      (s, d) => {
        val (_, nb, _, route) = ivfDeltaFrames(s, d)
        val b = nb.groupBy(col("label").as("cell"))
          .agg(count(lit(1)).as("n_base"))
        val a = route.groupBy(col("code"))
          .agg(count(lit(1)).as("n_added"),
            sum(when(col("old_label") === col("code"), 1L).otherwise(0L))
              .as("n_stable"),
            sum(floor(col("d2") * lit(1e9)).cast("bigint"))
              .as("sum_d2_scaled"))
          .withColumnRenamed("code", "cell")
        b.join(a, Seq("cell"), "left_outer")
          .select(col("cell"), col("n_base"),
            coalesce(col("n_added"), lit(0L)).as("n_added"),
            coalesce(col("n_stable"), lit(0L)).as("n_stable"),
            coalesce(col("sum_d2_scaled"), lit(0L)).as("sum_d2_scaled"),
            (col("n_base") + coalesce(col("n_added"), lit(0L))).as("n_total"))
      }),

    // ---- IVF RE-TRAIN trigger: the drift report that decides when
    // incremental maintenance (q_ann_ivf_incremental) stops being
    // enough and the coarse quantizer must be re-trained. Per cell:
    // the added/base growth ratio and the delta epoch's mean
    // assignment distance vs the BASE epoch's (base vectors scored
    // against their own trained centroid — the epoch the index was
    // built from). Both trigger flags are exact integer compares on
    // the 1e9-scaled distance sums (HUGEINT/DECIMAL(38,0) cross
    // products — no FP boundary risk): growth fires at added/base >
    // 20% (5·added > base), inflation at mean-delta/mean-base > 1.2
    // (5·Σd_delta·n_base > 6·Σd_base·n_added). Scale: everything
    // after the shared routing is two |cells|-row aggregates joined
    // on cell; the base-epoch distances ride the SAME broadcast
    // k-row centroid table as the routing — the corpus never
    // shuffles for a join here either. ----
    QueryDef("q_ann_ivf_retrain_signal", Some(
      s"""WITH $ivfDeltaCte,
         |bd AS (
         |  SELECT nb.label AS cell, count(*) AS n_base,
         |    CAST(sum(CAST(floor((${dotDSql("nb.v", "nb.v")}
         |      - 2.0 * ${dotDSql("nb.v", "cent.centroid")}
         |      + ${dotDSql("cent.centroid", "cent.centroid")})
         |        * 1000000000.0) AS BIGINT)) AS BIGINT) AS base_d2_scaled
         |  FROM nb JOIN cent ON cent.code = nb.label GROUP BY nb.label),
         |ad AS (
         |  SELECT code AS cell, count(*) AS n_added,
         |    CAST(sum(CAST(floor(d2 * 1000000000.0) AS BIGINT)) AS BIGINT)
         |      AS delta_d2_scaled
         |  FROM route GROUP BY code)
         |SELECT bd.cell, CAST(bd.n_base AS BIGINT) AS n_base,
         |  coalesce(ad.n_added, 0) AS n_added,
         |  bd.base_d2_scaled,
         |  coalesce(ad.delta_d2_scaled, 0) AS delta_d2_scaled,
         |  CASE WHEN bd.n_base = 0 THEN NULL
         |    ELSE CAST(bd.base_d2_scaled AS DOUBLE) / 1000000000.0 / bd.n_base
         |  END AS mean_base_d2,
         |  CASE WHEN coalesce(ad.n_added, 0) = 0 THEN NULL
         |    ELSE CAST(ad.delta_d2_scaled AS DOUBLE) / 1000000000.0 / ad.n_added
         |  END AS mean_delta_d2,
         |  (5 * coalesce(ad.n_added, 0) > bd.n_base) AS growth_flag,
         |  (coalesce(ad.n_added, 0) > 0 AND
         |   5 * CAST(coalesce(ad.delta_d2_scaled, 0) AS HUGEINT) * bd.n_base
         |     > 6 * CAST(bd.base_d2_scaled AS HUGEINT) * ad.n_added)
         |    AS inflation_flag,
         |  ((5 * coalesce(ad.n_added, 0) > bd.n_base) OR
         |   (coalesce(ad.n_added, 0) > 0 AND
         |    5 * CAST(coalesce(ad.delta_d2_scaled, 0) AS HUGEINT) * bd.n_base
         |      > 6 * CAST(bd.base_d2_scaled AS HUGEINT) * ad.n_added))
         |    AS retrain
         |FROM bd LEFT JOIN ad ON ad.cell = bd.cell""".stripMargin))(
      (s, d) => {
        val (_, nb, cent, route) = ivfDeltaFrames(s, d)
        val bd = nb.join(broadcast(cent), col("code") === col("label"))
          .withColumn("bd2", GraftFunctions.dot(col("v"), col("v"))
            - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
            + GraftFunctions.dot(col("centroid"), col("centroid")))
          .groupBy(col("label").as("cell"))
          .agg(count(lit(1)).as("n_base"),
            sum(floor(col("bd2") * lit(1e9)).cast("bigint"))
              .as("base_d2_scaled"))
        val ad = route.groupBy(col("code").as("cell"))
          .agg(count(lit(1)).as("n_added"),
            sum(floor(col("d2") * lit(1e9)).cast("bigint"))
              .as("delta_d2_scaled"))
        val nAdd = coalesce(col("n_added"), lit(0L))
        val dScaled = coalesce(col("delta_d2_scaled"), lit(0L))
        val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
        val growth = lit(5) * nAdd > col("n_base")
        val inflation = nAdd > 0 &&
          dec(lit(5)) * dec(dScaled) * dec(col("n_base")) >
            dec(lit(6)) * dec(col("base_d2_scaled")) * dec(nAdd)
        bd.join(ad, Seq("cell"), "left_outer")
          .select(col("cell"), col("n_base"),
            nAdd.as("n_added"),
            col("base_d2_scaled"),
            dScaled.as("delta_d2_scaled"),
            when(col("n_base") === 0, lit(null).cast("double"))
              .otherwise(col("base_d2_scaled").cast("double") / lit(1e9)
                / col("n_base")).as("mean_base_d2"),
            when(nAdd === 0, lit(null).cast("double"))
              .otherwise(col("delta_d2_scaled").cast("double") / lit(1e9)
                / col("n_added")).as("mean_delta_d2"),
            growth.as("growth_flag"),
            inflation.as("inflation_flag"),
            (growth || inflation).as("retrain"))
      }),

    // ---- LSH: hyperplane sign signatures, banded buckets ----
    QueryDef("q_ann_lsh_hyperplane", Some {
      val signBitsSql = (0 until numPlanes).map { p =>
        s"(CASE WHEN ${dotDSql("v", planeSql(p))} >= 0 THEN 1 ELSE 0 END)"
      }
      val bandKeySql = (0 until planeBands).map { b =>
        val bits = (0 until planeBandRows).map { r =>
          s"(${signBitsSql(b * planeBandRows + r)} << $r)"
        }.mkString(" + ")
        s"(SELECT vec_id, v, nrm, $b AS band, $bits AS key FROM n)"
      }.mkString("\nUNION ALL\n")
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |bands AS ($bandKeySql),
         |cand AS (
         |  SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
         |)
         |SELECT cand.va AS vec_a, cand.vb AS vec_b,
         |  ${dotDSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos_sim
         |FROM cand JOIN n a ON a.vec_id = cand.va JOIN n b ON b.vec_id = cand.vb
         |WHERE ${dotDSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4""".stripMargin
    })(
      (s, d) => {
        val n = vecs(s, d)
        val signBits = (0 until numPlanes).map(p =>
          when(GraftFunctions.dot(col("v"), planeLit(p)) >= 0, 1).otherwise(0))
        val bandKeys = (0 until planeBands).map { b =>
          (0 until planeBandRows).map(r =>
            shiftleft(signBits(b * planeBandRows + r), r)).reduce(_ + _)
        }
        val bands = n.select(col("vec_id"), col("v"), col("nrm"),
          posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
          .persist() // self-joined below; sign bits cost 8 dot products
        val cand = bands.alias("x")
          .join(bands.select(col("vec_id"), col("band"), col("key")).alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
          .distinct()
        val a = n.select(col("vec_id").as("va"), col("v").as("av"), col("nrm").as("an"))
        val b = n.select(col("vec_id").as("vb"), col("v").as("bv"), col("nrm").as("bn"))
        cand.join(a, "va").join(b, "vb")
          .withColumn("cos_sim", GraftFunctions.dot(col("av"), col("bv")) / (col("an") * col("bn")))
          .where(col("cos_sim") >= 0.4)
          .select(col("va").as("vec_a"), col("vb").as("vec_b"), col("cos_sim"))
      }),

    // ---- MULTI-PROBE LSH: the recall lever that costs compute, not
    // memory. Each query probes its own band bucket PLUS the 4 buckets
    // at Hamming distance 1 (one sign bit flipped) — 5 probes × 2
    // bands — because a near neighbor's most likely miss is a single
    // plane disagreeing. Candidates are still equi-join bucket
    // collisions (probe fan-out is a constant factor on the SMALL
    // query side; the corpus index is built once and never re-hashed,
    // unlike adding more tables), then exact cosine verify.
    // `probes_flipped` records the cheapest probe that found each
    // candidate (0 = home bucket). ----
    QueryDef("q_ann_lsh_multiprobe", Some {
      val signBitsSql = (0 until numPlanes).map { p =>
        s"(CASE WHEN ${dotDSql("v", planeSql(p))} >= 0 THEN 1 ELSE 0 END)"
      }
      val bandKeySql = (0 until planeBands).map { b =>
        val bits = (0 until planeBandRows).map { r =>
          s"(${signBitsSql(b * planeBandRows + r)} << $r)"
        }.mkString(" + ")
        s"(SELECT vec_id, v, nrm, $b AS band, $bits AS key FROM n)"
      }.mkString("\nUNION ALL\n")
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |bands AS ($bandKeySql),
         |probes AS (
         |  SELECT vec_id AS query_id, band,
         |    CASE WHEN f.f = $planeBandRows THEN key
         |         ELSE xor(key, 1 << f.f) END AS pkey,
         |    CASE WHEN f.f = $planeBandRows THEN 0 ELSE 1 END AS nflips
         |  FROM bands, range(0, ${planeBandRows + 1}) f(f)
         |  WHERE $querySetPred),
         |cand AS (
         |  SELECT p.query_id, t.vec_id AS neighbor_id,
         |    min(p.nflips) AS probes_flipped
         |  FROM probes p JOIN bands t
         |    ON t.band = p.band AND t.key = p.pkey AND t.vec_id <> p.query_id
         |  GROUP BY p.query_id, t.vec_id)
         |SELECT cand.query_id, cand.neighbor_id, cand.probes_flipped,
         |  ${dotDSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos_sim
         |FROM cand JOIN n a ON a.vec_id = cand.query_id
         |  JOIN n b ON b.vec_id = cand.neighbor_id
         |WHERE ${dotDSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4""".stripMargin
    })(
      (s, d) => {
        val n = vecs(s, d)
        val signBits = (0 until numPlanes).map(p =>
          when(GraftFunctions.dot(col("v"), planeLit(p)) >= 0, 1).otherwise(0))
        val bandKeys = (0 until planeBands).map { b =>
          (0 until planeBandRows).map(r =>
            shiftleft(signBits(b * planeBandRows + r), r)).reduce(_ + _)
        }
        val bands = n.select(col("vec_id"), col("v"), col("nrm"),
          posexplode(array(bandKeys: _*)).as(Seq("band", "key")))
          .persist() // index side + probe source
        val probes = bands.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("band"), col("key"),
            explode(array((0 to planeBandRows).map(lit): _*)).as("f"))
          .select(col("query_id"), col("band"),
            when(col("f") === planeBandRows, col("key"))
              .otherwise(expr(s"key ^ (1 << f)")).as("pkey"),
            when(col("f") === planeBandRows, 0).otherwise(1).as("nflips"))
        val idx = bands.select(col("vec_id"),
          col("band").as("tband"), col("key").as("tkey"))
        val cand = broadcast(probes)
          .join(idx, col("tband") === col("band") && col("tkey") === col("pkey") &&
            col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(min(col("nflips")).as("probes_flipped"))
        val a = n.select(col("vec_id").as("query_id"), col("v").as("av"), col("nrm").as("an"))
        val b = n.select(col("vec_id").as("neighbor_id"), col("v").as("bv"), col("nrm").as("bn"))
        cand.join(a, "query_id").join(b, "neighbor_id")
          .withColumn("cos_sim",
            GraftFunctions.dot(col("av"), col("bv")) / (col("an") * col("bn")))
          .where(col("cos_sim") >= 0.4)
          .select(col("query_id"), col("neighbor_id"), col("probes_flipped"),
            col("cos_sim"))
      }),

    // ---- IVF-PQ: the composed billion-scale ANN path. Coarse-route
    // each query to its nprobe=2 nearest cells (exact scaled query→
    // centroid distances — the per-subspace sums the PQ base already
    // computes), then ADC-score ONLY vectors living in probed cells.
    // At cluster scale this is the plan that matters: the candidate
    // scan is partition-pruned to nprobe/|cells| of the corpus, the
    // query-side tables (routing + distance tables) broadcast, and the
    // big side never shuffles. Distances are integer-scaled before
    // summing, so ranking is order-independent and DuckDB-oracled. ----
    QueryDef("q_ann_ivfpq_search", Some(
      s"""WITH $pqBaseSql,
         |$ivfpqAdcSql
         |SELECT query_id, candidate_id, adc_scaled, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_scaled, candidate_id) AS rnk FROM adc) WHERE rnk <= 5""".stripMargin))(
      (s, d) => {
        val adc = ivfpqAdc(s, d)
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adc_scaled").asc, col("candidate_id").asc)
        adc.withColumn("rnk", row_number().over(w).cast("bigint"))
          .where(col("rnk") <= 5)
          .select(col("query_id"), col("candidate_id"), col("adc_scaled"), col("rnk"))
      }),

    // ---- IVF-PQ + exact re-rank: the production retrieval shape.
    // ADC distances are quantized approximations, so real systems
    // over-fetch a shortlist (here top-20 by ADC) and re-rank it with
    // EXACT distances before returning top-5 — recovering most of the
    // recall PQ loses at the cost of |shortlist| exact distance
    // computations per query. The shortlist is query-set-sized
    // (broadcast); only shortlisted candidate vectors are fetched, and
    // the final top-5 uses the bounded-state top-k aggregate (score =
    // −d2: IEEE negation is exact, so (−d2 DESC, id ASC) is exactly
    // (d2 ASC, id ASC)). ----
    QueryDef("q_ann_ivfpq_rerank", Some(
      s"""WITH $pqBaseSql,
         |$ivfpqAdcSql,
         |short AS (
         |  SELECT query_id, candidate_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_scaled, candidate_id) AS rnk FROM adc) WHERE rnk <= 20),
         |rr AS (
         |  SELECT s.query_id, s.candidate_id,
         |    ${dotDSql("q.v", "q.v")} - 2.0 * ${dotDSql("q.v", "c.v")}
         |      + ${dotDSql("c.v", "c.v")} AS d2
         |  FROM short s
         |  JOIN n q ON q.vec_id = s.query_id
         |  JOIN n c ON c.vec_id = s.candidate_id)
         |SELECT query_id, candidate_id, d2, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY d2, candidate_id) AS rnk FROM rr) WHERE rnk <= 5""".stripMargin))(
      (s, d) => {
        val adc = ivfpqAdc(s, d)
        val wA = Window.partitionBy(col("query_id"))
          .orderBy(col("adc_scaled").asc, col("candidate_id").asc)
        val short = adc.withColumn("rnk", row_number().over(wA))
          .where(col("rnk") <= 20)
          .select(col("query_id"), col("candidate_id"))
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = n.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val cv = n.select(col("vec_id").as("candidate_id"), col("v").as("cv"))
        val rr = cv.join(broadcast(short), Seq("candidate_id"))
          .join(broadcast(qv), Seq("query_id"))
          .withColumn("neg_d2",
            -(GraftFunctions.dot(col("qv"), col("qv"))
              - lit(2.0) * GraftFunctions.dot(col("qv"), col("cv"))
              + GraftFunctions.dot(col("cv"), col("cv"))))
        ExactTopK.topK(rr, Seq("query_id"), "neg_d2", "candidate_id", 5)
          .select(col("query_id"), col("candidate_id"),
            (-col("neg_d2")).as("d2"), col("rnk"))
      }),

    // ---- residual IVF-PQ: the faithful composed index. Vectors are
    // PQ-encoded as RESIDUALS against their coarse-cell centroid (what
    // production IVF-PQ does — residuals are smaller, so the same
    // codebook budget quantizes finer), with an 8-codeword residual
    // codebook trained constant-state in integer-scaled space. Queries
    // route to nprobe=2 cells by exact centroid distance, and the ADC
    // distance tables are computed per (query, probed cell) over the
    // query's residual AGAINST THAT CELL — the per-cell-residual
    // subtlety that distinguishes residual IVF-PQ from flat PQ. Every
    // step is deterministic (exact centroids → IEEE subtraction →
    // sequential folds → integer-scaled sums), so the whole composed
    // index is DuckDB-oracled. Scale: routing + distance tables are
    // query-set-sized broadcasts; candidates partition-prune to
    // nprobe/|cells| of the corpus; the corpus never shuffles. ----
    QueryDef("q_ann_ivfpq_residual", Some {
      val sub = (0 until 8).map { sIdx =>
        s"(SELECT $sIdx AS subspace, ${sIdx * 8 + 1} AS lo, ${sIdx * 8 + 8} AS hi)"
      }.mkString("\nUNION ALL\n")
      def sliceFold(a: String, b: String) =
        s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
           |      list_transform(list_zip($a[subs.lo:subs.hi], $b[subs.lo:subs.hi]),
           |        z -> (z[1] - z[2]) * (z[1] - z[2]))), (x, y) -> x + y)""".stripMargin
      s"""WITH $centCtesSql,
         |res AS (
         |  SELECT n.vec_id, n.label,
         |    list_transform(list_zip(n.v, cent.centroid), z -> z[1] - z[2]) AS r
         |  FROM n JOIN cent ON cent.code = n.label),
         |g2 AS (
         |  SELECT vec_id % 8 AS cw, d.d AS dim,
         |    CAST(sum(CAST(floor(r[d.d + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS ssum,
         |    count(*) AS cnt
         |  FROM res, range(0, $dim) d(d) GROUP BY vec_id % 8, d.d),
         |cb AS (
         |  SELECT cw, list(CAST(ssum AS DOUBLE) / 1000000000.0 / cnt ORDER BY dim) AS codeword
         |  FROM g2 GROUP BY cw),
         |subs AS ($sub),
         |rcodes AS (
         |  SELECT vec_id, subspace, cw FROM (
         |    SELECT res.vec_id, subs.subspace, cb.cw,
         |      row_number() OVER (PARTITION BY res.vec_id, subs.subspace
         |        ORDER BY ${sliceFold("res.r", "cb.codeword")}, cb.cw) AS rn
         |    FROM res, subs, cb) WHERE rn = 1),
         |qroute AS (
         |  SELECT vec_id AS query_id, code AS cell FROM (
         |    SELECT n.vec_id, cent.code,
         |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
         |        ${dotDSql("n.v", "n.v")} - 2.0 * ${dotDSql("n.v", "cent.centroid")}
         |          + ${dotDSql("cent.centroid", "cent.centroid")}, cent.code) AS rn
         |    FROM n, cent WHERE $querySetPred) WHERE rn <= 2),
         |qres AS (
         |  SELECT n.vec_id AS query_id, q.cell,
         |    list_transform(list_zip(n.v, cent.centroid), z -> z[1] - z[2]) AS rq
         |  FROM n JOIN qroute q ON q.query_id = n.vec_id
         |  JOIN cent ON cent.code = q.cell),
         |qdt AS (
         |  SELECT qres.query_id, qres.cell, subs.subspace, cb.cw,
         |    CAST(floor(${sliceFold("qres.rq", "cb.codeword")} * 1000000000.0) AS BIGINT) AS d_scaled
         |  FROM qres, subs, cb),
         |adc AS (
         |  SELECT q.query_id, n2.vec_id AS candidate_id,
         |    CAST(sum(t.d_scaled) AS BIGINT) AS adc_scaled
         |  FROM qroute q
         |  JOIN n n2 ON n2.label = q.cell AND n2.vec_id <> q.query_id
         |  JOIN rcodes k ON k.vec_id = n2.vec_id
         |  JOIN qdt t ON t.query_id = q.query_id AND t.cell = q.cell
         |    AND t.subspace = k.subspace AND t.cw = k.cw
         |  GROUP BY q.query_id, n2.vec_id)
         |SELECT query_id, candidate_id, adc_scaled, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY adc_scaled, candidate_id) AS rnk FROM adc) WHERE rnk <= 5""".stripMargin
    })(
      (s, d) => {
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = centroidsOf(n, "label")
        val res = n.join(broadcast(cent), col("label") === col("code"))
          .select(col("vec_id"), col("label"),
            zip_with(col("v"), col("centroid"), (a, b) => a - b).as("r"))
          .persist()
        val cb = centroidsOf(
            res.select(pmod(col("vec_id"), lit(8L)).as("cw"), col("r").as("v")), "cw")
          .select(col("code").as("cw"), col("centroid").as("codeword"))
        val subsEx = explode(array((0 until 8).map(lit): _*)).as("subspace")
        val rcW = Window.partitionBy(col("vec_id"), col("subspace"))
          .orderBy(col("dist").asc, col("cw").asc)
        val rcodes = res.select(col("vec_id"), col("r"), subsEx)
          .join(broadcast(cb))
          .withColumn("dist", GraftFunctions.l2sub(
            col("r"), col("codeword"), (col("subspace") * 8).cast("int"), 8))
          .withColumn("rn", row_number().over(rcW))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("subspace"), col("cw"))
        val routeW = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2").asc, col("code").asc)
        val queries = n.where(expr(querySetPred))
        val qroute = queries.crossJoin(broadcast(cent))
          .withColumn("d2",
            GraftFunctions.dot(col("v"), col("v"))
              - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
              + GraftFunctions.dot(col("centroid"), col("centroid")))
          .withColumn("rn", row_number().over(routeW))
          .where(col("rn") <= 2)
          .select(col("vec_id").as("query_id"), col("code").as("cell"))
        val qres = queries.select(col("vec_id").as("query_id"), col("v"))
          .join(broadcast(qroute), "query_id")
          .join(broadcast(cent.select(col("code").as("cell"), col("centroid"))), "cell")
          .select(col("query_id"), col("cell"),
            zip_with(col("v"), col("centroid"), (a, b) => a - b).as("rq"))
        val qdt = qres.select(col("query_id"), col("cell"), col("rq"), subsEx)
          .join(broadcast(cb))
          .select(col("query_id"), col("cell"), col("subspace"), col("cw"),
            floor(GraftFunctions.l2sub(
                col("rq"), col("codeword"), (col("subspace") * 8).cast("int"), 8)
              * lit(1e9)).cast("bigint").as("d_scaled"))
        val adc = n.select(col("vec_id").as("candidate_id"), col("label"))
          .join(broadcast(qroute), col("label") === col("cell") &&
            col("candidate_id") =!= col("query_id"))
          .join(rcodes.withColumnRenamed("vec_id", "candidate_id"), Seq("candidate_id"))
          .join(broadcast(qdt), Seq("query_id", "cell", "subspace", "cw"))
          .groupBy(col("query_id"), col("candidate_id"))
          .agg(org.apache.spark.sql.functions.sum(col("d_scaled")).as("adc_scaled"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("adc_scaled").asc, col("candidate_id").asc)
        adc.withColumn("rnk", row_number().over(w).cast("bigint"))
          .where(col("rnk") <= 5)
          .select(col("query_id"), col("candidate_id"), col("adc_scaled"), col("rnk"))
      }),

    // ---- symmetric int8 quantization: the embedding-storage
    // compression step (64 doubles → 64 bytes + 1 scale). absmax is a
    // max-fold (order-insensitive, exact); each component quantizes
    // with ONE multiply+divide+floor — identical IEEE ops both
    // engines, so the full codebook is oracled. Row-local: zero
    // shuffles at any scale. ----
    QueryDef("q_vector_quantize_int8", Some(
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |a AS (SELECT vec_id, v,
         |        list_max(list_transform(v, x -> abs(x))) AS absmax FROM n)
         |SELECT vec_id, CAST(d.d AS INT) AS dim, absmax,
         |  CASE WHEN absmax = 0 THEN 0
         |       ELSE CAST(floor((v[d.d + 1] * 127.0) / absmax) AS BIGINT) END AS q
         |FROM a, range(0, $dim) d(d)""".stripMargin))(
      (s, d) => {
        Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("absmax", array_max(transform(col("v"), x => abs(x))))
          .select(col("vec_id"), col("absmax"),
            posexplode(transform(col("v"),
              x => when(col("absmax") === 0, lit(0L))
                .otherwise(floor((x * lit(127.0)) / col("absmax")))))
              .as(Seq("dim", "q")))
          .select(col("vec_id"), col("dim"), col("absmax"), col("q"))
      }),

    // ---- BLOCK-wise int8 quantization (per-8-dim group scales — the
    // per-group/per-channel shape LLM quantization uses instead of one
    // whole-row scale: a single outlier then only saturates its own
    // block). Entirely row-local: block absmaxes are a transform over
    // the vector itself, so the operator is zero-shuffle at any
    // scale. ----
    QueryDef("q_vector_quantize_block", Some(
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v,
         |        list_transform(range(0, 8), b ->
         |          list_max(list_transform(v[b*8+1 : b*8+8], x -> abs(x)))) AS bm
         |      FROM n)
         |SELECT vec_id, CAST(d.d AS INT) AS dim, CAST(d.d // 8 AS INT) AS blk,
         |  bm[CAST(d.d // 8 + 1 AS INT)] AS absmax,
         |  CASE WHEN bm[CAST(d.d // 8 + 1 AS INT)] = 0 THEN 0
         |       ELSE CAST(floor((v[d.d + 1] * 127.0)
         |              / bm[CAST(d.d // 8 + 1 AS INT)]) AS BIGINT) END AS q
         |FROM b, range(0, $dim) d(d)""".stripMargin))(
      (s, d) => {
        Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("bm", transform(sequence(lit(0), lit(7)),
            b => array_max(transform(slice(col("v"), b * 8 + 1, lit(8)), x => abs(x)))))
          .select(col("vec_id"), col("bm"),
            posexplode(col("v")).as(Seq("dim0", "x")))
          .withColumn("dim", col("dim0").cast("int"))
          .withColumn("blk", (col("dim0") / 8).cast("int"))
          .withColumn("absmax", element_at(col("bm"), col("blk") + 1))
          .select(col("vec_id"), col("dim"), col("blk"), col("absmax"),
            when(col("absmax") === 0, lit(0L))
              .otherwise(floor((col("x") * lit(127.0)) / col("absmax")))
              .as("q"))
      }),

    // ---- one Lloyd (k-means) iteration, fully deterministic: assign
    // every vector to its nearest current centroid via the expansion
    // |v|² − 2·v·c + |c|² (three sequential-fold dot products —
    // bit-identical both engines), tie-break on centroid id, then
    // re-train centroids over the NEW assignment with the same
    // constant-state integer-scaled sums. This is the iterative-ML
    // shape on the engine: assignment is a broadcast of k centroids
    // against a partitioned scan (no shuffle of the corpus), the
    // re-train is one partial+final aggregate. ----
    QueryDef("q_vector_kmeans_iter", Some(
      s"""WITH $centCtesSql,
         |dist AS (
         |  SELECT n.vec_id, cent.code,
         |    ${dotDSql("n.v", "n.v")} - 2.0 * ${dotDSql("n.v", "cent.centroid")}
         |      + ${dotDSql("cent.centroid", "cent.centroid")} AS d2
         |  FROM n, cent),
         |asg AS (
         |  SELECT vec_id, code FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id
         |      ORDER BY d2, code) AS rn FROM dist) WHERE rn = 1),
         |g2 AS (
         |  SELECT asg.code AS new_label, d.d AS dim,
         |    CAST(sum(CAST(floor(n.v[d.d + 1] * 1000000000.0) AS BIGINT)) AS BIGINT) AS ssum,
         |    count(*) AS n
         |  FROM n JOIN asg ON asg.vec_id = n.vec_id, range(0, $dim) d(d)
         |  GROUP BY asg.code, d.d)
         |SELECT new_label, n, CAST(dim AS INT) AS dim,
         |  CAST(ssum AS DOUBLE) / 1000000000.0 / n AS val
         |FROM g2""".stripMargin))(
      (s, d) => {
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = centroidsOf(n, "label")
        val w = Window.partitionBy(col("vec_id"))
          .orderBy(col("d2").asc, col("code").asc)
        val asg = n.crossJoin(broadcast(cent))
          .withColumn("d2",
            GraftFunctions.dot(col("v"), col("v"))
              - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
              + GraftFunctions.dot(col("centroid"), col("centroid")))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("vec_id"), col("code"))
        val reassigned = n.join(asg, "vec_id")
          .select(col("code").as("new_label"), col("v"))
        centroidsOf(reassigned, "new_label")
          .select(col("code").as("new_label"), col("centroid"))
          .join(asg.groupBy(col("code").as("new_label"))
            .agg(count(lit(1)).as("n")), "new_label")
          .select(col("new_label"), col("n"),
            posexplode(col("centroid")).as(Seq("dim", "val")))
          .select(col("new_label"), col("n"), col("dim"), col("val"))
      }),

    // ---- RANGE search: all neighbors with cos ≥ τ, the second
    // standard ANN API next to top-k (dedup thresholds, "find all
    // matches above confidence" retrieval). Same broadcast-query ×
    // partitioned-candidate shape as brute top-k, but NO window and
    // NO per-group state at all — score, filter, done; the result
    // size is data-dependent, which is exactly the range-search
    // contract. FP parity: both engines build bit-identical cosines
    // (same op sequence), so the τ compare can't straddle. ----
    QueryDef("q_ann_range_search", Some(
      s"""WITH n AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings)
         |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos_sim
         |FROM (SELECT * FROM n WHERE $querySetPred) q
         |JOIN n c ON c.vec_id <> q.vec_id
         |WHERE ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) >= 0.3""".stripMargin))(
      (s, d) =>
        bruteScored(vecs(s, d)).where(col("cos_sim") >= 0.3)
          .select(col("query_id"), col("neighbor_id"), col("cos_sim"))),

    // ---- one POWER-ITERATION step toward the corpus' top principal
    // direction: v₁ ∝ Xᵀ(X·v₀) with v₀ = 1 — the matrix-free
    // distributed-linear-algebra primitive under PCA/spectral
    // embedding, computed without ever materializing the d×d
    // covariance. Integer-scaled exact: components quantize to 1e-6
    // (q ≲ 3e5 here), the row projection sᵢ = Σⱼ qᵢⱼ fits int64 at
    // any d, and the per-dimension back-projection Σᵢ qᵢⱼ·sᵢ
    // accumulates in DECIMAL(38,0)/HUGEINT (headroom ~1e25 rows —
    // int64 would wrap at ~1e9 rows at these magnitudes). Scale: one
    // shuffle on vec_id (projection), one map-side-combined aggregate
    // onto d=64 groups; nothing ever holds more than a row or a
    // d-sized partial. ----
    QueryDef("q_vector_power_iteration", Some(
      """WITH q AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings),
        |s AS (SELECT vec_id, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY vec_id),
        |p AS (
        |  SELECT q.j, sum(q.qv * s.sv) AS comp, count(*) AS n
        |  FROM q JOIN s ON q.vec_id = s.vec_id
        |  GROUP BY q.j)
        |SELECT CAST(j AS INT) AS dim, CAST(n AS BIGINT) AS n_rows,
        |  CAST(comp AS DOUBLE) / 1e12 AS component
        |FROM p""".stripMargin))(
      (s, d) => {
        val q = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j"),
            floor(col("x") * 1000000.0 + 0.5).cast("bigint").as("qv"))
          .persist() // projection pass + back-projection pass
        val sv = q.groupBy(col("vec_id")).agg(sum(col("qv")).as("sv"))
        q.join(sv, "vec_id")
          .groupBy(col("j"))
          .agg(sum((col("qv") * col("sv")).cast("decimal(28,0)")).as("comp"),
            count(lit(1)).as("n"))
          .select(col("j").as("dim"), col("n").as("n_rows"),
            (col("comp").cast("double") / lit(1e12)).as("component"))
      }),

    // ---- SECOND power-iteration step with integer renormalization:
    // v₂ ∝ Xᵀ(X·v₁ₙ) where v₁ₙ is the first step's direction rescaled
    // to fixed-point ±1e3 by ITS OWN max component — an exact integer
    // division both engines reproduce, so the chained iteration stays
    // bit-oracled end-to-end (the rescale is what a float pipeline
    // does with a norm, done wrap-proof). Magnitude budget, proven in
    // line: |s₂| ≤ d·qmax·1e3 ≈ 2e10, per-term |q·s₂| ≤ 7e15 — int64
    // holds through every product, DECIMAL(38,0) holds every sum.
    // Scale shape identical to step 1 plus one 64-row broadcast. ----
    QueryDef("q_vector_power_iteration2", Some(
      """WITH q AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings),
        |s1 AS (SELECT vec_id, CAST(sum(qv) AS BIGINT) AS sv FROM q GROUP BY vec_id),
        |p1 AS (
        |  SELECT q.j, sum(q.qv * s1.sv) AS comp1
        |  FROM q JOIN s1 ON q.vec_id = s1.vec_id GROUP BY q.j),
        |m AS (SELECT max(abs(comp1)) AS mx FROM p1),
        |v1 AS (SELECT j, CAST((comp1 * 1000) // m.mx AS BIGINT) AS vj
        |       FROM p1, m),
        |s2 AS (
        |  SELECT q.vec_id, CAST(sum(q.qv * v1.vj) AS BIGINT) AS sv2
        |  FROM q JOIN v1 ON q.j = v1.j GROUP BY q.vec_id),
        |p2 AS (
        |  SELECT q.j, sum(q.qv * s2.sv2) AS comp2
        |  FROM q JOIN s2 ON q.vec_id = s2.vec_id GROUP BY q.j)
        |SELECT CAST(p2.j AS INT) AS dim, v1.vj AS v1_scaled,
        |  CAST(p2.comp2 AS DOUBLE) / 1e12 AS component2
        |FROM p2 JOIN v1 ON v1.j = p2.j""".stripMargin))(
      (s, d) => {
        val q = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j"),
            floor(col("x") * 1000000.0 + 0.5).cast("bigint").as("qv"))
          .persist() // three passes: s1, s2, both back-projections
        val s1 = q.groupBy(col("vec_id")).agg(sum(col("qv")).as("sv"))
        val p1 = q.join(s1, "vec_id")
          .groupBy(col("j"))
          .agg(sum((col("qv") * col("sv")).cast("decimal(28,0)")).as("comp1"))
        val m = p1.agg(max(abs(col("comp1"))).as("mx"))
        val v1 = p1.crossJoin(broadcast(m))
          .select(col("j"),
            expr("CAST((comp1 * 1000) DIV mx AS BIGINT)").as("vj"))
        val s2 = q.join(broadcast(v1), "j")
          .groupBy(col("vec_id")).agg(sum(col("qv") * col("vj")).as("sv2"))
        q.join(s2, "vec_id")
          .groupBy(col("j"))
          .agg(sum((col("qv") * col("sv2")).cast("decimal(28,0)")).as("comp2"))
          .join(broadcast(v1), "j")
          .select(col("j").cast("int").as("dim"), col("vj").as("v1_scaled"),
            (col("comp2").cast("double") / lit(1e12)).as("component2"))
      }),

    // ---- distributed Gram matrix G = EᵀE (upper triangle): the
    // covariance/PCA primitive — one 64×64 exact integer matrix from
    // the whole embedding corpus, computed as the COO join-agg
    // formulation (explode to (vec, dim, q) triples, self-join on
    // vec with i ≤ j, hash-agg the products). The ×d(d+1)/2 fan-out
    // is a CONSTANT factor of the embedding payload (d = 64 fixed),
    // and every stage is map-side-combinable; for d large enough
    // that d² rows per vector hurts, the bounded-state alternative
    // is an outer-product TypedImperativeAggregate (the
    // VectorMeanAggregator pattern) — same result, one pass, noted
    // here as the scale path. Magnitude budget: |q| ≤ 6e6 scaled,
    // per-term ≤ 4e13, summed over 5e3 vectors ≤ 2e17 — int64 holds;
    // Spark accumulates in DECIMAL(28,0) for headroom. ----
    QueryDef("q_vector_gram_matrix", Some(
      """WITH q AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings)
        |SELECT CAST(a.j AS INT) AS i, CAST(b.j AS INT) AS j,
        |  count(*) AS n_vectors,
        |  CAST(sum(a.qv * b.qv) AS BIGINT) AS gram_scaled
        |FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.j <= b.j
        |GROUP BY a.j, b.j""".stripMargin))(
      (s, d) => {
        val q = Tables(s, d, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
          .select(col("vec_id"), col("j"),
            floor(col("x") * 1000000.0 + 0.5).cast("bigint").as("qv"))
        q.as("a").join(q.as("b"),
            col("a.vec_id") === col("b.vec_id") && col("a.j") <= col("b.j"))
          .groupBy(col("a.j").as("i"), col("b.j").as("j"))
          .agg(count(lit(1)).as("n_vectors"),
            sum((col("a.qv") * col("b.qv")).cast("decimal(28,0)")).as("g"))
          .select(col("i").cast("int").as("i"), col("j").cast("int").as("j"),
            col("n_vectors"), col("g").cast("bigint").as("gram_scaled"))
      }),

    // ---- per-dimension moments (the standardization pre-pass):
    // mean and variance per embedding dimension, the statistics a
    // whitening/normalization stage broadcasts before training.
    // Variance via the exact integer identity n·Σq² − (Σq)²,
    // computed in 128-bit space (HUGEINT / DECIMAL(38,0) — n·Σq²
    // tops 9e20, past int64) and converted to double only at the
    // end, so both engines round the same exact rational. One
    // explode + one 64-group agg; map-side combinable. ----
    QueryDef("q_vector_dim_stats", Some(
      """WITH q AS (
        |  SELECT vec_id,
        |    unnest(range(0, len(embedding))) AS j,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0 + 0.5)
        |      AS BIGINT) AS qv
        |  FROM embeddings),
        |a AS (SELECT j, count(*) AS n, CAST(sum(qv) AS BIGINT) AS s,
        |        sum(CAST(qv AS HUGEINT) * qv) AS ss
        |      FROM q GROUP BY j)
        |SELECT CAST(j AS INT) AS dim, CAST(n AS BIGINT) AS n,
        |  CAST(s AS DOUBLE) / n AS mean_e6,
        |  CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)
        |    / (CAST(n AS DOUBLE) * n) AS var_e12
        |FROM a""".stripMargin))(
      (s, d) => {
        Tables(s, d, "embeddings")
          .select(col("vec_id"),
            posexplode(col("embedding").cast("array<double>")).as(Seq("j", "x")))
          .select(col("j"),
            floor(col("x") * 1000000.0 + 0.5).cast("bigint").as("qv"))
          .groupBy(col("j"))
          .agg(count(lit(1)).as("n"), sum(col("qv")).as("s"),
            sum(col("qv").cast("decimal(38,0)") * col("qv")).as("ss"))
          .select(col("j").cast("int").as("dim"), col("n"),
            (col("s").cast("double") / col("n")).as("mean_e6"),
            ((col("n").cast("decimal(38,0)") * col("ss") -
              col("s").cast("decimal(38,0)") * col("s")).cast("double")
              / (col("n").cast("double") * col("n"))).as("var_e12"))
      }),

    // ---- HARD-NEGATIVE mining for contrastive training: for each
    // query vector, the single most-similar candidate with a
    // DIFFERENT label — the canonical "close but wrong" pair every
    // embedding-training recipe mines. Same broadcast-query ×
    // partitioned-candidate shape as brute top-k, with the label
    // inequality pushed into the join condition and the per-query
    // top-1 kept by the bounded-state TopKPairsAgg (1 entry per
    // partition per query through the shuffle). ----
    QueryDef("q_ann_hard_negatives", Some(
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, q.label AS query_label,
         |    c.vec_id AS negative_id, c.label AS negative_label,
         |    ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos_sim
         |  FROM (SELECT * FROM n WHERE $querySetPred) q
         |  JOIN n c ON c.label <> q.label)
         |SELECT query_id, query_label, negative_id, negative_label, cos_sim
         |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
         |  ORDER BY cos_sim DESC, negative_id) AS rn FROM scored)
         |WHERE rn = 1""".stripMargin))(
      (s, d) => {
        val n = vecs(s, d)
        val q = n.select(col("vec_id").as("query_id"),
          col("label").as("query_label"), col("v").as("qv"), col("nrm").as("qn"))
          .where(expr("query_id % 100 = 0"))
        val c = n.select(col("vec_id").as("negative_id"),
          col("label").as("negative_label"), col("v").as("cv"), col("nrm").as("cn"))
        ExactTopK.topK(
            ExactTopK.scored(q, c, col("negative_label") =!= col("query_label")),
            Seq("query_id", "query_label"), "cos_sim", "negative_id", 1)
          .join(broadcast(c.select(col("negative_id"), col("negative_label"))),
            "negative_id")
          .select(col("query_id"), col("query_label"), col("negative_id"),
            col("negative_label"), col("cos_sim"))
      }),

    // ---- DIVERSITY selection: per cell, the 3 vectors FARTHEST from
    // their own centroid — the spread-maximizing picks a curation
    // recipe adds so a cell is not represented only by its mode.
    // Centroids are the constant-state integer-scaled means; the
    // distance is the same |v|² − 2v·c + |c|² op sequence the k-means
    // step uses (bit-reproducible); ranking is one window per cell
    // over candidates already joined to their OWN centroid (k-row
    // broadcast, no cross-cell work). ----
    QueryDef("q_sample_diverse", Some(
      s"""WITH $centCtesSql,
         |dist AS (
         |  SELECT n.vec_id, n.label,
         |    ${dotDSql("n.v", "n.v")} - 2.0 * ${dotDSql("n.v", "cent.centroid")}
         |      + ${dotDSql("cent.centroid", "cent.centroid")} AS d2
         |  FROM n JOIN cent ON cent.code = n.label)
         |SELECT vec_id, label, d2, CAST(rn AS INT) AS rnk
         |FROM (SELECT *, row_number() OVER (PARTITION BY label
         |  ORDER BY d2 DESC, vec_id) AS rn FROM dist)
         |WHERE rn <= 3""".stripMargin))(
      (s, d) => {
        val n = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val cent = centroidsOf(n, "label")
        val w = Window.partitionBy(col("label"))
          .orderBy(col("d2").desc, col("vec_id").asc)
        n.join(broadcast(cent), col("label") === col("code"))
          .withColumn("d2",
            GraftFunctions.dot(col("v"), col("v"))
              - lit(2.0) * GraftFunctions.dot(col("v"), col("centroid"))
              + GraftFunctions.dot(col("centroid"), col("centroid")))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 3)
          .select(col("vec_id"), col("label"), col("d2"),
            col("rn").cast("int").as("rnk"))
      })
  ,

    // ---- IVF index-health stats: the cell-size distribution that
    // determines real query latency. imbalance_e6 = max-cell/mean-cell
    // (a hot cell serves every query routed to it); exp_scan_e6 =
    // Σsz²/total = the EXPECTED candidates scanned per query when
    // queries distribute like the corpus (the size-biased mean — the
    // number that degrades as an index drifts, and the one
    // q_ann_ivf_retrain_signal's growth flag protects). Exact
    // integers, Σsz² widened to HUGEINT/DECIMAL(38,0). Scale: one
    // |cells|-row hash-agg then scalar math — the audit costs one
    // scan no matter the corpus. ----
    QueryDef("q_ann_ivf_cell_stats", Some(
      """WITH cells AS (
        |  SELECT label, count(*) AS sz FROM embeddings GROUP BY label)
        |SELECT count(*) AS n_cells,
        |  CAST(sum(sz) AS BIGINT) AS n_vectors,
        |  CAST(min(sz) AS BIGINT) AS min_cell,
        |  CAST(max(sz) AS BIGINT) AS max_cell,
        |  CAST((1000000 * max(sz) * count(*)) // sum(sz) AS BIGINT)
        |    AS imbalance_e6,
        |  CAST((CAST(1000000 AS HUGEINT) * sum(sz * sz)) // sum(sz)
        |    AS BIGINT) AS exp_scan_e6
        |FROM cells""".stripMargin))(
      (s, d) =>
        graft.Tables(s, d, "embeddings")
          .groupBy(col("label")).agg(count(lit(1)).as("sz"))
          .agg(count(lit(1)).as("n_cells"),
            sum(col("sz")).as("n_vectors"),
            min(col("sz")).cast("bigint").as("min_cell"),
            max(col("sz")).cast("bigint").as("max_cell"),
            (lit(1000000L) * max(col("sz")) * count(lit(1))).as("imb_num"),
            sum((col("sz") * col("sz")).cast("decimal(38,0)")).as("s2"))
          .select(col("n_cells"), col("n_vectors"), col("min_cell"),
            col("max_cell"),
            expr("imb_num DIV n_vectors").as("imbalance_e6"),
            expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * s2)" +
              " DIV n_vectors AS BIGINT)").as("exp_scan_e6"))
      )
  )
}
