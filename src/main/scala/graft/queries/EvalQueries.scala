package graft.queries

import graft.QueryDef
import graft.functions.GraftFunctions
import graft.ops.ExactTopK
import graft.ops.TextOps._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline-quality evaluation: measure an approximate operator
  * against its exact baseline INSIDE the engine, the way a training
  *-data pipeline audits its own recall before shipping a corpus. The
  * first entry scores the PQ/ADC path against brute-force cosine
  * top-k. Both sides are deterministic (sorted folds, integer-scaled
  * distances, fixed tiebreaks), so even this meta-query has an exact
  * DuckDB twin — the recall numbers themselves are oracled.
  *
  * Scale: the eval runs on the sampled query set only (fixed fraction
  * of the corpus); both legs are the same broadcast-and-scan shapes as
  * the operators they audit.
  */
object EvalQueries {

  private val k = 5

  /** 1e12-scaled nDCG discounts 1/log2(i+1), computed once here and
    * embedded as integer literals in BOTH dialects — transcendental-
    * free at query time, and integer DCG sums cannot be perturbed by
    * summation order. */
  private val discE12: Map[Int, Long] = (1 to k).map(i =>
    i -> Math.round(1e12 * (Math.log(2) / Math.log(i + 1)))).toMap
  private val idcgE12: Long = (1 to k).map(discE12).sum

  val defs: Seq[QueryDef] = Seq(

    // ---- recall@5 of PQ ADC ranking vs exact cosine top-5 ----
    QueryDef("q_eval_pq_recall", Some {
      import SimilarityQueries.{pqBaseSql, querySetPred}
      s"""WITH $pqBaseSql,
         |nv AS (SELECT vec_id, v, ${normDSql("v")} AS nrm FROM n),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT * FROM nv WHERE $querySetPred) q
         |    JOIN nv c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k),
         |dtable AS (
         |  SELECT vec_id AS query_id, subspace, code,
         |    CAST(floor(dist * 1000000000) AS BIGINT) AS d_scaled
         |  FROM dists WHERE $querySetPred),
         |adc AS (
         |  SELECT dtable.query_id, codes.vec_id AS candidate_id,
         |    CAST(sum(dtable.d_scaled) AS BIGINT) AS adc_scaled
         |  FROM codes JOIN dtable
         |    ON codes.subspace = dtable.subspace AND codes.code = dtable.code
         |  WHERE codes.vec_id <> dtable.query_id
         |  GROUP BY dtable.query_id, codes.vec_id),
         |adc_top AS (
         |  SELECT query_id, candidate_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_scaled, candidate_id) AS rnk FROM adc)
         |  WHERE rnk <= $k)
         |SELECT b.query_id, count(a.candidate_id) AS n_hits,
         |  count(a.candidate_id) / ${k}.0 AS recall_at_$k
         |FROM brute b LEFT JOIN adc_top a
         |  ON a.query_id = b.query_id AND a.candidate_id = b.neighbor_id
         |GROUP BY b.query_id""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, pqAdcTop, vecs}
        // exact leg: brute-force cosine top-k (same shape as q_ann_brute_topk)
        val brute = bruteTopK(vecs(s, d), k)
        // approximate leg: ADC over PQ codes (same shape as q_ann_pq_search)
        val adcTop = pqAdcTop(s, d, k)
        brute.alias("b")
          .join(adcTop.alias("a"),
            col("a.query_id") === col("b.query_id") &&
              col("a.candidate_id") === col("b.neighbor_id"), "left")
          .groupBy(col("b.query_id").as("query_id"))
          .agg(count(col("a.candidate_id")).as("n_hits"),
            (count(col("a.candidate_id")) / lit(k.toDouble)).as(s"recall_at_$k"))
      }),

    // ---- nDCG@5 of the PQ/ADC ranking vs exact cosine: recall@k
    // (above) scores membership; nDCG scores ORDER — an approximate
    // index that finds the right 5 neighbors in the wrong order
    // degrades downstream k-NN weighting even at recall 1.0. Binary
    // relevance (ADC position i counts iff it is a true top-5
    // neighbor), discounts 1/log2(i+1) as 1e12-scaled INTEGER
    // literals computed once in Scala and embedded in both dialects
    // (the HLL literal-table trick — no transcendentals at query
    // time, and the DCG sum is an exact integer, so order of
    // summation cannot perturb it). IDCG = all-relevant = ΣW, a
    // constant. Same plan shapes as the recall entry. ----
    QueryDef("q_eval_pq_ndcg", Some {
      import SimilarityQueries.{pqBaseSql, querySetPred}
      val caseW = (1 to k).map(i =>
        s"WHEN ${i} THEN ${discE12(i)}").mkString("CASE a.rnk ", " ", " ELSE 0 END")
      s"""WITH $pqBaseSql,
         |nv AS (SELECT vec_id, v, ${normDSql("v")} AS nrm FROM n),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT * FROM nv WHERE $querySetPred) q
         |    JOIN nv c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k),
         |dtable AS (
         |  SELECT vec_id AS query_id, subspace, code,
         |    CAST(floor(dist * 1000000000) AS BIGINT) AS d_scaled
         |  FROM dists WHERE $querySetPred),
         |adc AS (
         |  SELECT dtable.query_id, codes.vec_id AS candidate_id,
         |    CAST(sum(dtable.d_scaled) AS BIGINT) AS adc_scaled
         |  FROM codes JOIN dtable
         |    ON codes.subspace = dtable.subspace AND codes.code = dtable.code
         |  WHERE codes.vec_id <> dtable.query_id
         |  GROUP BY dtable.query_id, codes.vec_id),
         |adc_top AS (
         |  SELECT query_id, candidate_id, rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_scaled, candidate_id) AS rnk FROM adc)
         |  WHERE rnk <= $k)
         |SELECT a.query_id,
         |  CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL
         |       THEN $caseW ELSE 0 END) AS BIGINT) AS dcg_e12,
         |  CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL
         |       THEN $caseW ELSE 0 END) AS DOUBLE) / $idcgE12
         |    AS ndcg_at_$k
         |FROM adc_top a LEFT JOIN brute b
         |  ON b.query_id = a.query_id AND b.neighbor_id = a.candidate_id
         |GROUP BY a.query_id""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, pqAdcTop, vecs}
        val brute = bruteTopK(vecs(s, d), k)
        val adcTop = pqAdcTop(s, d, k)
        val w = (1 to k).foldLeft(lit(0L)) { (acc, i) =>
          when(col("a.rnk") === i, lit(discE12(i))).otherwise(acc)
        }
        val dcg = sum(when(col("b.neighbor_id").isNotNull, w).otherwise(0L))
        adcTop.alias("a")
          .join(brute.alias("b"),
            col("b.query_id") === col("a.query_id") &&
              col("b.neighbor_id") === col("a.candidate_id"), "left")
          .groupBy(col("a.query_id").as("query_id"))
          .agg(dcg.cast("bigint").as("dcg_e12"),
            (dcg.cast("double") / lit(idcgE12.toDouble)).as(s"ndcg_at_$k"))
      }),

    // ---- rank-biased overlap (RBO@5, truncated prefix form) of the
    // PQ/ADC ranking vs exact cosine — the set-free companion to nDCG
    // (nDCG scores positions of RELEVANT items; RBO scores agreement
    // of the two RANKINGS at every depth). Persistence p = 1/2 makes
    // every weight an exact dyadic rational: RBO = (1−p)·Σ_d
    // p^(d−1)·|A_d∩B_d|/d, and with L = lcm(1..5)·2⁴ = 960 each
    // depth-d term is the integer 960/(d·2^(d−1)) — [960,240,80,30,
    // 12]. A matched item at ranks (rA,rB) contributes to every depth
    // ≥ max(rA,rB), so its total weight is the integer SUFFIX sum
    // [1322,362,122,42,12][max−1], summed exactly per query and
    // divided by 2·960 once at the end. Same broadcast shapes as the
    // recall/nDCG entries. ----
    QueryDef("q_eval_pq_rbo", Some {
      import SimilarityQueries.{pqBaseSql, querySetPred}
      s"""WITH $pqBaseSql,
         |nv AS (SELECT vec_id, v, ${normDSql("v")} AS nrm FROM n),
         |brute AS (
         |  SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT * FROM nv WHERE $querySetPred) q
         |    JOIN nv c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k),
         |dtable AS (
         |  SELECT vec_id AS query_id, subspace, code,
         |    CAST(floor(dist * 1000000000) AS BIGINT) AS d_scaled
         |  FROM dists WHERE $querySetPred),
         |adc AS (
         |  SELECT dtable.query_id, codes.vec_id AS candidate_id,
         |    CAST(sum(dtable.d_scaled) AS BIGINT) AS adc_scaled
         |  FROM codes JOIN dtable
         |    ON codes.subspace = dtable.subspace AND codes.code = dtable.code
         |  WHERE codes.vec_id <> dtable.query_id
         |  GROUP BY dtable.query_id, codes.vec_id),
         |adc_top AS (
         |  SELECT query_id, candidate_id, rnk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id
         |      ORDER BY adc_scaled, candidate_id) AS rnk FROM adc)
         |  WHERE rnk <= $k)
         |SELECT a.query_id,
         |  CAST(count(b.neighbor_id) AS BIGINT) AS n_common,
         |  CAST(sum(CASE WHEN b.neighbor_id IS NULL THEN 0
         |    ELSE CASE greatest(a.rnk, b.rnk)
         |      WHEN 1 THEN 1322 WHEN 2 THEN 362 WHEN 3 THEN 122
         |      WHEN 4 THEN 42 ELSE 12 END END) AS BIGINT) AS rbo5_scaled,
         |  CAST(sum(CASE WHEN b.neighbor_id IS NULL THEN 0
         |    ELSE CASE greatest(a.rnk, b.rnk)
         |      WHEN 1 THEN 1322 WHEN 2 THEN 362 WHEN 3 THEN 122
         |      WHEN 4 THEN 42 ELSE 12 END END) AS DOUBLE) / 1920.0 AS rbo5
         |FROM adc_top a LEFT JOIN brute b
         |  ON b.query_id = a.query_id AND b.neighbor_id = a.candidate_id
         |GROUP BY a.query_id""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, pqAdcTop, vecs}
        val brute = bruteTopK(vecs(s, d), k)
        val adcTop = pqAdcTop(s, d, k)
        val suffix = Seq(1 -> 1322L, 2 -> 362L, 3 -> 122L, 4 -> 42L)
          .foldRight(lit(12L): org.apache.spark.sql.Column) {
            case ((m, v), acc) =>
              when(greatest(col("a.rnk"), col("b.rnk")) === m, lit(v))
                .otherwise(acc)
          }
        val wsum = sum(when(col("b.neighbor_id").isNull, 0L).otherwise(suffix))
        adcTop.alias("a")
          .join(brute.alias("b"),
            col("b.query_id") === col("a.query_id") &&
              col("b.neighbor_id") === col("a.candidate_id"), "left")
          .groupBy(col("a.query_id").as("query_id"))
          .agg(count(col("b.neighbor_id")).cast("bigint").as("n_common"),
            wsum.cast("bigint").as("rbo5_scaled"),
            (wsum.cast("double") / lit(1920.0)).as("rbo5"))
      }),

    // ---- recall@5 vs nprobe for the IVF coarse quantizer: the
    // quality/cost knob of an inverted-file index measured IN the
    // engine. For nprobe ∈ {1,2,4}, candidates are the vectors in the
    // query's nprobe nearest cells (exact integer-scaled centroid
    // distances — same routing as q_ann_ivfpq_search), scored with
    // EXACT cosine (so this isolates coarse-quantizer loss from PQ
    // loss), top-5 per (nprobe, query), then corpus-level recall
    // against brute force. Routing + per-query candidate frames are
    // query-set-sized → broadcast; the corpus never shuffles. One row
    // per nprobe: the curve an operator reads to pick the knob. ----
    QueryDef("q_eval_ivf_nprobe_recall", Some {
      import SimilarityQueries.{pqBaseSql, querySetPred}
      s"""WITH $pqBaseSql,
         |nv AS (SELECT vec_id, label, v, ${normDSql("v")} AS nrm FROM n),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC, c.vec_id) AS rnk
         |    FROM (SELECT * FROM nv WHERE $querySetPred) q
         |    JOIN nv c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k),
         |qcnt AS (SELECT count(*) AS nq FROM nv WHERE $querySetPred),
         |route AS (
         |  SELECT query_id, cell, probe_rank FROM (
         |    SELECT vec_id AS query_id, code AS cell,
         |      row_number() OVER (PARTITION BY vec_id
         |        ORDER BY d_cell, code) AS probe_rank
         |    FROM (SELECT vec_id, code,
         |            CAST(sum(CAST(floor(dist * 1000000000) AS BIGINT)) AS BIGINT) AS d_cell
         |          FROM dists WHERE $querySetPred GROUP BY vec_id, code))
         |  WHERE probe_rank <= 4),
         |cand AS (
         |  SELECT r.query_id, r.probe_rank, c.vec_id AS candidate_id,
         |    ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS sim
         |  FROM route r
         |  JOIN nv c ON c.label = r.cell AND c.vec_id <> r.query_id
         |  JOIN nv q ON q.vec_id = r.query_id),
         |ivftop AS (
         |  SELECT np, query_id, candidate_id FROM (
         |    SELECT nps.np, c2.query_id, c2.candidate_id,
         |      row_number() OVER (PARTITION BY nps.np, c2.query_id
         |        ORDER BY c2.sim DESC, c2.candidate_id) AS rnk
         |    FROM cand c2
         |    JOIN (SELECT CAST(1 AS BIGINT) AS np UNION ALL SELECT 2
         |          UNION ALL SELECT 4) nps
         |      ON c2.probe_rank <= nps.np)
         |  WHERE rnk <= $k)
         |SELECT i.np, CAST(count(b.neighbor_id) AS BIGINT) AS hits,
         |  count(b.neighbor_id) / (${k}.0 * qcnt.nq) AS recall_at_$k
         |FROM ivftop i
         |LEFT JOIN brute b ON b.query_id = i.query_id
         |  AND b.neighbor_id = i.candidate_id
         |CROSS JOIN qcnt
         |GROUP BY i.np, qcnt.nq""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, pqBase, querySetPred, vecs}
        val n = vecs(s, d)
        val q = n.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("v").as("qv"),
            col("nrm").as("qn"))
        val brute = bruteTopK(n, k)
        val qcnt = q.agg(count(lit(1)).as("nq"))
        val (dists, _) = pqBase(s, d)
        val routeW = Window.partitionBy(col("vec_id"))
          .orderBy(col("d_cell").asc, col("code").asc)
        val route = dists.where(expr(querySetPred))
          .groupBy(col("vec_id"), col("code"))
          .agg(sum(floor(col("dist") * 1000000000L).cast("bigint")).as("d_cell"))
          .withColumn("probe_rank", row_number().over(routeW))
          .where(col("probe_rank") <= 4)
          .select(col("vec_id").as("query_id"), col("code").as("cell"),
            col("probe_rank"))
        val cand = n.select(col("vec_id").as("candidate_id"), col("label"),
            col("v").as("cv"), col("nrm").as("cn"))
          .join(broadcast(route), col("label") === col("cell") &&
            col("candidate_id") =!= col("query_id"))
          .join(broadcast(q), Seq("query_id"))
          .withColumn("sim",
            GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
          .select(col("query_id"), col("probe_rank"), col("candidate_id"),
            col("sim"))
        val wI = Window.partitionBy(col("np"), col("query_id"))
          .orderBy(col("sim").desc, col("candidate_id").asc)
        val ivfTop = cand
          .withColumn("np", explode(array(lit(1L), lit(2L), lit(4L))))
          .where(col("probe_rank") <= col("np"))
          .withColumn("rnk", row_number().over(wI))
          .where(col("rnk") <= k)
          .select(col("np"), col("query_id"), col("candidate_id"))
        ivfTop.alias("i")
          .join(brute.alias("b"),
            col("b.query_id") === col("i.query_id") &&
              col("b.neighbor_id") === col("i.candidate_id"), "left")
          .crossJoin(broadcast(qcnt))
          .groupBy(col("i.np").as("np"), col("nq"))
          .agg(count(col("b.neighbor_id")).as("hits"))
          .select(col("np"), col("hits"),
            (col("hits") / (lit(k.toDouble) * col("nq"))).as(s"recall_at_$k"))
      }),

    // ---- mean reciprocal rank of the IVF ranking vs the exact
    // nearest neighbor — the position-sensitive companion to
    // recall@k (recall says the NN was found; MRR says WHERE). The
    // true NN is brute rank 1 per query; its reciprocal rank inside
    // the query's IVF cell ranking enters the mean as the exact
    // integer 1e9 DIV rank (a double sum of 1/rank values would be
    // addition-order-dependent — the scaled-integer sum is not), a
    // cell miss contributes 0, and the final MRR is ONE double
    // division. Scale shape: brute leg = broadcast query batch ×
    // corpus into a rank-1 cut (the exact-oracle shape, whitelisted);
    // IVF leg ranks only within the query's cell. ----
    // ---- recall@5 of DIMENSION-TRUNCATED cosine vs full cosine:
    // the Matryoshka/MRL design question — how much ranking quality
    // survives keeping only the first 16 of 64 dims (4× cheaper
    // distance math and memory)? Both legs are the whitelisted
    // broadcast-query-set brute shape; the truncated leg slices the
    // SAME vectors and renormalizes, so the comparison isolates the
    // dimensionality choice. Per query: hits among the exact top-5.
    // Scale: query-set-sized output, corpus never shuffles; this is
    // an AUDIT query — run it on a sample before committing the
    // production index to truncated vectors. ----
    QueryDef("q_eval_dim_truncation_recall", Some {
      import SimilarityQueries.querySetPred
      def rankCte(src: String, out: String) =
        s"""$out AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
           |          c.vec_id) AS rnk
           |    FROM (SELECT * FROM $src WHERE $querySetPred) q
           |    JOIN $src c ON c.vec_id <> q.vec_id)
           |  WHERE rnk <= $k)""".stripMargin
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
         |  FROM embeddings),
         |f AS (SELECT vec_id, v0 AS v, ${normDSql("v0")} AS nrm FROM base),
         |t AS (SELECT vec_id, v0[1:16] AS v, ${normDSql("v0[1:16]")} AS nrm
         |      FROM base),
         |${rankCte("f", "full_top")},
         |${rankCte("t", "trunc_top")}
         |SELECT ft.query_id, count(tt.neighbor_id) AS n_hits,
         |  count(tt.neighbor_id) / ${k}.0 AS recall_at_$k
         |FROM full_top ft LEFT JOIN trunc_top tt
         |  ON tt.query_id = ft.query_id AND tt.neighbor_id = ft.neighbor_id
         |GROUP BY ft.query_id""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, vecs}
        val full = vecs(s, d).select(col("vec_id"), col("v"), col("nrm"))
        val trunc = vecs(s, d)
          .select(col("vec_id"), slice(col("v"), 1, 16).as("v"))
          .withColumn("nrm", GraftFunctions.norm(col("v")))
        bruteTopK(full, k).alias("ft")
          .join(bruteTopK(trunc, k).alias("tt"),
            col("tt.query_id") === col("ft.query_id") &&
              col("tt.neighbor_id") === col("ft.neighbor_id"), "left")
          .groupBy(col("ft.query_id").as("query_id"))
          .agg(count(col("tt.neighbor_id")).as("n_hits"),
            (count(col("tt.neighbor_id")) / lit(k.toDouble))
              .as(s"recall_at_$k"))
      }),

    // ---- recall@5 of BINARY-QUANTIZED (1-bit-per-dim) Hamming
    // ranking vs full cosine: the other memory-compression axis
    // (q_eval_dim_truncation_recall cuts DIMS; BQ cuts PRECISION —
    // 64 dims × 4 B → 2 longs, 16× smaller, and distance becomes two
    // XOR+popcounts). Sign masks pack dims 1–32 / 33–64 into two
    // BIGINTs; the Hamming ranking is pure-integer, so even the
    // approximate leg's order is bit-oracled. Per query: hits among
    // the exact top-5. Scale: the audit is the whitelisted broadcast
    // brute shape; the PRODUCTION win is that a BQ scan reads 16×
    // fewer bytes and codegen's popcount — this entry measures what
    // that costs in recall before an index commits to it. ----
    QueryDef("q_eval_bq_recall", Some {
      import SimilarityQueries.querySetPred
      def maskSql(lo: Int) =
        s"""list_reduce(list_transform(range(${lo}, ${lo + 32}),
           |  j -> CASE WHEN v0[CAST(j AS INT)] > 0
           |       THEN (CAST(1 AS BIGINT) << CAST(j - $lo AS INT))
           |       ELSE CAST(0 AS BIGINT) END),
           |  (x, y) -> x | y)""".stripMargin
      s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0
         |  FROM embeddings),
         |f AS (SELECT vec_id, v0 AS v, ${normDSql("v0")} AS nrm FROM base),
         |b AS (SELECT vec_id, ${maskSql(1)} AS mlo, ${maskSql(33)} AS mhi
         |      FROM base),
         |full_top AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |          c.vec_id) AS rnk
         |    FROM (SELECT * FROM f WHERE $querySetPred) q
         |    JOIN f c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k),
         |bq_top AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY bit_count(xor(q.mlo, c.mlo))
         |          + bit_count(xor(q.mhi, c.mhi)), c.vec_id) AS rnk
         |    FROM (SELECT * FROM b WHERE $querySetPred) q
         |    JOIN b c ON c.vec_id <> q.vec_id)
         |  WHERE rnk <= $k)
         |SELECT ft.query_id, count(bt.neighbor_id) AS n_hits,
         |  count(bt.neighbor_id) / ${k}.0 AS recall_at_$k
         |FROM full_top ft LEFT JOIN bq_top bt
         |  ON bt.query_id = ft.query_id AND bt.neighbor_id = ft.neighbor_id
         |GROUP BY ft.query_id""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{bruteTopK, querySetPred, vecs}
        val fullTop = bruteTopK(vecs(s, d), k)
        def mask(lo: Int) = expr(
          s"aggregate(sequence($lo, ${lo + 31}), 0L, (x, j) -> " +
            s"x + CASE WHEN element_at(v, CAST(j AS INT)) > 0 " +
            s"THEN shiftleft(CAST(1 AS BIGINT), CAST(j - $lo AS INT)) " +
            s"ELSE 0L END)")
        val bq = vecs(s, d).select(col("vec_id"),
          mask(1).as("mlo"), mask(33).as("mhi"))
        val qb = bq.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("mlo").as("qlo"),
            col("mhi").as("qhi"))
        val cb = bq.select(col("vec_id").as("neighbor_id"), col("mlo"),
          col("mhi"))
        // Hamming distance, negated so the nearest ranks first
        val bqScored = broadcast(qb)
          .join(cb, col("neighbor_id") =!= col("query_id"))
          .withColumn("neg_hd",
            (-(bit_count(col("qlo").bitwiseXOR(col("mlo"))) +
              bit_count(col("qhi").bitwiseXOR(col("mhi"))))).cast("double"))
        val bqTop = ExactTopK.topK(bqScored, Seq("query_id"), "neg_hd",
          "neighbor_id", k)
        fullTop.alias("ft")
          .join(bqTop.alias("bt"),
            col("bt.query_id") === col("ft.query_id") &&
              col("bt.neighbor_id") === col("ft.neighbor_id"), "left")
          .groupBy(col("ft.query_id").as("query_id"))
          .agg(count(col("bt.neighbor_id")).as("n_hits"),
            (count(col("bt.neighbor_id")) / lit(k.toDouble))
              .as(s"recall_at_$k"))
      }),

    QueryDef("q_eval_mrr", Some {
      import SimilarityQueries.querySetPred
      s"""WITH n AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |brute1 AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |          c.vec_id) AS rnk
         |    FROM (SELECT * FROM n WHERE $querySetPred) q
         |    JOIN n c ON c.vec_id <> q.vec_id)
         |  WHERE rnk = 1),
         |ivfrank AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) DESC,
         |        c.vec_id) AS rnk
         |  FROM (SELECT * FROM n WHERE $querySetPred) q
         |  JOIN n c ON c.label = q.label AND c.vec_id <> q.vec_id),
         |hit AS (
         |  SELECT b.query_id, i.rnk FROM brute1 b
         |  LEFT JOIN ivfrank i ON i.query_id = b.query_id
         |    AND i.candidate_id = b.neighbor_id)
         |SELECT count(*) AS n_queries,
         |  CAST(count(rnk) AS BIGINT) AS n_found,
         |  CAST(sum(coalesce(1000000000 // rnk, 0)) AS BIGINT) AS mrr_scaled,
         |  CAST(sum(coalesce(1000000000 // rnk, 0)) AS DOUBLE)
         |    / 1000000000.0 / count(*) AS mrr
         |FROM hit""".stripMargin
    })(
      (s, d) => {
        import SimilarityQueries.{querySetPred, vecs}
        val n = vecs(s, d)
        val q = n.where(expr(querySetPred))
          .select(col("vec_id").as("query_id"), col("label").as("qcell"),
            col("v").as("qv"), col("nrm").as("qn"))
        val c = n.select(col("vec_id").as("candidate_id"), col("label"),
          col("v").as("cv"), col("nrm").as("cn"))
        val brute1 = ExactTopK.topK(
            ExactTopK.scored(q, c, col("candidate_id") =!= col("query_id")),
            Seq("query_id"), "cos_sim", "candidate_id", 1)
          .select(col("query_id"), col("candidate_id").as("neighbor_id"))
        // the full in-cell ranking: a window over the cell equi-join
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos_sim").desc, col("candidate_id").asc)
        val ivfRank = ExactTopK.scored(q, c, col("label") === col("qcell") &&
            col("candidate_id") =!= col("query_id"))
          .withColumn("rnk", row_number().over(w))
          .select(col("query_id"), col("candidate_id"), col("rnk"))
        brute1.alias("b")
          .join(ivfRank.alias("i"),
            col("i.query_id") === col("b.query_id") &&
              col("i.candidate_id") === col("b.neighbor_id"), "left")
          .agg(count(lit(1)).as("n_queries"),
            count(col("i.rnk")).as("n_found"),
            sum(coalesce(expr("1000000000 DIV i.rnk"), lit(0L)))
              .as("mrr_scaled"))
          .select(col("n_queries"), col("n_found"), col("mrr_scaled"),
            (col("mrr_scaled").cast("double") / lit(1e9) / col("n_queries"))
              .as("mrr"))
      }),

    // ---- language-ID confusion matrix + per-class recall: the
    // classifier-audit twin of q_text_langid, built by COMPOSING the
    // catalog — both the Spark plan and the oracle wrap the langid
    // entry itself, so the eval can never drift from the operator it
    // audits. Per-class recall is one exact-integer division; the
    // matrix is a |langs|² aggregate. ----
    QueryDef("q_eval_langid_confusion", Some {
      // composes TextQueries directly (not via Catalog — Catalog.all
      // evaluates THIS defs val, so a byName call here would re-enter
      // the object initializer)
      val inner = QueryDef.requireOracle(TextQueries.defs, "q_text_langid", "q_eval_langid_confusion")
      s"""WITH l AS ($inner)
         |SELECT declared, guess,
         |  count(*) AS n,
         |  CAST(count(CASE WHEN is_match THEN 1 END) AS DOUBLE)
         |    / count(*) AS cell_recall
         |FROM l GROUP BY declared, guess""".stripMargin
    })(
      (s, d) =>
        QueryDef.requireDef(TextQueries.defs, "q_text_langid",
            "q_eval_langid_confusion").fn(s, d)
          .groupBy(col("declared"), col("guess"))
          .agg(count(lit(1)).as("n"),
            (count(when(col("is_match"), 1)).cast("double")
              / count(lit(1))).as("cell_recall"))),

    // ---- near-dup cluster statistics: the dedup RELEASE summary —
    // cluster-size histogram plus the removal rate — composed from
    // the connected-components catalog entry itself (plan and oracle
    // both wrap q_dedup_clusters, so the report can never drift from
    // the clustering it describes). Two tiny aggregates over the
    // |docs|-row label frame. ----
    QueryDef("q_eval_cluster_stats", Some {
      val inner = QueryDef.requireOracle(DedupQueries.defs, "q_dedup_clusters", "q_eval_cluster_stats")
      s"""WITH sizes AS (
         |  SELECT cluster_id, count(*) AS sz
         |  FROM ($inner) l GROUP BY cluster_id)
         |SELECT sz AS cluster_size,
         |  count(*) AS n_clusters,
         |  CAST(sum(sz) AS BIGINT) AS n_docs,
         |  CAST(sum(sz - 1) AS BIGINT) AS n_removable
         |FROM sizes GROUP BY sz""".stripMargin
    })(
      (s, d) =>
        QueryDef.requireDef(DedupQueries.defs, "q_dedup_clusters",
            "q_eval_cluster_stats").fn(s, d)
          .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
          .groupBy(col("sz").as("cluster_size"))
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("sz")).as("n_docs"),
            sum(col("sz") - 1).as("n_removable"))),

    // ---- pass@k (k=5): the standard unbiased estimator
    // 1 − C(n−c, k)/C(n, k) over per-task samples (n attempts, c
    // passes), here tasks = parts and an attempt passes when its
    // lineitem quantity ≥ 25. The binomial ratio is computed as a
    // quotient of EXACT integer falling-factorial products (k=5 →
    // five BIGINT factors per side, far below 2^63 for fixture n),
    // so the only FP op is one IEEE division — oracle-exact. The
    // corpus mean goes through the established scaled-integer-sum
    // pattern (floor(x·10^9 + 0.5) per task, BIGINT sum, one final
    // divide) because a raw avg() of doubles is partition-order-
    // dependent. One shuffle for the per-task agg, a single-row
    // reduce for the mean — the eval costs one pass at any corpus
    // size. ----
    QueryDef("q_eval_pass_at_k", Some(
      """WITH o AS (
        |  SELECT l_partkey AS task, count(*) AS n,
        |    count(CASE WHEN l_quantity >= 25 THEN 1 END) AS c
        |  FROM lineitem GROUP BY 1 HAVING count(*) >= 5),
        |e AS (
        |  SELECT task, n, c,
        |    CASE WHEN n - c < 5 THEN CAST(1.0 AS DOUBLE)
        |         ELSE 1.0 - CAST((n-c)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4) AS DOUBLE)
        |                  / CAST(n*(n-1)*(n-2)*(n-3)*(n-4) AS DOUBLE)
        |    END AS pass_at_5
        |  FROM o)
        |SELECT count(*) AS n_tasks, CAST(sum(n) AS BIGINT) AS n_samples,
        |  CAST(sum(c) AS BIGINT) AS n_passes,
        |  CAST(sum(CAST(floor(pass_at_5 * 1000000000 + 0.5) AS BIGINT)) AS BIGINT)
        |    AS pass_at_5_e9_sum
        |FROM e""".stripMargin))(
      (s, d) => {
        val o = graft.Tables(s, d, "lineitem")
          .groupBy(col("l_partkey").as("task"))
          .agg(count(lit(1)).as("n"),
            count(when(col("l_quantity") >= 25, 1)).as("c"))
          .where(col("n") >= 5)
        val f = col("n") - col("c")
        val failAll = (f * (f - 1) * (f - 2) * (f - 3) * (f - 4)).cast("double") /
          (col("n") * (col("n") - 1) * (col("n") - 2) * (col("n") - 3) *
            (col("n") - 4)).cast("double")
        o.withColumn("pass_at_5",
            when(f < 5, lit(1.0)).otherwise(lit(1.0) - failAll))
          .agg(count(lit(1)).as("n_tasks"), sum(col("n")).as("n_samples"),
            sum(col("c")).as("n_passes"),
            sum(floor(col("pass_at_5") * 1000000000 + 0.5).cast("bigint"))
              .as("pass_at_5_e9_sum"))
      }),

    // ---- exact ROC-AUC via the Mann-Whitney U rank-sum, per class.
    // The classifier audit every filtering model (quality scorer,
    // langid, toxicity) gets before its threshold ships: label =
    // urgent-priority order, score = order value in exact cents. Ties
    // use the standard midrank; everything stays in integer space
    // (2·ranksum is integral), so the AUC numerator is oracled as a
    // BIGINT and the only FP op is one final division — identically
    // rounded in both engines. Scale: per-score-group histogram (one
    // shuffle), then the sharded two-phase cumsum from
    // q_agg_decile_bounds — window parallelism scales with the value
    // range, NOT the number of classes; no corpus-sized sort on 3
    // tasks. ----
    QueryDef("q_eval_auc", Some(
      """WITH t AS (
        |  SELECT o_orderstatus AS grp,
        |    CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS sc,
        |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
        |  FROM orders),
        |g AS (SELECT grp, sc, count(*) AS c, CAST(sum(pos) AS BIGINT) AS p
        |      FROM t GROUP BY grp, sc),
        |r AS (SELECT grp, c, p,
        |        sum(c) OVER (PARTITION BY grp ORDER BY sc) AS cum FROM g),
        |a AS (SELECT grp,
        |        CAST(sum(p*(2*cum - c + 1)) AS BIGINT) AS r2,
        |        CAST(sum(p) AS BIGINT) AS n_pos,
        |        CAST(sum(c) AS BIGINT) AS n
        |      FROM r GROUP BY grp)
        |SELECT grp, n_pos, (n - n_pos) AS n_neg,
        |  (r2 - n_pos*(n_pos+1)) AS auc_num2,
        |  CASE WHEN n_pos = 0 OR n = n_pos THEN NULL
        |       ELSE CAST(r2 - n_pos*(n_pos+1) AS DOUBLE)
        |            / (2*n_pos*(n - n_pos)) END AS auc
        |FROM a""".stripMargin))(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val t = graft.Tables(s, d, "orders").select(
          col("o_orderstatus").as("grp"),
          floor(col("o_totalprice") * 100 + 0.5).cast("bigint").as("sc"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
            .as("pos"))
        val g = t.groupBy(col("grp"), col("sc"))
          .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
          .withColumn("shard", expr("sc DIV 65536"))
        // two-phase cumsum: within-shard window + broadcast shard offsets
        val wLoc = Window.partitionBy(col("grp"), col("shard"))
          .orderBy(col("sc"))
        val local = g.withColumn("lcum", sum(col("c")).over(wLoc))
        val wSh = Window.partitionBy(col("grp")).orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = g.groupBy(col("grp"), col("shard"))
          .agg(sum(col("c")).as("tot"))
          .withColumn("off", coalesce(sum(col("tot")).over(wSh), lit(0L)))
          .select(col("grp"), col("shard"), col("off"))
        val r = local.join(broadcast(offs), Seq("grp", "shard"))
          .withColumn("cum", col("lcum") + col("off"))
        r.groupBy(col("grp"))
          .agg(
            sum(col("p") * (lit(2) * col("cum") - col("c") + 1))
              .cast("bigint").as("r2"),
            sum(col("p")).cast("bigint").as("n_pos"),
            sum(col("c")).cast("bigint").as("n"))
          .select(col("grp"), col("n_pos"),
            (col("n") - col("n_pos")).as("n_neg"),
            (col("r2") - col("n_pos") * (col("n_pos") + 1)).as("auc_num2"),
            when(col("n_pos") === 0 || col("n") === col("n_pos"), lit(null))
              .otherwise(
                (col("r2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
                  / (lit(2) * col("n_pos") * (col("n") - col("n_pos"))))
              .as("auc"))
      }),

    // ---- inter-annotator agreement (Cohen's kappa) between two
    // label sources — here two deterministic quality heuristics
    // (char-length vs token-count gates), the audit run before
    // trusting weak labels for filter training. Chance-corrected
    // agreement stays in exact integer space: kappa = (n·agree −
    // Σ marginal products) / (n² − Σ marginal products), emitted as
    // BIGINT numerator/denominator plus the one-division double.
    // Scale: one scan, one 4-cell agg — the confusion matrix is
    // map-side-combined regardless of corpus size. ----
    QueryDef("q_eval_kappa", Some(
      """WITH t AS (
        |  SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a,
        |    CASE WHEN len(string_split(trim(text), ' ')) >= 50
        |         THEN 1 ELSE 0 END AS b
        |  FROM documents),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(a*b) AS BIGINT) AS n11,
        |        CAST(sum((1-a)*(1-b)) AS BIGINT) AS n00,
        |        CAST(sum(a*(1-b)) AS BIGINT) AS n10,
        |        CAST(sum((1-a)*b) AS BIGINT) AS n01
        |      FROM t)
        |SELECT n, n11, n00, n10, n01,
        |  (n*(n11+n00) - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10)))
        |    AS kappa_num,
        |  (n*n - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))) AS kappa_den,
        |  CAST(n*(n11+n00) - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))
        |       AS DOUBLE)
        |    / (n*n - ((n11+n10)*(n11+n01) + (n00+n01)*(n00+n10))) AS kappa
        |FROM c""".stripMargin))(
      (s, d) => {
        val t = graft.Tables(s, d, "documents").select(
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("a"),
          when(size(split(trim(col("text")), " ")) >= 50, 1L).otherwise(0L)
            .as("b"))
        val c = t.agg(
          count(lit(1)).as("n"),
          sum(col("a") * col("b")).cast("bigint").as("n11"),
          sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).cast("bigint")
            .as("n00"),
          sum(col("a") * (lit(1L) - col("b"))).cast("bigint").as("n10"),
          sum((lit(1L) - col("a")) * col("b")).cast("bigint").as("n01"))
        val pe = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
          (col("n00") + col("n01")) * (col("n00") + col("n10"))
        val num = col("n") * (col("n11") + col("n00")) - pe
        val den = col("n") * col("n") - pe
        c.select(col("n"), col("n11"), col("n00"), col("n10"), col("n01"),
          num.as("kappa_num"), den.as("kappa_den"),
          (num.cast("double") / den).as("kappa"))
      }),

    // ---- calibration / reliability curve: bucket a score into 10
    // equal-width bins (exact integer cents grid — the same
    // broadcast-min/max + floor-division shape as q_layout_zorder)
    // and report the observed positive rate per bin. The companion
    // to q_eval_auc: AUC says the score RANKS well, the reliability
    // curve says whether its VALUES mean what they claim — the check
    // run before using a quality score as a sampling weight. One
    // scalar agg broadcast back + one 10-key hash agg; the only FP
    // op is the final per-bin division. ----
    QueryDef("q_eval_calibration", Some(
      """WITH t AS (
        |  SELECT CAST(floor(c_acctbal*100 + 0.5) AS BIGINT) AS cents,
        |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS pos
        |  FROM customer),
        |st AS (SELECT min(cents) AS lo, max(cents) AS hi FROM t),
        |b AS (SELECT CAST(floor(((cents - lo) * 10.0) / ((hi - lo) + 1))
        |             AS BIGINT) AS bin, pos
        |      FROM t, st)
        |SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
        |  CAST(sum(pos) AS DOUBLE) / count(*) AS pos_rate
        |FROM b GROUP BY bin""".stripMargin))(
      (s, d) => {
        val t = graft.Tables(s, d, "customer").select(
          floor(col("c_acctbal") * 100 + 0.5).cast("bigint").as("cents"),
          when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
            .as("pos"))
        val st = t.agg(min(col("cents")).as("lo"), max(col("cents")).as("hi"))
        t.crossJoin(broadcast(st))
          .select(
            expr("CAST(floor(((cents - lo) * 10.0) / ((hi - lo) + 1)) AS BIGINT)")
              .as("bin"),
            col("pos"))
          .groupBy(col("bin"))
          .agg(count(lit(1)).as("n"),
            sum(col("pos")).cast("bigint").as("n_pos"),
            (sum(col("pos")).cast("double") / count(lit(1))).as("pos_rate"))
      }),

    // ---- LSH recall audit: what fraction of the TRUE ≥0.6-Jaccard
    // pairs does the banded minhash index actually surface — the
    // knob-tuning number (bands × rows) an operator reads before
    // trusting the subquadratic dedup path over the exact PPJoin one.
    // Composes the catalog's OWN operators on both sides: exact pairs
    // from the q_dedup_ngram_jaccard definition, candidate pairs from
    // the q_dedup_minhash_lsh pipeline (whose verify stage makes them
    // a SUBSET of the exact pairs — the anti-join still counts misses
    // rather than assuming it). Oracle reuses the factored cluster CTE
    // chain verbatim (its `pairs` CTE IS the verified LSH pair set),
    // so the eval cannot drift from the operators it audits. Output is
    // one row: counts + the single-division recall. ----
    QueryDef("q_eval_lsh_recall", Some(
      s"""WITH RECURSIVE ${DedupQueries.clustersPairsCte},
         |exact AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE ${DedupQueries.jaccardSqlPair}
         |    >= ${DedupQueries.jaccardThreshold})
         |SELECT
         |  (SELECT count(*) FROM exact) AS n_exact,
         |  (SELECT count(*) FROM pairs) AS n_lsh,
         |  (SELECT count(*) FROM exact e
         |   WHERE NOT EXISTS (SELECT 1 FROM pairs p
         |                     WHERE p.da = e.da AND p.db = e.db)) AS n_missed,
         |  CAST((SELECT count(*) FROM pairs) AS DOUBLE)
         |    / (SELECT count(*) FROM exact) AS recall""".stripMargin))(
      (s, d) => {
        val exact = QueryDef.requireDef(DedupQueries.defs,
            "q_dedup_ngram_jaccard", "q_eval_lsh_recall").fn(s, d)
          .select(col("doc_a").as("da"), col("doc_b").as("db")).persist()
        val lsh = QueryDef.requireDef(DedupQueries.defs,
            "q_dedup_minhash_lsh", "q_eval_lsh_recall").fn(s, d)
          .select(col("doc_a").as("da"), col("doc_b").as("db")).persist()
        val missed = exact.join(lsh, Seq("da", "db"), "left_anti")
          .agg(count(lit(1)).as("n_missed"))
        exact.agg(count(lit(1)).as("n_exact"))
          .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
          .crossJoin(missed)
          .select(col("n_exact"), col("n_lsh"), col("n_missed"),
            (col("n_lsh").cast("double") / col("n_exact")).as("recall"))
      }),

    // ---- reciprocal-rank fusion (RRF, k=60) of a sparse and a dense
    // retrieval leg — the hybrid-search primitive every retrieval-
    // augmented data pipeline runs: BM25 over `documents` (the shared
    // log-free [[TextQueries.bm25CtesSql]] leg, fixed 3-term query)
    // fused with embedding-cosine against one fixed query vector
    // (vec_id 0; doc_id and vec_id are 1:1 in the fixture). Each leg
    // is ranked top-50 independently, then fused on the doc key with
    // score Σ 1/(60+rank) — each term ONE double division of exact
    // integers, added in fixed leg order, so the fused ranking is
    // bit-identical across engines. A leg miss contributes 0 (the
    // full-outer join keeps single-leg docs, their missing rank NULL).
    // Scale shape: both legs end in TakeOrderedAndProject (per-
    // partition heaps — no global sort of either corpus); the fusion
    // join and final window touch ≤100 rows. ----
    QueryDef("q_eval_rrf", Some(
      s"""WITH ${TextQueries.bm25CtesSql},
         |stop AS (SELECT doc_id, score FROM bmagg WHERE score > 0
         |         ORDER BY score DESC, doc_id LIMIT 50),
         |srank AS (SELECT doc_id, CAST(row_number() OVER
         |    (ORDER BY score DESC, doc_id) AS BIGINT) AS rank_sparse
         |  FROM stop),
         |nv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         |  ${normDSql("CAST(embedding AS DOUBLE[])")} AS nrm FROM embeddings),
         |qv AS (SELECT v AS q, nrm AS qn FROM nv WHERE vec_id = 0),
         |dense AS (
         |  SELECT nv.vec_id, ${dotDSql("qv.q", "nv.v")} / (qv.qn * nv.nrm) AS cos
         |  FROM nv CROSS JOIN qv WHERE nv.vec_id <> 0),
         |dtop AS (SELECT vec_id, cos FROM dense
         |         ORDER BY cos DESC, vec_id LIMIT 50),
         |drank AS (SELECT vec_id, CAST(row_number() OVER
         |    (ORDER BY cos DESC, vec_id) AS BIGINT) AS rank_dense
         |  FROM dtop),
         |fused AS (
         |  SELECT coalesce(s.doc_id, d.vec_id) AS doc_id,
         |    s.rank_sparse, d.rank_dense,
         |    coalesce(1.0 / (60 + s.rank_sparse), 0.0)
         |      + coalesce(1.0 / (60 + d.rank_dense), 0.0) AS rrf_score
         |  FROM srank s FULL OUTER JOIN drank d ON s.doc_id = d.vec_id)
         |SELECT doc_id, rank_sparse, rank_dense, rrf_score,
         |  CAST(row_number() OVER (ORDER BY rrf_score DESC, doc_id)
         |    AS BIGINT) AS fused_rank
         |FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20""".stripMargin))(
      (s, d) => {
        val sTop = TextQueries.bm25Scores(s, d)
          .where(col("score") > 0)
          .orderBy(col("score").desc, col("doc_id").asc).limit(50)
        val sRank = sTop.select(col("doc_id"),
          row_number().over(graft.ops.BoundedWindow.ordered(col("score").desc,
            col("doc_id").asc)).cast("bigint").as("rank_sparse"))
        val nv = graft.Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .withColumn("nrm", GraftFunctions.norm(col("v")))
        val qv = nv.where(col("vec_id") === 0)
          .select(col("v").as("q"), col("nrm").as("qn"))
          .limit(1) // vec_id unique ⇒ exact; proves the broadcast side
                    // bounded to the catalog-wide plan guard
        val dense = nv.where(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .select(col("vec_id"),
            (GraftFunctions.dot(col("q"), col("v"))
              / (col("qn") * col("nrm"))).as("cos"))
        val dTop = dense.orderBy(col("cos").desc, col("vec_id").asc).limit(50)
        val dRank = dTop.select(col("vec_id"),
          row_number().over(graft.ops.BoundedWindow.ordered(col("cos").desc,
            col("vec_id").asc)).cast("bigint").as("rank_dense"))
        val fused = sRank
          .join(dRank, sRank("doc_id") === dRank("vec_id"), "full_outer")
          .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
            col("rank_sparse"), col("rank_dense"),
            (coalesce(lit(1.0) / (lit(60) + col("rank_sparse")), lit(0.0))
              + coalesce(lit(1.0) / (lit(60) + col("rank_dense")), lit(0.0)))
              .as("rrf_score"))
        fused
          .withColumn("fused_rank", row_number().over(
            graft.ops.BoundedWindow.ordered(col("rrf_score").desc, col("doc_id").asc))
            .cast("bigint"))
          .orderBy(col("rrf_score").desc, col("doc_id").asc).limit(20)
      }),

    // ---- per-class precision / recall / F1 + the macro summary,
    // composed from the langid catalog entry (plan and oracle both
    // wrap q_text_langid, so the scorecard can never drift from the
    // classifier it audits). Exact integer counts per class: tp from
    // the declared-side aggregate, fp = guessed − tp, fn = declared −
    // tp (full-outer join of the two marginals covers classes that
    // are never guessed or never declared). Every ratio is a single
    // exact-integer division — F1 in particular is 2tp/(2tp+fp+fn),
    // NOT 2PR/(P+R), so it too is one division. The __MACRO__ row
    // carries micro totals plus macro averages via the established
    // floor(x·1e9+0.5) scaled-sum pattern (a raw avg() of doubles is
    // partition-order-dependent). Scale: two |classes|-row aggregates
    // and a |classes|-row join — corpus cost is the one langid scan. ----
    QueryDef("q_eval_macro_f1", Some {
      val inner = QueryDef.requireOracle(
        graft.queries.TextQueries.defs, "q_text_langid", "q_eval_macro_f1")
      s"""WITH l AS ($inner),
         |dec AS (
         |  SELECT declared AS class, CAST(count(*) AS BIGINT) AS n_dec,
         |    CAST(count(CASE WHEN is_match THEN 1 END) AS BIGINT) AS tp
         |  FROM l GROUP BY declared),
         |gue AS (
         |  SELECT guess AS class, CAST(count(*) AS BIGINT) AS n_gue
         |  FROM l GROUP BY guess),
         |j AS (
         |  SELECT coalesce(d.class, g.class) AS class,
         |    coalesce(d.tp, 0) AS tp,
         |    coalesce(g.n_gue, 0) - coalesce(d.tp, 0) AS fp,
         |    coalesce(d.n_dec, 0) - coalesce(d.tp, 0) AS fn
         |  FROM dec d FULL OUTER JOIN gue g ON d.class = g.class),
         |m AS (
         |  SELECT class, tp, fp, fn,
         |    CASE WHEN tp + fp = 0 THEN NULL
         |         ELSE CAST(tp AS DOUBLE) / (tp + fp) END AS prec,
         |    CASE WHEN tp + fn = 0 THEN NULL
         |         ELSE CAST(tp AS DOUBLE) / (tp + fn) END AS rec,
         |    CASE WHEN 2*tp + fp + fn = 0 THEN NULL
         |         ELSE CAST(2*tp AS DOUBLE) / (2*tp + fp + fn) END AS f1
         |  FROM j)
         |SELECT class, tp, fp, fn, prec, rec, f1 FROM m
         |UNION ALL
         |SELECT '__MACRO__' AS class,
         |  CAST(sum(tp) AS BIGINT) AS tp, CAST(sum(fp) AS BIGINT) AS fp,
         |  CAST(sum(fn) AS BIGINT) AS fn,
         |  CAST(sum(CAST(floor(prec*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (count(prec) * 1000000000) AS prec,
         |  CAST(sum(CAST(floor(rec*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (count(rec) * 1000000000) AS rec,
         |  CAST(sum(CAST(floor(f1*1000000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (count(f1) * 1000000000) AS f1
         |FROM m""".stripMargin
    })(
      (s, d) => {
        val l = QueryDef.requireDef(graft.queries.TextQueries.defs,
            "q_text_langid", "q_eval_macro_f1").fn(s, d)
        val dec = l.groupBy(col("declared").as("class"))
          .agg(count(lit(1)).as("n_dec"),
            count(when(col("is_match"), 1)).as("tp"))
        val gue = l.groupBy(col("guess").as("gclass"))
          .agg(count(lit(1)).as("n_gue"))
        val j = dec.join(gue, col("class") === col("gclass"), "full_outer")
          .select(coalesce(col("class"), col("gclass")).as("class"),
            coalesce(col("tp"), lit(0L)).as("tp"),
            (coalesce(col("n_gue"), lit(0L)) - coalesce(col("tp"), lit(0L)))
              .as("fp"),
            (coalesce(col("n_dec"), lit(0L)) - coalesce(col("tp"), lit(0L)))
              .as("fn"))
        val m = j.select(col("class"), col("tp"), col("fp"), col("fn"),
          when(col("tp") + col("fp") === 0, lit(null))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fp")))
            .as("prec"),
          when(col("tp") + col("fn") === 0, lit(null))
            .otherwise(col("tp").cast("double") / (col("tp") + col("fn")))
            .as("rec"),
          when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(null))
            .otherwise((lit(2) * col("tp")).cast("double")
              / (lit(2) * col("tp") + col("fp") + col("fn")))
            .as("f1")).persist() // per-class rows + the macro fold
        def macroAvg(c: String) =
          (sum(floor(col(c) * 1000000000 + 0.5).cast("bigint")).cast("double")
            / (count(col(c)) * 1000000000)).as(c)
        m.unionAll(m.agg(
          sum(col("tp")).cast("bigint").as("tp"),
          sum(col("fp")).cast("bigint").as("fp"),
          sum(col("fn")).cast("bigint").as("fn"),
          macroAvg("prec"), macroAvg("rec"), macroAvg("f1"))
          .select(lit("__MACRO__").as("class"), col("tp"), col("fp"),
            col("fn"), col("prec"), col("rec"), col("f1")))
      })
  )
}
