package graft.queries

import graft.{QueryDef, Tables}
import graft.multimodal.{FakeDecoder, Media}
import graft.ops.ExactTopK
import org.apache.spark.sql.functions._

/** Multimodal binary-column queries (north-star extension). The
  * SQL-oracled entry checks the binary plumbing Spark-side against
  * DuckDB (byte lengths, hex heads, md5 fingerprints over the same
  * payload bytes); the decode-stage entry exercises the full
  * mapPartitions pipeline with the deterministic fake decoder (no SQL
  * twin — the decoder is engine-local — so the driver records a
  * rows-only check).
  */
object MultimodalQueries {

  /** The FakeDecoder twin: FNV-1a over payload bytes as a DuckDB fold
    * over character codes (ASCII corpus ⇒ bytes). Shared by every
    * oracle that needs decode-stage outputs. */
  private val fnvCte =
    """f AS (
      |  SELECT doc_id,
      |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
      |         WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
      |    octet_length(encode(text)) AS n_bytes,
      |    list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
      |      list_transform(range(1, length(text)+1),
      |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |      (h, b) -> (xor(h, b) * 16777619) % 4294967296) AS h
      |  FROM documents)""".stripMargin

  /** Shared by the row lane and the Arrow lane — both decode stages
    * must produce exactly this. */
  private val decodeOracle =
    s"""WITH $fnvCte
      |SELECT doc_id AS media_id, modality, n_bytes,
      |  CAST(h % 640 + 1 AS INT) AS width,
      |  CAST((h // 256) % 480 + 1 AS INT) AS height,
      |  CASE WHEN modality = 'image' THEN 0 ELSE h % 60000 + 1 END AS duration_ms,
      |  h AS checksum
      |FROM f""".stripMargin

  /** Shared perceptual-hash CTE chain (image universe → 8×8 pixel
    * sample → 56-bit row-gradient fp → 4×14-bit Hamming-LSH bands) —
    * factored so q_multimodal_phash and q_multimodal_phash_dedup
    * share ONE text and cannot drift. */
  private lazy val phashBandsCte: String =
    """img AS (
      |  SELECT doc_id AS media_id, text, length(text) AS n
      |  FROM documents WHERE doc_id % 3 = 0),
      |g AS (
      |  SELECT media_id,
      |    list_transform(range(0, 64),
      |      k -> ascii(substr(text, CAST((k * n) // 64 AS INT) + 1, 1)))
      |      AS px
      |  FROM img),
      |h AS (
      |  SELECT media_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(0, 56), k ->
      |        CASE WHEN px[CAST((k // 7) * 8 + (k % 7) AS INT) + 1]
      |                  > px[CAST((k // 7) * 8 + (k % 7) AS INT) + 2]
      |             THEN CAST(1 AS BIGINT) << CAST(k AS INT)
      |             ELSE CAST(0 AS BIGINT) END)),
      |      (a, b) -> a + b) AS fp
      |  FROM g),
      |bands AS (SELECT media_id, fp, unnest(range(0, 4)) AS band FROM h),
      |bk AS (SELECT media_id, fp, band,
      |         (fp >> CAST(band * 14 AS INT)) & 16383 AS key FROM bands)"""
      .stripMargin

  /** Spark twin of [[phashBandsCte]]'s `h`: (media_id, fp). */
  private def phashFp(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "documents")
      .where(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").as("media_id"), col("text"),
        length(col("text")).as("n"))
      .withColumn("px", expr("transform(sequence(0, 63)," +
        " k -> ascii(substr(text, CAST((k * n) DIV 64 AS INT) + 1, 1)))"))
      .withColumn("fp", expr("""aggregate(sequence(0, 55), 0L, (a, k) ->
        a + CASE WHEN element_at(px, CAST((k DIV 7) * 8 + (k % 7) AS INT) + 1)
                    > element_at(px, CAST((k DIV 7) * 8 + (k % 7) AS INT) + 2)
                 THEN shiftleft(1L, CAST(k AS INT)) ELSE 0L END)"""))
      .select(col("media_id"), col("fp"))

  /** Spark twin of [[phashBandsCte]]'s `bk`. */
  private def phashBands(fp: org.apache.spark.sql.DataFrame) =
    fp.select(col("media_id"), col("fp"), posexplode(
      array((0 until 4).map(b =>
        shiftright(col("fp"), b * 14).bitwiseAND(lit(16383L))): _*))
      .as(Seq("band", "key")))

  val defs: Seq[QueryDef] = Seq(

    // ---- binary column plumbing, oracle-checked ----
    QueryDef("q_multimodal_meta", Some(
      """SELECT doc_id AS media_id,
        |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |       WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
        |  octet_length(encode(text)) AS n_bytes,
        |  upper(hex(encode(substr(text, 1, 8)))) AS head_hex,
        |  md5(text) AS content_md5
        |FROM documents""".stripMargin))(
      (s, d) =>
        Tables(s, d, "documents").select(
          col("doc_id").as("media_id"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
          octet_length(encode(col("text"), "UTF-8")).cast("bigint").as("n_bytes"),
          upper(hex(encode(substring(col("text"), 1, 8), "UTF-8"))).as("head_hex"),
          md5(col("text")).as("content_md5"))),

    // ---- full decode pipeline (mapPartitions, stubbed codec). Even
    // the stub is oracle-gated: FakeDecoder's FNV-1a over the payload
    // bytes is pure integer arithmetic, replicated in the DuckDB twin
    // as a fold over character codes (ASCII corpus ⇒ bytes). ----
    QueryDef("q_multimodal_decode", Some(decodeOracle))(
      (s, d) => {
        val media = Media.fromDocuments(s, d)
        Media.decodeAll(media, FakeDecoder)
          .toDF()
          .select(col("media_id"), col("modality"), col("n_bytes"),
            col("width"), col("height"), col("duration_ms"), col("checksum"))
      }),

    // ---- the same decode through the Arrow-vectorized lane
    // (mapInArrow-shaped batches; see graft.multimodal.ArrowDecode).
    // Same oracle as the row lane — the two stages must agree byte
    // for byte. ----
    QueryDef("q_multimodal_decode_arrow", Some(decodeOracle))(
      (s, d) =>
        graft.multimodal.ArrowDecode.decode(Media.fromDocuments(s, d).toDF()))
  ,

    // ---- temporal frame sampling: expand each audio/video payload
    // into the 1 Hz frame-extraction work list — one row per sampled
    // timestamp, keyed by a content-addressed md5 so retries and
    // dedup of the (expensive) extraction stage are idempotent. The
    // expansion is a distributed generate over a computed sequence
    // (no driver round-trip); output fan-out is duration/step per
    // media, exactly the batch shape the decode stage consumes.
    // Durations come from the decode metadata, so the whole work
    // list — including the sampled timestamps — is oracled through
    // the FNV twin. ----
    QueryDef("q_multimodal_framesample", Some(
      s"""WITH $fnvCte,
         |v AS (SELECT doc_id AS media_id, modality,
         |        h % 60000 + 1 AS duration_ms, h
         |      FROM f WHERE modality <> 'image'),
         |s AS (SELECT media_id, modality, duration_ms, h,
         |        unnest(range(0, duration_ms, 1000)) AS ts_ms FROM v)
         |SELECT media_id, modality, duration_ms, ts_ms,
         |  md5(concat(CAST(h AS VARCHAR), ':', CAST(ts_ms AS VARCHAR)))
         |    AS frame_key
         |FROM s""".stripMargin))(
      (s, d) =>
        Media.decodeAll(Media.fromDocuments(s, d), FakeDecoder).toDF()
          .where(col("modality") =!= "image")
          .select(col("media_id"), col("modality"), col("duration_ms"),
            col("checksum"),
            explode(sequence(lit(0L), col("duration_ms") - 1, lit(1000L)))
              .as("ts_ms"))
          .select(col("media_id"), col("modality"), col("duration_ms"),
            col("ts_ms"),
            md5(concat(col("checksum").cast("string"), lit(":"),
              col("ts_ms").cast("string"))).as("frame_key")))
  ,

    // ---- RESIZE (the remaining stage of the decode / feature /
    // resize / frame-sample quartet): 2×2 average pooling of an 8×8
    // pixel grid down to 4×4 — the downsample every image-ingest
    // pipeline runs before featurization. The "pixels" are a
    // deterministic stand-in (payload byte k mod length at grid slot
    // k — the codec is stubbed in this container), but the pooling
    // arithmetic is the real thing: 4-neighbor integer mean with
    // exact DIV 4, an order-weighted integer checksum of the pooled
    // grid, and min/max pooled intensity. Entirely row-local
    // higher-order array functions — no UDF, no shuffle; at 100 TB
    // this stage runs at scan bandwidth next to the decode. ----
    QueryDef("q_multimodal_resize", Some(
      """WITH img AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes,
        |    text
        |  FROM documents WHERE doc_id % 3 = 0),
        |g AS (
        |  SELECT media_id, n_bytes,
        |    list_transform(range(0, 64),
        |      k -> ascii(substr(text, CAST(k % length(text) AS INT) + 1, 1)))
        |      AS px
        |  FROM img),
        |p AS (
        |  SELECT media_id, n_bytes,
        |    list_transform(range(0, 16), j ->
        |      (px[(j // 4) * 16 + (j % 4) * 2 + 1]
        |       + px[(j // 4) * 16 + (j % 4) * 2 + 2]
        |       + px[(j // 4) * 16 + (j % 4) * 2 + 9]
        |       + px[(j // 4) * 16 + (j % 4) * 2 + 10]) // 4) AS pooled
        |  FROM g)
        |SELECT media_id, n_bytes,
        |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(0, 16), j -> (j + 1) * pooled[j + 1])),
        |    (a, b) -> a + b) AS BIGINT) AS pooled_checksum,
        |  CAST(list_min(pooled) AS BIGINT) AS pooled_min,
        |  CAST(list_max(pooled) AS BIGINT) AS pooled_max
        |FROM p""".stripMargin))(
      (s, d) => {
        val img = Tables(s, d, "documents")
          .where(pmod(col("doc_id"), lit(3)) === 0)
          .select(col("doc_id").as("media_id"),
            octet_length(encode(col("text"), "UTF-8")).cast("bigint")
              .as("n_bytes"),
            col("text"))
        // element_at is 1-based like DuckDB's list[i]; pool cell j
        // covers grid rows 2·(j div 4), cols 2·(j mod 4)
        img
          .withColumn("px", expr("transform(sequence(0, 63)," +
            " k -> ascii(substr(text, CAST(k % length(text) AS INT) + 1, 1)))"))
          .withColumn("pooled", expr("""transform(sequence(0, 15), j ->
            (element_at(px, CAST((j DIV 4) * 16 + (j % 4) * 2 + 1 AS INT))
             + element_at(px, CAST((j DIV 4) * 16 + (j % 4) * 2 + 2 AS INT))
             + element_at(px, CAST((j DIV 4) * 16 + (j % 4) * 2 + 9 AS INT))
             + element_at(px, CAST((j DIV 4) * 16 + (j % 4) * 2 + 10 AS INT)))
            DIV 4)"""))
          .select(col("media_id"), col("n_bytes"),
            expr("CAST(aggregate(sequence(0, 15), 0L," +
              " (a, j) -> a + (j + 1) * element_at(pooled, j + 1)) AS BIGINT)")
              .as("pooled_checksum"),
            expr("CAST(array_min(pooled) AS BIGINT)").as("pooled_min"),
            expr("CAST(array_max(pooled) AS BIGINT)").as("pooled_max"))
      }),

    // ---- decode → ANN: top-3 cosine neighbors over the DECODED
    // feature vectors — the full multimodal-to-similarity pipeline in
    // one oracled query. The stub featurizer derives 8 float32 values
    // from the FNV checksum (b/255f − 0.5f per nibble-pair); the
    // oracle reproduces the float32 rounding exactly via
    // double-compute + CAST(… AS REAL) at each step (verified
    // exhaustively over all 256 byte values: double-then-round equals
    // native float op for this expression). Query side = every 100th
    // media id (broadcasts); candidates scan partitioned — the
    // q_ann_brute_topk plan shape over decoded media. ----
    QueryDef("q_multimodal_knn", Some(knnOracle))(
      (s, d) =>
        knnOver(
          graft.multimodal.Media.decodeAll(Media.fromDocuments(s, d), FakeDecoder)
            .toDF())),

    // ---- the same decode→ANN pipeline fed by the ARROW lane: the
    // feature column crosses the decode boundary as a
    // FixedSizeList(8)<float32> batch (constant stride, no offsets —
    // the layout a native kernel consumes zero-copy) and the ANN
    // query reads it back without re-marshalling. Same oracle as the
    // row lane — the two feeds must agree bitwise. ----
    QueryDef("q_multimodal_knn_arrow", Some(knnOracle))(
      (s, d) =>
        knnOver(
          graft.multimodal.ArrowDecode
            .decodeWithFeatures(Media.fromDocuments(s, d).toDF()))),

    // ---- perceptual-hash (dHash) image near-dup: the standard
    // image-dedup fingerprint — sample a fixed 8×8 intensity grid
    // over the WHOLE payload (position k·len/64, so a small edit
    // anywhere moves few samples), emit one bit per horizontal
    // adjacent-pixel comparison (8 rows × 7 = 56 bits), then find
    // near-dup candidates by simhash-style banding: 4 bands × 14
    // bits, candidates collide on any band, verify = popcount of the
    // fingerprint XOR. All integer arithmetic; the "pixels" are the
    // deterministic codec stand-in (byte intensities), but the
    // fingerprint/banding/verify machinery is the production path.
    // Scale: the corpus never self-joins — candidates come from the
    // banded inverted index (equi-join on (band, key)), exactly the
    // q_dedup_simhash shape; expected collisions per band are
    // n²/2^14-bounded and verified pairs carry an exact hamming
    // distance. ----
    QueryDef("q_multimodal_phash", Some(
      s"""WITH $phashBandsCte
         |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
         |  (bit_count(xor(a.fp, b.fp)) <= 12) AS is_dup
         |FROM bk a JOIN bk b
         |  ON a.band = b.band AND a.key = b.key
         | AND a.media_id < b.media_id""".stripMargin))(
      (s, d) => {
        val fp = phashFp(s, d)
          .persist() // banded self-join reads it twice
        val bands = phashBands(fp)
        bands.alias("x")
          .join(bands.alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.media_id") < col("y.media_id"))
          .select(col("x.media_id").as("media_a"),
            col("y.media_id").as("media_b"),
            bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("bigint")
              .as("hamming"))
          .withColumn("is_dup", col("hamming") <= 12)
          .distinct()
      }),

    // ---- phash near-dup CLUSTERING: the release artifact on top of
    // q_multimodal_phash's pair stream — transitively-linked images
    // (Hamming ≤ 12 through the 4×14-bit band index) grouped under a
    // min-id cluster label with keeper selection, exactly the
    // q_dedup_clusters contract on the image universe. NO all-pairs
    // Hamming anywhere: candidates come only from band-bucket
    // collisions (PlanGuard sweeps this plan like every other), and
    // the clustering loop is the checkpointed pointer-doubling CC in
    // ops.ConnectedComponents, running on the edge-touched subgraph
    // only — singletons rejoin via the final left join. ----
    QueryDef("q_multimodal_phash_dedup", Some(
      s"""WITH RECURSIVE $phashBandsCte,
         |cand AS (
         |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb,
         |    a.fp AS fa, b.fp AS fb
         |  FROM bk a JOIN bk b
         |    ON a.band = b.band AND a.key = b.key
         |   AND a.media_id < b.media_id),
         |dpairs AS (
         |  SELECT ma, mb FROM cand WHERE bit_count(xor(fa, fb)) <= 12),
         |edges AS (SELECT ma AS a, mb AS b FROM dpairs
         |          UNION ALL SELECT mb AS a, ma AS b FROM dpairs),
         |reach AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
         |)
         |SELECT i.media_id,
         |  least(i.media_id, coalesce(min(r.b), i.media_id)) AS cluster_id,
         |  (least(i.media_id, coalesce(min(r.b), i.media_id)) = i.media_id)
         |    AS is_keeper
         |FROM img i LEFT JOIN reach r ON r.a = i.media_id
         |GROUP BY i.media_id""".stripMargin))(
      (s, d) => {
        val fp = phashFp(s, d)
          .persist() // banded self-join + final id universe
        val bands = phashBands(fp)
        val pairs = bands.alias("x")
          .join(bands.alias("y"),
            col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
              col("x.media_id") < col("y.media_id"))
          .select(col("x.media_id").as("ma"), col("y.media_id").as("mb"),
            col("x.fp").as("fa"), col("y.fp").as("fb"))
          .distinct()
          .where(bit_count(col("fa").bitwiseXOR(col("fb"))) <= 12)
          .select(col("ma"), col("mb"))
        val edges = pairs.union(pairs.select(col("mb"), col("ma")))
          .toDF("a", "b").persist()
        val labels = graft.ops.ConnectedComponents.labels(s, edges)
        fp.select(col("media_id"))
          .join(labels, col("media_id") === col("node"), "left")
          .select(col("media_id"),
            coalesce(col("label"), col("media_id")).as("cluster_id"),
            (coalesce(col("label"), col("media_id")) === col("media_id"))
              .as("is_keeper"))
      }),

    // ---- audio frame-energy profile (VAD front-end): the audio
    // universe's payload split into 64-byte frames, per-frame energy
    // = Σ byte codes, then per-file frame count, exact mean (DIV),
    // peak energy + first peak frame (deterministic argmax via
    // array_position), and the count of ABOVE-MEAN frames (the
    // voice-activity proxy — a real VAD thresholds exactly this
    // statistic; the codec is stubbed, the frame/energy/threshold
    // plumbing is the production shape). Entirely row-local
    // higher-order array functions — no UDF, no shuffle: at 100 TB
    // this runs at scan bandwidth like the decode stage. ----
    QueryDef("q_multimodal_audio_energy", Some(
      """WITH a AS (
        |  SELECT doc_id AS media_id, text,
        |    length(text) // 64 AS nf
        |  FROM documents WHERE doc_id % 3 = 1 AND length(text) >= 64),
        |e AS (
        |  SELECT media_id, nf,
        |    list_transform(range(0, nf), k ->
        |      list_reduce(
        |        list_transform(range(1, 65),
        |          i -> CAST(ascii(substr(text, CAST(k * 64 + i AS INT), 1))
        |            AS BIGINT)),
        |        (x, y) -> x + y)) AS en
        |  FROM a)
        |SELECT media_id, CAST(nf AS BIGINT) AS n_frames,
        |  CAST(list_reduce(en, (x, y) -> x + y) AS BIGINT) AS total_energy,
        |  CAST(list_reduce(en, (x, y) -> x + y) // nf AS BIGINT)
        |    AS mean_energy,
        |  CAST(list_max(en) AS BIGINT) AS peak_energy,
        |  CAST(list_position(en, list_max(en)) AS BIGINT) AS peak_frame,
        |  CAST(len(list_filter(en, x ->
        |    x * nf > list_reduce(en, (a2, b2) -> a2 + b2) )) AS BIGINT)
        |    AS n_active
        |FROM e""".stripMargin))(
      (s, d) => {
        val frames = expr("transform(sequence(0, nf - 1), k -> " +
          "aggregate(sequence(1, 64), 0L, " +
          "(x, i) -> x + ascii(substring(text, CAST(k * 64 + i AS INT), 1))))")
        Tables(s, d, "documents")
          .where(col("doc_id") % 3 === 1 && length(col("text")) >= 64)
          .select(col("doc_id").as("media_id"), col("text"),
            expr("length(text) DIV 64").as("nf"))
          .select(col("media_id"), col("nf"), frames.as("en"))
          .select(col("media_id"), col("nf").cast("bigint").as("n_frames"),
            expr("aggregate(en, 0L, (x, y) -> x + y)").as("total_energy"),
            expr("aggregate(en, 0L, (x, y) -> x + y) DIV nf")
              .as("mean_energy"),
            array_max(col("en")).as("peak_energy"),
            array_position(col("en"), array_max(col("en")))
              .as("peak_frame"),
            expr("CAST(size(filter(en, x -> " +
              "x * nf > aggregate(en, 0L, (a2, b2) -> a2 + b2))) AS BIGINT)")
              .as("n_active"))
      })
  )

  /** Top-3 cosine neighbors over a decoded-features frame
    * (media_id, ..., feature float[8]): query side = every 100th id,
    * broadcast; candidates scan stays partitioned — the
    * q_ann_brute_topk plan shape over decoded media. */
  private def knnOver(featsIn: org.apache.spark.sql.DataFrame) = {
    val feats = featsIn
      .select(col("media_id"), col("feature").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.GraftFunctions.norm(col("v")))
      .persist()
    val q = feats.where(expr("media_id % 100 = 0"))
      .select(col("media_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val c = feats.select(col("media_id").as("neighbor_id"),
      col("v").as("cv"), col("nrm").as("cn"))
    ExactTopK.topK(ExactTopK.scored(q, c, col("neighbor_id") =!= col("query_id")),
      Seq("query_id"), "cos_sim", "neighbor_id", 3)
  }

  /** The stub featurizer derives 8 float32 values from the FNV
    * checksum (b/255f − 0.5f per nibble-pair); the oracle reproduces
    * the float32 rounding exactly via double-compute + CAST(… AS REAL)
    * at each step (verified exhaustively over all 256 byte values:
    * double-then-round equals native float op for this expression). */
  private lazy val knnOracle: String = {
      val featSql = (0 until 8).map { k =>
        val shift = 1L << (4 * k)
        s"CAST(CAST(CAST(CAST(CAST((h // $shift) % 256 AS DOUBLE) / 255.0 AS REAL) AS DOUBLE) - 0.5 AS REAL) AS DOUBLE)"
      }.mkString("[", ",\n      ", "]")
      s"""WITH f AS (
         |  SELECT doc_id AS media_id,
         |    list_reduce(list_prepend(CAST(2166136261 AS BIGINT),
         |      list_transform(range(1, length(text)+1),
         |        i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
         |      (h, b) -> (xor(h, b) * 16777619) % 4294967296) AS h
         |  FROM documents),
         |v AS (SELECT media_id, $featSql AS v FROM f),
         |n AS (SELECT media_id, v, ${graft.ops.TextOps.normDSql("v")} AS nrm FROM v),
         |scored AS (
         |  SELECT q.media_id AS query_id, c.media_id AS neighbor_id,
         |    ${graft.ops.TextOps.dotDSql("q.v", "c.v")} / (q.nrm * c.nrm) AS cos_sim
         |  FROM (SELECT * FROM n WHERE media_id % 100 = 0) q
         |  JOIN n c ON c.media_id <> q.media_id)
         |SELECT query_id, neighbor_id, cos_sim, rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, neighbor_id) AS rnk FROM scored)
         |WHERE rnk <= 3""".stripMargin
  }
}
