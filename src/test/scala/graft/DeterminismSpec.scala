package graft

import graft.SessionConf.withConfs

/** Partition-layout invariance: the engine's central reproducibility
  * claim is that every catalog result is a pure function of the DATA —
  * not of partition count, task scheduling, or merge order. The
  * DuckDB gate proves Spark==DuckDB at one layout; this spec proves
  * Spark==Spark across layouts for the operators whose algebra makes
  * order-independence a non-trivial engineering property (integer-
  * scaled centroid sums, sketch merges, exact moments, minhash
  * signatures, window-free aggregation). */
class DeterminismSpec extends SparkSpecBase {

  private val queries = Seq(
    "q_vector_centroids",    // LongVecSumAgg partial-merge order
    "q_sketch_theta_setops", // KMV merge order
    "q_agg_covar_exact",     // decimal moment accumulation
    "q_dedup_minhash_lsh",   // signature + band-join build order
    "q_pack_sequences",      // two-phase cumsum shard offsets
    "q_events_anomaly",      // integer-cent moments
    "q_tpch_q5",             // decimal revenue accumulation
    "q_dedup_incremental",   // delta-vs-base candidate generation
    "q_events_gini",         // sharded-cumsum rank-sum identity
    "q_agg_weighted_median", // sharded weighted histogram-rank
    "q_migrate_cdc_apply",   // LWW max(seq) + shuffle-hash join-back
    "q_text_quality_qnorm",  // unioned-curve forward as-of lookup
    "q_graph_label_prop",    // majority-vote tie-break under layouts
    "q_text_bm25",           // fixed-order double addition + top-k cut
    "q_text_bpe_encode",     // per-round top-pair tie-break + replace
    "q_events_rolling_distinct", // double-dedup cover under layouts
    "q_eval_pq_rbo",         // two rank lists + suffix weights
    "q_eval_rrf",            // two top-k cuts + fixed-order fusion sum
    "q_sample_importance",   // hashed-bucket weight sums under layouts
    "q_graph_link_predict",  // wedge aggregation + RA integer sums
    "q_dedup_bloom_prefilter", // set-bit dedup + probe-join build order
    "q_ann_ivf_incremental", // integer-scaled centroid sums + argmin route
    "q_events_ks_test",      // sharded-cumsum ECDF deviation + argmax
    "q_eval_macro_f1",       // scaled-integer macro fold over class rows
    "q_multimodal_phash",    // banded fingerprint self-join build order
    "q_corpus_epoch_shuffle", // two-phase sharded rank offsets under layouts
    "q_text_kn_bigram",      // broadcast continuation-count joins
    "q_join_skew_salted",    // salted hot lane ∪ cold lane merge order
    // the REAL streaming runs: each layout must REBUILD (their
    // FrameCache keys carry spark.sql.shuffle.partitions — without
    // that this test would serve the first layout's memoized frame
    // and vacuously compare it to itself), and the state machines'
    // emissions must not depend on the session layout
    "q_stream_sessionize_run", // fmgws state machine + staged replay
    "q_stream_cdc_run",        // LWW transformWithState + commit protocol
    "q_stream_attribution_run", // watermarked stream-stream interval join
    "q_stream_recent_run")     // last-n ring buffer: cross-batch ORDER under layouts

  private def canon(name: String): Seq[String] = {
    val df = Catalog.byName(name).fn(spark, sfDir)
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*)
      .collect().map(_.toString).sorted.toSeq
  }

  for (q <- queries)
    test(s"$q is invariant to shuffle partition count") {
      def canonAt(parts: String) =
        withConfs(spark, Map("spark.sql.shuffle.partitions" -> Some(parts)))(canon(q))
      try {
        val a = canonAt("4")
        spark.catalog.clearCache()
        val b = canonAt("7")
        assert(a.nonEmpty)
        assert(a === b, s"$q changed results across partition layouts")
      } finally spark.catalog.clearCache()
    }
}
