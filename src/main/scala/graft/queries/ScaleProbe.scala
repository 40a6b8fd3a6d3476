package graft.queries

import graft.{Catalog, SessionConf, Tables}
import graft.ops.TextOps
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Empirical scaling probe for the dedup + ANN families (VERDICT r5
  * item 5): measures wall time, shuffle-write bytes, CANDIDATE counts
  * and result counts for `q_dedup_ngram_jaccard` (PPJoin prefix
  * filtering), `q_dedup_minhash_lsh` (banded inverted index),
  * `q_ann_brute_topk` (exact baseline — quadratic by definition) and
  * `q_ann_ivf_label` (cell-restricted search) at sf0.01 / sf0.1 and a
  * synthesized sf1-scale corpus (50k docs / 64k vectors), so the
  * "near-linear at 100 TB" claim rests on data points, not just plan
  * shape.
  *
  * The sf1 corpus is 10 replicas of the sf0.1 documents where replica
  * r > 0 suffixes every token with `_r`. Each replica therefore keeps
  * the original's internal near-dup structure EXACTLY (same shingle
  * set geometry, disjoint vocabulary across replicas), so a 10× corpus
  * carries exactly 10× the true duplicate pairs — the ideal yardstick:
  * a scale-safe candidate generator should produce ~10× candidates and
  * ~10× output, never ~100× (which is what an all-pairs design yields).
  *
  * Usage: runMain graft.queries.ScaleProbe [outDir]
  * Prints one JSON line per (scale, query) measurement.
  */
object ScaleProbe {

  /** Tracks the MAXIMUM per-task shuffle-read volume — the straggler
    * reducer a skewed join creates (stage-level sums hide it). */
  private final class TaskMaxMeter extends SparkListener {
    val maxRecords = new AtomicLong
    val maxBytes = new AtomicLong
    private def raise(a: AtomicLong, v: Long): Unit = {
      var cur = a.get()
      while (v > cur && !a.compareAndSet(cur, v)) cur = a.get()
    }
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        raise(maxRecords, m.shuffleReadMetrics.recordsRead)
        raise(maxBytes, m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  /** Sums shuffle-write bytes/records across completed stages. */
  private final class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong
    val records = new AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      }
    }
  }

  /** Replicate the sf0.1 documents 10× with per-replica token renaming
    * (disjoint vocabularies — see class doc) into `outDir/documents
    * .parquet`. Deterministic: a pure function of the input corpus. */
  private def buildSf1(spark: SparkSession, sf01Dir: String, outDir: String): Unit = {
    val docs = Tables(spark, sf01Dir, "documents")
    val replicas = (0 until 10).map { r =>
      val renamed =
        if (r == 0) docs
        else docs.withColumn("text",
          concat_ws(" ", transform(split(trim(col("text")), " "),
            t => concat(t, lit(s"_$r")))))
      renamed.withColumn("doc_id", col("doc_id") + lit(r * 1000000L))
    }
    replicas.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** Candidate-pair count of the PPJoin prefix join — the same
    * prefix/size-ratio/positional filters as q_dedup_ngram_jaccard
    * (DedupQueries.scala:166-194), counted before the verify stage. */
  private def ngramCandidates(spark: SparkSession, dir: String): Long = {
    val sh = DedupQueries.docShingles(spark, dir).persist()
    // the SAME index builder the query uses (broadcast-dictionary
    // ranking) — shared so this probe cannot drift from the plan
    val prefix = DedupQueries.prefixIndex(sh).persist()
    val n = prefix.alias("a")
      .join(prefix.alias("b"), col("a.shingle") === col("b.shingle") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.sz") * 3 <= col("b.sz") * 5 &&
        col("b.sz") * 3 <= col("a.sz") * 5 &&
        (lit(1) + least(col("a.sz") - col("a.pos") - 1,
          col("b.sz") - col("b.pos") - 1)) >=
          expr("(3*(a.sz + b.sz) + 7) div 8"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct().count()
    prefix.unpersist(); sh.unpersist()
    n
  }

  /** Duplicated (doc, window-position) count — the stream entering
    * q_dedup_substring_spans' run-length grouping, and its only
    * per-doc-windowed exchange. Tracks the corpus's DUPLICATED bytes:
    * on the 10×-replica corpus it must grow ~×10 (each replica keeps
    * the original's cross-doc duplication, vocabularies are disjoint),
    * never ~×100. */
  private def substringDupWindows(spark: SparkSession, dir: String): Long = {
    import graft.functions.GraftFunctions
    val wins = Tables(spark, dir, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
      .select(col("doc_id"),
        posexplode(GraftFunctions.shingleHashes(col("w"), 16, TextOps.P))
          .as(Seq("i", "h")))
    val dup = wins.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select(col("h"))
    wins.join(dup, "h").select(col("doc_id"), col("i")).distinct().count()
  }

  /** Candidate-pair count of the LSH band-bucket join — same banding
    * as q_dedup_minhash_lsh (DedupQueries.scala:303-318). */
  private def lshCandidates(spark: SparkSession, dir: String): Long = {
    import graft.functions.GraftFunctions
    val sh = DedupQueries.docShingles(spark, dir)
    val sig = sh.select(col("doc_id"), GraftFunctions.minhashSig(col("sh")).as("sig"))
    val bands = sig.select(col("doc_id"), posexplode(
      array((0 until TextOps.numBands).map { b =>
        concat_ws("_", transform(
          slice(col("sig"), b * TextOps.bandRows + 1, TextOps.bandRows),
          x => x.cast("string")))
      }: _*)).as(Seq("band", "key")))
      .persist()
    val n = bands.alias("x")
      .join(bands.alias("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("da"), col("y.doc_id").as("db"))
      .distinct().count()
    bands.unpersist()
    n
  }

  /** Replicate the sf0.1 embeddings 10× (vec_id offset per replica,
    * dimension 0 shifted by the replica index so replicas are not
    * byte-identical). Labels are offset per replica (disjoint cell ids)
    * — modeling what a real IVF deployment does at 10× corpus: re-train
    * with ~10× the centroids so CELL SIZE stays constant and per-query
    * scanned candidates stay flat, while brute force grows ×100. */
  private def buildSf1Embeddings(spark: SparkSession, sf01Dir: String,
      outDir: String): Unit = {
    val vecs = Tables(spark, sf01Dir, "embeddings")
    val replicas = (0 until 10).map { r =>
      vecs.withColumn("vec_id", col("vec_id") + lit(r * 1000000L))
        .withColumn("label", col("label") + lit(r * 1000))
        .withColumn("embedding",
          concat(array((element_at(col("embedding"), 1) + lit(r.toFloat))
            .cast("float")), slice(col("embedding"), 2, 63)))
    }
    replicas.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  /** Scanned-candidate count of the ANN paths: brute force examines
    * every (query, non-self corpus vector) pair by SEMANTICS
    * (q_ann_brute_topk's join); IVF examines only the query's own
    * coarse cell minus self (q_ann_ivf_label's join). Computed
    * arithmetically from the data — the contrast (×100 vs ×10 at a
    * 10× corpus) is the routing rule the 100 TB design rests on. */
  private def annCandidates(spark: SparkSession, dir: String,
      brute: Boolean): Long = {
    val vecs = Tables(spark, dir, "embeddings")
    val nq = vecs.where(col("vec_id") % 100 === 0).count()
    if (brute) nq * (vecs.count() - 1)
    else {
      val cells = vecs.groupBy(col("label")).agg(count(lit(1)).as("sz"))
      vecs.where(col("vec_id") % 100 === 0)
        .join(cells, "label")
        .agg(sum(col("sz"))).head().getLong(0) - nq
    }
  }

  /** Replicate the sf0.1 events 10× with disjoint user/event ids per
    * replica (same timestamps): 10× users ⇒ the sliding-distinct and
    * growth-accounting outputs scale exactly 10×, so a linear design
    * shows ×10 intermediate rows, never ×100. */
  private def buildSf1Events(spark: SparkSession, sf01Dir: String,
      outDir: String): Unit = {
    val ev = Tables(spark, sf01Dir, "events")
    val replicas = (0 until 10).map { r =>
      ev.withColumn("user_id", col("user_id") + lit(r * 1000000000L))
        .withColumn("event_id", col("event_id") + lit(r * 1000000000L))
    }
    replicas.reduce(_ unionByName _)
      .repartition(32)
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
  }

  /** Intermediate-size counter for the events family: the deduped
    * (user, active-day) incidence frame — the unit both the 7-day
    * cover explode (×7 exactly) and the day-shift self-join fan out
    * from. Linear in true activity, independent of raw event count. */
  private def userDayCandidates(spark: SparkSession, dir: String): Long = {
    val usPerDay = 86400000000L
    Tables(spark, dir, "events")
      .select(col("user_id"),
        (unix_micros(col("ts")).cast("bigint") / usPerDay).cast("bigint")
          .as("day"))
      .distinct().count()
  }

  /** Intermediate-size counter for q_events_cohort_ltv: the
    * (cohort, day-offset) purchase frame — the input of the running-
    * sum window. Bounded by distinct (first-day, offset) shapes, NOT
    * by users: on the disjoint-user sf1 replicas (same timestamps) it
    * stays constant while users grow ×10. */
  private def cohortOffsetCandidates(spark: SparkSession, dir: String): Long = {
    val usPerDay = 86400000000L
    val day = (unix_micros(col("ts")).cast("bigint") / usPerDay).cast("bigint")
    val ev = Tables(spark, dir, "events")
    val fu = ev.groupBy(col("user_id")).agg(min(day).as("fday"))
    ev.where(col("event_type") === "purchase")
      .join(fu, "user_id")
      .select(col("fday"), (day - col("fday")).as("off"))
      .distinct().count()
  }

  /** Wedge-bound probe for triangle counting on a synthetic skewed
    * graph: a hub at id n/2 adjacent to every node, plus a ring. The
    * wedge join's intermediate is sum over v of indeg(v)·outdeg(v).
    * Id-orientation (src < dst) splits the hub's edges half-in /
    * half-out → (n/2)² wedges at the hub alone (quadratic in hub
    * degree); (deg, id)-orientation turns every hub edge INWARD
    * (the hub has max degree) → 0 wedges at the hub, O(n) total.
    * Returns (edges, wedges_id_orient, wedges_deg_orient). */
  private[queries] def wedgeProbe(spark: SparkSession, n: Int): (Long, Long, Long) = {
    import spark.implicits._
    val hub = n / 2
    val star = (0 until n).filter(_ != hub)
      .map(i => (math.min(i, hub).toLong, math.max(i, hub).toLong))
    val ring = (0 until n)
      .map(i => (math.min(i, (i + 1) % n).toLong, math.max(i, (i + 1) % n).toLong))
    val und = (star ++ ring).distinct.toDF("p1", "p2")
      .repartition(8).localCheckpoint(true)
    val deg = und.select(col("p1").as("node"))
      .unionAll(und.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    def wedges(e: org.apache.spark.sql.DataFrame): Long = {
      val od = e.groupBy(col("src")).agg(count(lit(1)).as("od"))
      val id = e.groupBy(col("dst")).agg(count(lit(1)).as("ind"))
      od.join(id, col("src") === col("dst"))
        .agg(coalesce(sum(col("od") * col("ind")), lit(0L)))
        .head().getLong(0)
    }
    val byId = und.select(col("p1").as("src"), col("p2").as("dst"))
    val lowFirst = col("d1") <= col("d2")
    val byDeg = und
      .join(deg.select(col("node").as("p1"), col("dg").as("d1")), "p1")
      .join(deg.select(col("node").as("p2"), col("dg").as("d2")), "p2")
      .select(when(lowFirst, col("p1")).otherwise(col("p2")).as("src"),
        when(lowFirst, col("p2")).otherwise(col("p1")).as("dst"))
    (und.count(), wedges(byId), wedges(byDeg))
  }

  /** Link-prediction wedge probe on the hub graph (closed form —
    * Σ_z C(deg(z), 2) needs no join): without the hub cap the hub
    * alone contributes C(n−1, 2) candidate wedges (quadratic in n);
    * with the deg ≤ 1000 cap of q_graph_link_predict the hub drops
    * out and the count is ring+spoke-bounded (linear). Returns
    * (edges, wedges_uncapped, wedges_capped). */
  private[queries] def linkWedgeProbe(spark: SparkSession, n: Int): (Long, Long, Long) = {
    import spark.implicits._
    val hub = n / 2
    val star = (0 until n).filter(_ != hub)
      .map(i => (math.min(i, hub).toLong, math.max(i, hub).toLong))
    val ring = (0 until n)
      .map(i => (math.min(i, (i + 1) % n).toLong, math.max(i, (i + 1) % n).toLong))
    val und = (star ++ ring).distinct.toDF("p1", "p2")
      .repartition(8).localCheckpoint(true)
    val deg = und.select(col("p1").as("node"))
      .unionAll(und.select(col("p2").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("dg"))
    def wedges(d: org.apache.spark.sql.DataFrame): Long =
      d.agg(coalesce(sum(col("dg") * (col("dg") - 1) / 2), lit(0L))
        .cast("long")).head().getLong(0)
    (und.count(), wedges(deg), wedges(deg.where(col("dg") <= 1000)))
  }

  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_scale")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)

    val wantsSf1 = sys.env.get("SPARK_GRAFT_PROBE_ONLY").forall(only =>
      only.split(",").map(_.trim)
        .exists(n => n != "skew_salted" && n != "graph_wedges" &&
          n != "link_wedges" && n != "rank_sharded"))
    if (wantsSf1) {
      buildSf1(spark, "/root/testdata/sf0.1", s"$outDir/sf1")
      buildSf1Embeddings(spark, "/root/testdata/sf0.1", s"$outDir/sf1")
      buildSf1Events(spark, "/root/testdata/sf0.1", s"$outDir/sf1")
    }
    val scales = Seq(
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1",
      "sf1" -> s"$outDir/sf1")
    // (query, input table, candidate counter)
    val allProbes: Seq[(String, String, (SparkSession, String) => Long)] = Seq(
      ("q_dedup_ngram_jaccard", "documents", ngramCandidates),
      ("q_dedup_substring_spans", "documents", substringDupWindows),
      ("q_dedup_minhash_lsh", "documents", lshCandidates),
      ("q_ann_brute_topk", "embeddings", annCandidates(_, _, brute = true)),
      ("q_ann_ivf_label", "embeddings", annCandidates(_, _, brute = false)),
      ("q_events_rolling_distinct", "events", userDayCandidates),
      ("q_events_growth", "events", userDayCandidates),
      ("q_events_cohort_ltv", "events", cohortOffsetCandidates),
      // e2e DAG: the probe's sec/shuffle_bytes ARE the measurement
      // (the r8 persist-boundary fix was measured only at sf0.1; the
      // sf1 line shows whether the whole pipeline stays ~linear). The
      // counter is corpus size — the pipeline's work unit.
      ("q_corpus_export_e2e", "documents",
        (s: SparkSession, dir: String) =>
          Tables(s, dir, "documents").count()),
      // novelty's only exchange-bound frame: the exploded distinct-
      // hash inverted index. On the ×10 replica corpus (disjoint
      // vocabularies) it must grow ~×10 — the join-back fan-out is
      // per-shingle-instance, never cross-replica.
      ("q_text_novelty", "documents",
        (s: SparkSession, dir: String) =>
          Tables(s, dir, "documents")
            .select(explode(array_distinct(
              graft.functions.GraftFunctions.shingleHashes(
                TextOps.tokens(col("text")), 5, TextOps.P))).as("h"))
            .count()))
    val probes = allProbes.filter { case (q, _, _) =>
      sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .forall(_.split(",").map(_.trim).contains(q))
    }

    // warmup (JIT/codegen) on the smallest scale
    probes.foreach { case (q, _, _) =>
      Catalog.byName(q).fn(spark, scales.head._2)
        .write.mode("overwrite").format("noop").save()
    }
    spark.catalog.clearCache()

    for ((sfName, dir) <- scales; (q, table, candFn) <- probes) {
      val nRows = Tables(spark, dir, table).count()
      val cands = candFn(spark, dir)
      spark.catalog.clearCache()
      val b0 = meter.bytes.get(); val r0 = meter.records.get()
      val t0 = System.nanoTime()
      val out = Catalog.byName(q).fn(spark, dir)
      val nOut = out.count()
      val secs = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(s"""{"probe":"$q","scale":"$sfName","rows":$nRows,""" +
        s""""candidates":$cands,"result_rows":$nOut,"sec":$secs,""" +
        s""""shuffle_bytes":${meter.bytes.get() - b0},""" +
        s""""shuffle_records":${meter.records.get() - r0}}""")
    }
    def probeEnabled(name: String): Boolean =
      sys.env.get("SPARK_GRAFT_PROBE_ONLY")
        .forall(_.split(",").map(_.trim).contains(name))

    // skew-salting probe: per-task shuffle spread of the sentinel-hot
    // join, plain vs the catalog's salted routing. Forces the SMJ path
    // (autoBroadcastJoinThreshold=-1 — modeling the big⋈big case where
    // broadcasting is not an option); the statistic is the MAX task
    // shuffle-read record count — the straggler reducer. Salting must
    // cut it ~8× on the hot key at identical output.
    if (probeEnabled("skew_salted")) {
      val dir = "/root/testdata/sf0.1"
      // coalescing off: at fixture scale AQE coalesces the whole
      // shuffle into ONE task, which hides per-reducer skew — at 100 TB
      // partitions are above the advisory size and coalescing leaves
      // them alone
      SessionConf.withConfs(spark, Map(
          "spark.sql.autoBroadcastJoinThreshold" -> Some("-1"),
          "spark.sql.adaptive.coalescePartitions.enabled" -> Some("false"))) {
        val ev = Tables(spark, dir, "events")
        val sentinel = when(col("user_id") % 10 === 0, lit(-1L))
          .otherwise(col("user_id"))
        val c = ev.where(col("event_type") === "click")
          .select(sentinel.as("user_id"),
            floor(col("value") * 100 + 0.5).cast("bigint").as("c_cents"))
        val v = ev.where(col("event_type") === "view")
          .select(sentinel.as("user_id"),
            floor(col("value") * 100 + 0.5).cast("bigint").as("v_cents"))
        val plain = c.join(v, Seq("user_id"))
          .groupBy(lit(1).as("g"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(col("c_cents") + col("v_cents")).as("sum_cents"))
        val salted = Catalog.byName("q_join_skew_salted").fn(spark, dir)
        for ((name, df) <- Seq("plain" -> plain, "salted" -> salted)) {
          val tm = new TaskMaxMeter
          spark.sparkContext.addSparkListener(tm)
          val t0 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          val secs = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.removeSparkListener(tm)
          println(s"""{"probe":"skew_salted","plan":"$name",""" +
            s""""max_task_shuffle_records":${tm.maxRecords.get()},""" +
            s""""max_task_shuffle_bytes":${tm.maxBytes.get()},"sec":$secs}""")
        }
      }
    }

    // sharded-rank probe: per-task sort spread of an exact global
    // row_number, plain unpartitioned window vs ShardedRank (the
    // q_window_ntile / q_events_rfm rewrite). The statistic is the MAX
    // task shuffle-read record count — the plain form funnels EVERY
    // row into one WindowExec task; the sharded form's largest task
    // carries one shard. AQE coalescing off for the same reason as
    // the skew probe (at fixture scale it folds the sharded exchange
    // back into one task and hides the spread).
    if (probeEnabled("rank_sharded")) {
      val dir = "/root/testdata/sf0.1"
      SessionConf.withConfs(spark,
          Map("spark.sql.adaptive.coalescePartitions.enabled" -> Some("false"))) {
        import org.apache.spark.sql.expressions.Window
        val rows = Tables(spark, dir, "lineitem")
          .select(col("l_orderkey").as("id"),
            floor(col("l_extendedprice") * 100 + 0.5).cast("bigint")
              .as("cents"),
            col("l_linenumber").as("ln"))
        val plain = rows.withColumn("rn", row_number().over(
          Window.orderBy(col("cents").desc, col("id").asc, col("ln").asc)))
          .groupBy(lit(1).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("rn")).as("rn_sum"))
        val sharded = graft.ops.ShardedRank.rowNumber(rows,
          Seq(expr("cents DIV 65536")), Seq(true),
          Seq(col("cents").desc, col("id").asc, col("ln").asc), "rn")
          .groupBy(lit(1).as("g"))
          .agg(count(lit(1)).as("n"), sum(col("rn")).as("rn_sum"))
        for ((name, df) <- Seq("plain" -> plain, "sharded" -> sharded)) {
          val tm = new TaskMaxMeter
          spark.sparkContext.addSparkListener(tm)
          val t0 = System.nanoTime()
          val checksum = df.collect().head.getLong(2)
          val secs = (System.nanoTime() - t0) / 1e9
          spark.sparkContext.removeSparkListener(tm)
          println(s"""{"probe":"rank_sharded","plan":"$name",""" +
            s""""rn_checksum":$checksum,""" +
            s""""max_task_shuffle_records":${tm.maxRecords.get()},""" +
            s""""max_task_shuffle_bytes":${tm.maxBytes.get()},"sec":$secs}""")
        }
      }
    }

    // orientation probe: one line per graph size — the deg-orient
    // wedge count must stay linear while id-orient goes quadratic
    if (probeEnabled("graph_wedges")) for (n <- Seq(1000, 2000, 4000)) {
      val (edges, wId, wDeg) = wedgeProbe(spark, n)
      println(s"""{"probe":"triangle_wedges","n":$n,"edges":$edges,""" +
        s""""wedges_id_orient":$wId,"wedges_deg_orient":$wDeg}""")
    }
    // link-prediction hub-cap probe: uncapped wedge candidates grow
    // quadratically with hub degree; the deg ≤ 1000 cap keeps them
    // linear in the graph size
    if (probeEnabled("link_wedges")) for (n <- Seq(1000, 2000, 4000)) {
      val (edges, wAll, wCap) = linkWedgeProbe(spark, n)
      println(s"""{"probe":"link_predict_wedges","n":$n,"edges":$edges,""" +
        s""""wedges_uncapped":$wAll,"wedges_capped":$wCap}""")
    }
    // bloom-prefilter probe: fixed m = 2^20 bits against a growing
    // eval split — the false-positive tally is the sizing signal
    // (when the eval window count approaches m the filter saturates
    // and n_false_pos → n_windows − n_true; m must scale with |eval|)
    if (probeEnabled("bloom_prefilter")) for ((sfName, dir) <- scales) {
      val r = Catalog.byName("q_dedup_bloom_prefilter").fn(spark, dir)
        .agg(sum(col("n_windows")).as("w"), sum(col("n_bloom_hits")).as("h"),
          sum(col("n_true")).as("t"), sum(col("n_false_pos")).as("fp"))
        .head()
      spark.catalog.clearCache()
      println(s"""{"probe":"bloom_prefilter","scale":"$sfName",""" +
        s""""windows":${r.getLong(0)},"bloom_hits":${r.getLong(1)},""" +
        s""""true_members":${r.getLong(2)},"false_pos":${r.getLong(3)}}""")
    }
    spark.stop()
  }
}
