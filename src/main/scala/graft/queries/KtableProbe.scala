package graft.queries

import graft.pipeline.V2KeyedTableSink
import graft.sources.KeyedTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical probe for the keyed table's round-16 read ladder: builds
  * a table of `commits` commits × 4 write buckets and MEASURES what
  * the manifest machinery buys —
  *
  *  - point lookup: planned files + wall time vs the full scan (bucket
  *    routing should plan one file per commit, never all);
  *  - range probe over the newest commit (min/max stats should plan
  *    one commit's bucket set);
  *  - manifest-metadata aggregate vs counting real rows;
  *  - commit-history listing cost before vs after `compact()` (one
  *    checkpoint body vs N manifest opens).
  *
  * Prints one JSON line per measurement; SCALING.md records the
  * numbers. Usage: runMain graft.queries.KtableProbe [commits] [rowsPerCommit]
  */
object KtableProbe {

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def plannedFiles(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }.sum

  private def emit(fields: (String, Any)*): Unit =
    println(fields.map {
      case (k, v: String) => s""""$k":"$v""""
      case (k, v: Double) => // Locale.ROOT: a comma-decimal default
        // locale would print unparseable "JSON"
        s""""$k":${String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}"))

  def main(args: Array[String]): Unit = {
    val commits = args.lift(0).map(_.toInt).getOrElse(32)
    val per = args.lift(1).map(_.toLong).getOrElse(20000L)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = java.nio.file.Files.createTempDirectory("graft_ktprobe_")
    val t = s"$dir/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    val (_, tLoad) = timed {
      (0 until commits).foreach { c =>
        sink.append(spark.range(c * per, (c + 1) * per)
          .select(col("id").as("k"), concat(lit("v"), col("id")).as("s"),
            (col("id") * 7).as("c")), t)
      }
    }
    val files = KeyedTable.committedFiles(t).size
    emit("probe" -> "load", "commits" -> commits, "rows" -> commits * per,
      "files" -> files, "sec" -> tLoad)

    def read = spark.read.format("graft.sources.KeyedTable").load(t)

    // warm the JIT/fs once
    read.where(col("k") === 1L).collect()

    val (nFull, tFull) = timed(
      read.select(col("s")).where(length(col("s")) > 0).count())
    emit("probe" -> "full_scan", "rows" -> nFull, "files" -> files,
      "sec" -> tFull)

    val key = commits * per / 2 + 7
    val lk = read.where(col("k") === key)
    val (hit, tLk) = timed(lk.collect())
    emit("probe" -> "point_lookup", "hits" -> hit.length,
      "planned_files" -> plannedFiles(lk), "of_files" -> files, "sec" -> tLk)

    val lo = (commits - 1) * per
    val rg = read.where(col("k") >= lo)
    val (nRange, tRange) = timed(rg.count())
    emit("probe" -> "range_newest_commit", "rows" -> nRange,
      "planned_files" -> plannedFiles(rg), "of_files" -> files,
      "sec" -> tRange)

    // NON-key zone maps: c = k*7 is range-correlated with the commit
    // waves, so the newest commit's c-range probe must plan only its
    // files — the reference's own predicate shape (non-key ranges)
    val rgNk = read.where(col("c") >= lo * 7)
    val (nRangeNk, tRangeNk) = timed(rgNk.count())
    emit("probe" -> "range_nonkey_newest_commit", "rows" -> nRangeNk,
      "planned_files" -> plannedFiles(rgNk), "of_files" -> files,
      "sec" -> tRangeNk)

    // pushed LIMIT: plans only enough files to cover k rows
    val lm = read.limit(1000)
    val (nLim, tLim) = timed(lm.count())
    emit("probe" -> "limit_pushdown", "rows" -> nLim,
      "planned_files" -> plannedFiles(lm), "of_files" -> files,
      "sec" -> tLim)

    val ag = read.agg(count(lit(1)).as("n"), min(col("k")).as("lo"),
      max(col("k")).as("hi"))
    val (agRow, tAg) = timed(ag.head)
    emit("probe" -> "manifest_agg", "n" -> agRow.getLong(0), "sec" -> tAg)

    val (_, tListPre) = timed(KeyedTable.committedFiles(t).size)
    val folded = KeyedTable.compact(t)
    val (_, tListPost) = timed(KeyedTable.committedFiles(t).size)
    emit("probe" -> "listing", "manifests_pre" -> folded.size,
      "sec_pre" -> tListPre, "manifests_post" -> 1, "sec_post" -> tListPost)

    // the ladder survives compaction
    val lk2 = read.where(col("k") === key)
    val (hit2, tLk2) = timed(lk2.collect())
    emit("probe" -> "point_lookup_post_compact", "hits" -> hit2.length,
      "planned_files" -> plannedFiles(lk2), "of_files" -> files,
      "sec" -> tLk2)

    // ---- the upsert half: update wave + deletes, then the cost of
    // last-write-wins resolution before and after a snapshot rewrite
    // (what compaction buys a continuously-upserted 100 TB table) ----
    val total = commits * per
    sink.append(spark.range(0, total).where(col("id") % 10 === 0)
      .select(col("id").as("k"), lit("upd").as("s"),
        (col("id") * 11).as("c")), t)
    // the rest of the probe reads with the catalog and v2 bucketing on
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (1, $key)")

      def latest = graft.sources.KeyedTableOps.latest(spark, t)
      val (nLat, tLat) = timed(latest.count())
      val latShuffles = graft.ops.PlanChecks.countShuffles(
        latest.queryExecution.executedPlan)
      emit("probe" -> "latest_pre_rewrite", "rows" -> nLat,
        "live_files" -> KeyedTable.liveFiles(t).size,
        "shuffles" -> latShuffles, "sec" -> tLat)

      val (folded2, tRw) = timed(
        graft.sources.KeyedTableOps.rewriteCompact(spark, t, 0))
      emit("probe" -> "rewrite_compact", "folded" -> folded2.isDefined,
        "sec" -> tRw)

      val (nLat2, tLat2) = timed(latest.count())
      emit("probe" -> "latest_post_rewrite", "rows" -> nLat2,
        "live_files" -> KeyedTable.liveFiles(t).size,
        "sec" -> tLat2)

      val (reclaimed, tVac) = timed(KeyedTable.vacuum(t, graceMs = 0))
      emit("probe" -> "vacuum", "reclaimed_files" -> reclaimed.size,
        "sec" -> tVac)

      // stats-driven auto-compaction: the decision is metadata-only (one
      // _commits listing, zero data bytes); on the just-folded table it
      // must be a cheap no-op
      val (decision, tPol) = timed(graft.sources.KeyedTableOps.maybeCompact(
        spark, t,
        graft.sources.KeyedTableOps.CompactionPolicy(minLiveDataManifests = 8)))
      emit("probe" -> "auto_compact_decision", "folded" -> decision.isDefined,
        "sec" -> tPol)

      // COUNTER table probe — on its OWN table with merge=counter
      // declared (the main `t` is an LWW table; measuring counterTotals
      // on it post-rewrite would sum one surviving row per key, not a
      // counter workload): 8 increment commits per key, the sum-merge
      // read exchange-free through the catalog, then the counter FOLD
      // (additive merge — never LWW) with sums proven unmoved across it
      val tc = s"$dir/tc"
      val incCommits = 8
      (0 until incCommits).foreach { _ =>
        sink.append(spark.range(0, per)
          .select(col("id").as("k"), lit(1L).as("c")), tc)
      }
      graft.sources.KeyedTableOps.declareMerge(tc, "counter")
      def totals = graft.sources.KeyedTableOps.counterTotals(spark, tc, Seq("c"))
      val (sumPre, tCntPre) = timed(
        totals.agg(sum(col("sum_c"))).head.getLong(0))
      emit("probe" -> "counter_totals_pre_fold", "keys" -> per,
        "increments" -> incCommits * per, "sum" -> sumPre,
        "shuffles" -> graft.ops.PlanChecks.countShuffles(
          totals.queryExecution.executedPlan), "sec" -> tCntPre)
      val (_, tFold) = timed(
        graft.sources.KeyedTableOps.rewriteCompact(spark, tc, 0))
      val (sumPost, tCntPost) = timed(
        totals.agg(sum(col("sum_c"))).head.getLong(0))
      emit("probe" -> "counter_totals_post_fold",
        "sum_matches" -> (sumPre == sumPost),
        "live_files" -> KeyedTable.liveFiles(tc).size,
        "fold_sec" -> tFold, "sec" -> tCntPost)

      // raw scans over the folded table read one commit's worth of bytes
      val (nFull2, tFull2) = timed(
        read.select(col("s")).where(length(col("s")) > 0).count())
      emit("probe" -> "full_scan_post_rewrite", "rows" -> nFull2,
        "sec" -> tFull2)

      // ---- sub-file block pruning (round 18): the folded table holds
      // one ~rows/4 file per bucket, each with a block footer; a point
      // probe plans ONE file and decodes ONE BLOCK of it — the scan
      // metrics are the receipt
      def scanMetric(df: DataFrame, name: String): Long =
        df.queryExecution.executedPlan.collect {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics.get(name).map(_.value).getOrElse(0L)
        }.sum
      val blkProbe = read.where(col("k") === (key + 2))
      val (_, tBlk) = timed(blkProbe.collect())
      emit("probe" -> "block_prune_point",
        "decoded_rows" -> scanMetric(blkProbe, "decodedRows"),
        "pruned_rows" -> scanMetric(blkProbe, "blockPrunedRows"),
        "planned_files" -> plannedFiles(blkProbe),
        "of_files" -> KeyedTable.liveFiles(t).size, "sec" -> tBlk)

      // ---- bucket-count evolution (round 18): scale 4 -> 8 buckets;
      // clustered reads return at the new modulus and the point ladder
      // holds
      val (rebucketed, tRb) = timed(
        graft.sources.KeyedTableOps.rebucket(spark, t, 8,
          tombstoneGraceMs = 0))
      val catT = spark.read.table(s"graft_keyed.`$t`")
      catT.count()
      emit("probe" -> "rebucket_4_to_8", "folded" -> rebucketed.isDefined,
        "clustered_partitions" -> plannedFiles(catT),
        "live_files" -> KeyedTable.liveFiles(t).size, "sec" -> tRb)
      val lk3 = read.where(col("k") === (key + 2))
      val (_, tLk3) = timed(lk3.collect())
      emit("probe" -> "point_lookup_post_rebucket",
        "planned_files" -> plannedFiles(lk3),
        "of_files" -> KeyedTable.liveFiles(t).size,
        "decoded_rows" -> scanMetric(lk3, "decodedRows"), "sec" -> tLk3)

      // ---- per-file bloom filters (round 19): declare the UNIQUE,
      // UNSORTED string column and force-fold so every live file gets a
      // sidecar; an equality probe for an IN-RANGE absent value then
      // plans ZERO files where zone maps alone plan all of them, and a
      // present-value probe plans the one file that can hold it
      // roll at 64k rows so the ~10 bits/row sizing holds per file
      graft.sources.KeyedTableOps.declareBloomColumns(t, Seq("s"))
      val (_, tBloomFold) = timed(graft.sources.KeyedTableOps
        .rewriteCompact(spark, t, 0, targetFileRows = 65536, force = true))
      val liveAfterBloom = KeyedTable.liveFiles(t).size
      val absentProbe = read.where(col("s") === s"v${key}x") // in-range, absent
      val (absentHits, tAbsent) = timed(absentProbe.collect())
      emit("probe" -> "bloom_point_absent", "hits" -> absentHits.length,
        "planned_files" -> plannedFiles(absentProbe),
        "of_files" -> liveAfterBloom, "fold_sec" -> tBloomFold,
        "sec" -> tAbsent)
      val presentProbe = read.where(col("s") === s"v${key + 2}")
      val (presentHits, tPresent) = timed(presentProbe.collect())
      emit("probe" -> "bloom_point_present", "hits" -> presentHits.length,
        "planned_files" -> plannedFiles(presentProbe),
        "of_files" -> liveAfterBloom, "sec" -> tPresent)
    }

    graft.queries.StreamingQueries.deleteRecursively(dir.toString)
    spark.stop()
  }
}
