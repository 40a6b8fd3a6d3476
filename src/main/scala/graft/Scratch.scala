package graft

import org.apache.spark.sql.SparkSession

/** Throwaway profiling main (not part of the driver contract).
  * Currently holding: the round-13 constant-factor audit of the
  * mid-tier agg entries (q_agg_decile_bounds, q_basket_pairs,
  * q_agg_mad) — per-query timing plus exchange/sort census of the
  * executed plan, to see whether the two-pass median/histogram shapes
  * pay an avoidable extra shuffle. */
object Scratch {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    if (args.headOption.contains("plans")) {
      // dump explain("formatted") for the named queries into the given
      // dir as <name>_<suffix>.txt (round-19 optimization evidence)
      val outDir = args.lift(1).getOrElse("/root/repo/plans/r19")
      val suffix = args.lift(2).getOrElse("before")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      args.drop(3).foreach { name =>
        val df = Catalog.byName(name).fn(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[scratch] wrote $outDir/${name}_$suffix.txt")
        spark.catalog.clearCache()
        graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("profile")) {
      // per-stage wall/cpu/shuffle census for one query run: which
      // stages carry the time, and is it compute or exchange?
      val stages = new java.util.concurrent.ConcurrentHashMap[
        Int, (String, Long, Long, Long, Long, Int, Long, Long)]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
            val si = e.stageInfo
            val m = si.taskMetrics
            val wall = (for {s <- si.submissionTime; c <- si.completionTime}
              yield c - s).getOrElse(-1L)
            stages.put(si.stageId, (si.name.takeWhile(_ != '\n').take(60),
              wall, m.executorRunTime,
              m.shuffleReadMetrics.totalBytesRead,
              m.shuffleWriteMetrics.bytesWritten, si.numTasks,
              m.executorCpuTime / 1000000L, m.jvmGCTime))
          }
        })
      args.drop(1).foreach { name =>
        // warm run (JIT/codegen), then the profiled run
        noop(Catalog.byName(name).fn(spark, d))
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        stages.clear()
        val t0 = System.nanoTime()
        noop(Catalog.byName(name).fn(spark, d))
        val total = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener drain
        println(f"[profile] $name total ${total}%.3f s, stages:")
        import scala.jdk.CollectionConverters._
        stages.asScala.toSeq.sortBy(-_._2._2).take(15).foreach {
          case (id, (nm, wall, run, sr, sw, nt, cpu, gc)) =>
            println(f"[profile]   stage $id%4d wall=${wall}%6d ms run=${run}%7d ms " +
              f"cpu=${cpu}%7d ms gc=${gc}%6d ms " +
              f"tasks=$nt%3d shufR=${sr / 1024}%8d KB shufW=${sw / 1024}%8d KB  $nm")
        }
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("qualprobe")) {
      // which quality-rule feature costs the battery its first-run
      // wall? time each feature column alone (fresh names → fresh
      // codegen each round approximates cold execution)
      import org.apache.spark.sql.functions._
      import graft.ops.TextOps._
      def time(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
        val t0 = System.nanoTime()
        noop(df)
        println(f"[qual] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      val base = Tables(spark, d, "documents")
        .select(col("doc_id"), col("text"),
          graft.functions.GraftFunctions.materialize(tokens(col("text"))).as("w"))
      (1 to 2).foreach { r =>
        println(s"[qual] --- round $r ---")
        time("base tokens")(base)
        time("sum_tok_len")(base.select(col("doc_id"),
          aggregate(transform(col("w"), t => length(t).cast("bigint")),
            lit(0L), (acc, v) => acc + v).as("x")))
        time("n_sym regexp")(base.select(col("doc_id"),
          length(regexp_replace(col("text"), "[a-z0-9 ]", "")).as("x")))
        time("n_stop_distinct")(base.select(col("doc_id"),
          size(array_distinct(filter(col("w"), t => t.isInCollection(Seq("the", "a", "value", "data", "table"))))).as("x")))
        time("n_dup_5grams")(base.select(col("doc_id"),
          size(array_distinct(shingles(col("w"), 5))).as("x")))
        time("full battery")(Catalog.byName("q_text_quality_rules").fn(spark, d))
      }
      spark.stop(); return
    }

    if (args.headOption.contains("stable")) {
      // timing stability: same trivial shuffle job N times
      import org.apache.spark.sql.functions._
      val df = Tables(spark, d, "documents")
        .groupBy(pmod(col("doc_id"), lit(32)).as("k")).agg(count(lit(1)))
      (1 to 10).foreach { i =>
        val t0 = System.nanoTime()
        noop(df)
        println(f"[stable] run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("ngramprobe")) {
      // round-19 opt-2: which sub-pipeline of q_dedup_ngram_jaccard
      // burns the CPU on the regenerated fixture?
      import org.apache.spark.sql.functions._
      import graft.functions.GraftFunctions
      import graft.ops.TextOps
      def time[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[ngram] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      def docShingles0 =
        graft.ops.ScanPar.ensure(spark, Tables(spark, d, "documents"), col("doc_id"))
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .select(col("doc_id"),
            array_sort(array_distinct(
              GraftFunctions.shingleHashes(col("w"), 3, TextOps.P))).as("sh"))
      (1 to 3).foreach { round =>
        println(s"[ngram] --- round $round ---")
        val raw = Tables(spark, d, "documents")
        time("raw scan noop")(noop(raw))
        val scanpar = graft.ops.ScanPar.ensure(spark, raw, col("doc_id"))
        time("scanpar noop")(noop(scanpar))
        val toks = scanpar.select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
        time("tokens noop")(noop(toks))
        val hashed = toks.select(col("doc_id"),
          GraftFunctions.shingleHashes(col("w"), 3, TextOps.P).as("sh"))
        time("shingleHashes noop")(noop(hashed))
        val sh0 = docShingles0
        time("docShingles noop")(noop(sh0))
        val ex = sh0.select(col("doc_id"), explode(col("sh")).as("shingle"))
        time("explode noop")(noop(ex))
        val dict = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
          .where(col("df") >= 2)
        time("dict noop")(noop(dict))
        val joined = ex.join(broadcast(dict), Seq("shingle"), "left")
        time("ex join dict noop")(noop(joined))
        val ranked = joined
          .groupBy(col("doc_id"))
          .agg(collect_list(struct(coalesce(col("df"), lit(1L)).as("df"),
            col("shingle").as("shingle"))).as("ds"))
          .select(col("doc_id"), size(col("ds")).as("sz"), col("ds"))
        time("ranked (collect_list) noop")(noop(ranked))
        val sorted = ranked
          .select(col("doc_id"), col("sz"),
            slice(array_sort(col("ds")),
              lit(1), expr("CAST(sz - ((sz*3+4) div 5) + 1 AS INT)"))
              .as("pref"))
        time("array_sort+slice noop")(noop(sorted))
        val prefix = sorted
          .select(col("doc_id"), col("sz"),
            posexplode(col("pref")).as(Seq("pos", "ps")))
          .select(col("doc_id"), col("ps.shingle").as("shingle"),
            col("sz"), col("pos"))
        time("prefixIndex noop")(noop(prefix))
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("ngrammat")) {
      // round-20 opt-1: A/B the shingle-frame materialization strategy
      // under q_dedup_ngram_jaccard at the session's core count.
      // Interleaved rounds (guide §1: re-run A,B,A,B before believing
      // any delta); FrameCache + SQL cache cleared between runs so each
      // timing is independent, exactly like the bench.
      val variants = Seq("none", "dict", "fence", "dictfence")
      val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      // warmup (JIT/codegen) once with the shipped variant
      noop(graft.queries.DedupQueries.ngramJaccard(spark, d, "persist"))
      spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      val rounds = args.lift(1).map(_.toInt).getOrElse(5)
      (1 to rounds).foreach { r =>
        variants.foreach { v =>
          val t0 = System.nanoTime()
          noop(graft.queries.DedupQueries.ngramJaccard(spark, d, v))
          val dt = (System.nanoTime() - t0) / 1e9
          times(v) = times(v) :+ dt
          spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        }
        println(s"[ngrammat] round $r done")
      }
      variants.foreach { v =>
        val ts = times(v).sorted
        println(f"[ngrammat] $v%-8s median=${ts(ts.size / 2)}%.3f " +
          f"min=${ts.head}%.3f max=${ts.last}%.3f  raw=" +
          times(v).map(t => f"$t%.2f").mkString("[", ",", "]"))
      }
      spark.stop(); return
    }

    if (args.headOption.contains("ngramplans")) {
      // dump explain("formatted") of the ngram body per materialization
      // variant (round-20 plan evidence: before = r19's "persist",
      // after = shipped "dictfence")
      val outDir = args.lift(1).getOrElse("/root/repo/plans/r20")
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
      Seq("persist" -> "before", "dictfence" -> "after").foreach {
        case (v, suffix) =>
          val df = graft.queries.DedupQueries.ngramJaccard(spark, d, v)
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/q_dedup_ngram_jaccard_$suffix.txt"),
            txt.getBytes("UTF-8"))
          println(s"[scratch] wrote $outDir/q_dedup_ngram_jaccard_$suffix.txt")
          spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("repeat")) {
      // round-20 spike hunt: run ONE query N times in one JVM (bench
      // cadence: clearCache + FrameCache.clear between runs) and print
      // per-run wall alongside the JVM-health deltas — GC time, JIT
      // compilation time, loaded-class count, code-cache occupancy —
      // to attribute late-run multi-second spikes (seen in both the
      // bench and the ngrammat A/B) to GC, codegen pile-up, or neither.
      import scala.jdk.CollectionConverters._
      val name = args.lift(1).getOrElse("q_dedup_ngram_jaccard")
      val n = args.lift(2).map(_.toInt).getOrElse(15)
      def gcMs: Long = java.lang.management.ManagementFactory
        .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      def jitMs: Long = java.lang.management.ManagementFactory
        .getCompilationMXBean.getTotalCompilationTime
      def classes: Long = java.lang.management.ManagementFactory
        .getClassLoadingMXBean.getTotalLoadedClassCount
      def codeCacheMb: Double = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getName.contains("CodeHeap")).map(_.getUsage.getUsed).sum / 1e6
      val q = Catalog.byName(name)
      (1 to n).foreach { i =>
        val (g0, j0, c0) = (gcMs, jitMs, classes)
        val t0 = System.nanoTime()
        noop(q.fn(spark, d))
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[repeat] run $i%2d: ${dt}%6.2f s  gc+${gcMs - g0}%5d ms " +
          f"jit+${jitMs - j0}%5d ms classes+${classes - c0}%5d " +
          f"codeCache=${codeCacheMb}%6.1f MB")
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("colloc")) {
      // round-20 ADVICE item: A/B the q_text_collocations token-stream
      // materialization (plain = three derivations of the floored
      // tokenize chain, ta = tokenize once into a persisted frame built
      // alone by the eager count job). Interleaved rounds, bench cadence.
      val variants = Seq("plain", "ta", "uni")
      val times = scala.collection.mutable.Map.empty[String, Vector[Double]]
        .withDefaultValue(Vector.empty)
      noop(graft.queries.TextQueries.collocations(spark, d, "plain")) // warmup
      spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      val rounds = args.lift(1).map(_.toInt).getOrElse(5)
      (1 to rounds).foreach { r =>
        variants.foreach { v =>
          val t0 = System.nanoTime()
          noop(graft.queries.TextQueries.collocations(spark, d, v))
          times(v) = times(v) :+ (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        }
      }
      variants.foreach { v =>
        val ts = times(v).sorted
        println(f"[colloc] $v%-6s median=${ts(ts.size / 2)}%.3f " +
          f"min=${ts.head}%.3f max=${ts.last}%.3f  raw=" +
          times(v).map(t => f"$t%.2f").mkString("[", ",", "]"))
      }
      spark.stop(); return
    }

    if (args.headOption.contains("finalplan")) {
      // AQE-final executed plan (after one noop run) to a file
      args.drop(1).foreach { name =>
        val df = Catalog.byName(name).fn(spark, d)
        noop(df)
        val txt = df.queryExecution.executedPlan.toString
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"/tmp/finalplan_$name.txt"),
          txt.getBytes("UTF-8"))
        println(s"[scratch] wrote /tmp/finalplan_$name.txt")
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
      }
      spark.stop(); return
    }

    if (args.headOption.contains("readtime")) {
      // how much of fn-construction is spark.read.parquet itself?
      (1 to 3).foreach { _ =>
        Tables.names.foreach { n =>
          val t0 = System.nanoTime()
          Tables(spark, d, n)
          println(f"[readtime] $n ${(System.nanoTime() - t0) / 1e6}%.1f ms")
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("plantime")) {
      // split per-query wall into construct / analyze+optimize+plan /
      // execute — is the headline paying compute or planner overhead?
      args.drop(1).foreach { name =>
        val q = Catalog.byName(name)
        noop(q.fn(spark, d)) // warm (JIT, codegen cache, footers)
        spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        (1 to 3).foreach { _ =>
          val t0 = System.nanoTime()
          val df = q.fn(spark, d)
          val t1 = System.nanoTime()
          df.queryExecution.executedPlan // analysis+optimization+physical
          val t2 = System.nanoTime()
          noop(df)
          val t3 = System.nanoTime()
          println(f"[plantime] $name construct=${(t1 - t0) / 1e6}%.0f ms " +
            f"plan=${(t2 - t1) / 1e6}%.0f ms exec=${(t3 - t2) / 1e6}%.0f ms")
          spark.catalog.clearCache(); graft.ops.FrameCache.clear(spark)
        }
      }
      spark.stop(); return
    }

    if (args.headOption.contains("streamprofile")) {
      // per-micro-batch cost breakdown for the real streaming runs:
      // where does the wall-clock sit — state-store commits, the
      // batch's own work (addBatch), or scheduling/offset bookkeeping?
      spark.streams.addListener(
        new org.apache.spark.sql.streaming.StreamingQueryListener {
          import org.apache.spark.sql.streaming.StreamingQueryListener._
          override def onQueryStarted(e: QueryStartedEvent): Unit = ()
          override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
          override def onQueryProgress(e: QueryProgressEvent): Unit = {
            val p = e.progress
            val dm = p.durationMs
            def ms(k: String) = Option(dm.get(k)).map(_.longValue).getOrElse(-1L)
            val st = p.stateOperators.toSeq.map(so =>
              s"commit=${so.commitTimeMs}ms rows=${so.numRowsTotal}").mkString("; ")
            println(s"[stream] batch=${p.batchId} rows=${p.numInputRows} " +
              s"out=${p.sink.numOutputRows} wm=${p.eventTime.get("watermark")} " +
              s"trigger=${ms("triggerExecution")} addBatch=${ms("addBatch")} " +
              s"getBatch=${ms("getBatch")} latestOffset=${ms("latestOffset")} " +
              s"walCommit=${ms("walCommit")} commitOffsets=${ms("commitOffsets")} " +
              s"queryPlanning=${ms("queryPlanning")} state[$st]")
          }
        })
      args.drop(1).foreach { name =>
        val t0 = System.nanoTime()
        noop(Catalog.byName(name).fn(spark, d))
        println(f"[scratch] $name total: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }
      spark.stop(); return
    }

    if (args.headOption.contains("windbg")) {
      import org.apache.spark.sql.functions._
      val sf = args.lift(1).getOrElse("/root/testdata/sf0.001")
      val got = Catalog.byName("q_stream_window_run").fn(spark, sf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val want = Catalog.byName("q_stream_window_batch").fn(spark, sf)
        .select(col("window_start_us"), col("event_type"),
          col("n_events").cast("bigint"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      println(s"[windbg] missing from stream: ${(want -- got).toSeq.sortBy(_._1)}")
      println(s"[windbg] extra in stream:    ${(got -- want).toSeq.sortBy(_._1)}")
      val maxTs = Tables(spark, sf, "events").agg(max(unix_micros(col("ts"))))
        .head.getLong(0)
      println(s"[windbg] max event us: $maxTs")
      spark.stop(); return
    }

    if (args.headOption.contains("stageprobe")) {
      // where does the NON-trigger time of a streaming run go? time
      // each staging step the run pays before the stream starts
      import org.apache.spark.sql.functions._
      def time[T](label: String)(f: => T): T = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        r
      }
      val ev = Tables(spark, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
      val tmp = java.nio.file.Files.createTempDirectory("graft_probe_").toString
      time("stageRanged (repartitionByRange 4 + write)")(
        ev.repartitionByRange(4, col("ts")).write.parquet(s"$tmp/in"))
      val maxTs = time("maxTs agg")(ev.agg(max(col("ts"))).head.getTimestamp(0))
      time("2 sentinel writes") {
        (1 to 2).foreach { i =>
          import spark.implicits._
          val t = new java.sql.Timestamp(maxTs.getTime + i * 3600000L)
          Seq((-i.toLong, t, -1L, "flush", 0.0, ""))
            .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
            .coalesce(1).write.parquet(s"$tmp/s$i")
        }
      }
      time("read back + filter + localCheckpoint")(
        spark.read.parquet(s"$tmp/in").where(col("user_id") =!= -1L)
          .localCheckpoint(true))
      spark.stop(); return
    }

    val names = args.toSeq match {
      case Seq() => Seq("q_agg_decile_bounds", "q_basket_pairs", "q_agg_mad")
      case more => more
    }

    names.foreach { name =>
      val q = Catalog.byName(name)
      (1 to 3).foreach { r =>
        val t0 = System.nanoTime()
        noop(q.fn(spark, d))
        println(f"[scratch] $name r$r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        spark.catalog.clearCache()
        graft.ops.FrameCache.clear(spark)
      }
      val df = q.fn(spark, d)
      noop(df) // AQE-final plan
      val plan = df.queryExecution.executedPlan
      def census(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case qse: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(qse.plan)
          case i: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
            Seq(i.relation.cachedPlan)
          case other => other.children
        }
        val here = p match {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            Seq(s"Exchange(${e.outputPartitioning})")
          case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
            Seq("BroadcastExchange")
          case so: org.apache.spark.sql.execution.SortExec =>
            Seq(s"Sort(global=${so.global})")
          case _: org.apache.spark.sql.execution.window.WindowExec => Seq("Window")
          case _ => Nil
        }
        here ++ kids.flatMap(census)
      }
      println(s"[scratch] $name census: " + census(plan).groupBy(identity)
        .map { case (k, v) => s"$k x${v.size}" }.toSeq.sorted.mkString(", "))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
