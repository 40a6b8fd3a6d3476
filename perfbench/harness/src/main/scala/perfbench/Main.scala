package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Command-line arguments, passed by `perfbench/run.py`. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    inDir: String, workDir: String, outFile: String, cores: Int, setupStartMs: Long)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("in"), m("work"), m("out"), m("cores").toInt, m("setup-start-ms").toLong)
  }
}

/** What one run measured: latency samples, end-to-end and per-layer
  * metrics, correctness checks and the attempted/failed tally. */
final class Result {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  /** The timed repetition running now (1-based) and, per finished
    * repetition, the share of the machine's CPU time the hypervisor
    * stole while it ran. */
  var rep = 0
  val repSteal = mutable.ArrayBuffer.empty[Double]
  private val sampleRep = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]

  def sample(name: String, v: Double): Unit = {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
    sampleRep.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += rep
  }

  /** The samples of `name` taken in repetitions during which the
    * hypervisor stole at most [[Result.StealMaxPct]] of the machine's
    * CPU; all of them when no repetition was that quiet. Steal is the
    * box being slower, not the program, and it comes in bursts. */
  def clean(name: String): Seq[Double] = {
    val all = samples(name).toSeq
    val quiet = all.zip(sampleRep(name))
      .collect { case (v, r) if repSteal(r - 1) <= Result.StealMaxPct => v }
    if (quiet.nonEmpty) quiet else all
  }

  /** Run `body`, sampling its wall time as `<name>_ms` when `timed`. */
  def timeOp[T](name: String, timed: Boolean)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    if (timed) sample(s"${name}_ms", (System.nanoTime() - t0) / 1e6)
    r
  }

  /** A correctness check is an operation too: a failed one counts. */
  def check(name: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] check failed: $name: $detail")
    ok
  }

  /** Count one operation; one that throws fails. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      failed += 1
      System.err.println(s"[perfbench] operation failed: $e")
      e.printStackTrace()
      None
    }
  }
}

object Result {
  val StealMaxPct = 2.0
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** One workload: untimed set-up and warm-up, then timed repetitions. */
trait Workload {
  /** Generated inputs are loaded and targets built; counts in set-up. */
  def setup(): Unit
  /** One untimed repetition; counts in set-up. */
  def warmup(): Unit
  /** Untimed repetitions before the timed part: enough that the JIT has
    * compiled the repetition's hot code, so timed repetitions agree. */
  def warmups: Int
  /** One timed repetition. */
  def rep(): Unit
  /** Fewest timed repetitions a run makes, however long they take. */
  def minReps: Int
  /** Nominal seconds of one timed repetition: a run makes
    * max(minReps, round(--seconds / repSeconds)) repetitions, the same
    * number in every run, so every run's median covers the same
    * stretch of the JIT's warm-up curve. */
  def repSeconds: Double
  /** Checks that need the whole run, then the metrics. */
  def finish(): Unit
}

final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace, val res: Result) {
  def dir(name: String): String = s"${args.workDir}/$name"
  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      scala.util.Using(java.nio.file.Files.walk(p))(
        _.sorted(java.util.Comparator.reverseOrder()).forEach(f => java.nio.file.Files.delete(f)))
        .get
  }
  def dirBytes(path: String): Long = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) 0L
    else scala.util.Using(java.nio.file.Files.walk(p))(
      _.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()).get
  }
}

object Main {
  /** Machine-wide CPU jiffies from /proc/stat: (total, stolen). */
  private def cpuJiffies(): (Long, Long) =
    scala.util.Using(scala.io.Source.fromFile("/proc/stat")) { src =>
      val v = src.getLines().next().trim.split("\\s+").slice(1, 9).map(_.toLong)
      (v.sum, v(7))
    }.get

  private def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** True when the JIT has no compile running or queued. */
  private def jitIdle(): Boolean = {
    val queue = ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "compilerQueue", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
      .toString
    queue.linesIterator.map(_.trim).forall(l => l.isEmpty || l == "Empty" ||
      l.startsWith("Current compiles:") || l.endsWith("compile queue:"))
  }

  /** Wait, at most `maxMs`, until the JIT has compiled everything the
    * work so far asked for, then collect garbage: each timed repetition
    * starts from the same JVM state however busy the machine was while
    * the earlier ones ran. Returns the milliseconds waited. */
  private def quiesce(maxMs: Long): Long = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1000000
    while (!jitIdle() && waited < maxMs) Thread.sleep(20)
    System.gc()
    waited
  }

  /** Classes Spark has generated and compiled so far. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb(): Double =
    scala.util.Using(scala.io.Source.fromFile("/proc/self/status"))(_.getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0))
      .getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val res = new Result
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${args.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", args.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/warehouse")
      .config("spark.local.dir", s"${args.workDir}/local")
      // repetitions re-run the same queries; with Spark's default cache
      // of 100 generated classes a catalog pass (about 90 classes) evicts
      // its own entries, so every pass would compile them all again
      // (Janino, then the JIT), a cost one production run pays once per
      // query; the cold cost stays in the warm-up, counted in setup_s
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.ops.BoundedWindow.quietPlannerWarnings()
    res.layers("setup.session_s") = ((System.nanoTime() - t0) / 1e9, "s")

    val trace = new Trace(spark, args.trace)
    val ctx = new Ctx(spark, args, trace, res)
    val w: Workload = args.workload match {
      case "migrate" => new Migrate(ctx)
      case "catalog_headline" => new CatalogPass(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    try {
      w.setup()
      val tw = System.nanoTime()
      (1 to w.warmups).foreach(_ => w.warmup())
      res.info("quiesce_after_warmup_ms") = quiesce(15000)
      res.layers("setup.warmup_s") = ((System.nanoTime() - tw) / 1e9, "s")

      val timedStartMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val reps = math.max(w.minReps, math.round(args.seconds / w.repSeconds).toInt)
      trace.reset()
      val repJitMs = mutable.ArrayBuffer.empty[Long]
      val repGcMs = mutable.ArrayBuffer.empty[Long]
      val repQuiesceMs = mutable.ArrayBuffer.empty[Long]
      val repCg = mutable.ArrayBuffer.empty[Long]
      (1 to reps).foreach { i =>
        if (i > 1) repQuiesceMs += quiesce(5000)
        res.rep = i
        val before = cpuJiffies()
        val (jit0, gc0) = (jitMs(), gcMs())
        val cg0 = codegenCompiles()
        w.rep()
        val after = cpuJiffies()
        res.repSteal += 100.0 * (after._2 - before._2) / math.max(1L, after._1 - before._1)
        repJitMs += jitMs() - jit0
        repGcMs += gcMs() - gc0
        repCg += codegenCompiles() - cg0
        trace.add("reps", 1)
      }
      res.info("rep_steal_pct") = res.repSteal.toSeq
      // the JVM's own background work during each timed repetition
      res.info("rep_jit_ms") = repJitMs.toSeq
      res.info("rep_gc_ms") = repGcMs.toSeq
      res.info("rep_quiesce_ms") = repQuiesceMs.toSeq
      res.info("rep_codegen_compiles") = repCg.toSeq
      val wallS = (System.nanoTime() - start) / 1e9
      res.info("warmups") = w.warmups
      res.info("timed_reps") = reps
      res.info("timed_wall_s") = wallS
      res.e2e("setup_s") = ((timedStartMs - args.setupStartMs) / 1e3, "s")
      w.finish()
    } catch { case e: Throwable =>
      res.check("run completed", ok = false, e.toString)
      e.printStackTrace()
    } finally {
      trace.close()
      res.e2e("peak_rss_mb") = (peakRssMb(), "MB")
      write(args, spark, res, trace)
      spark.stop()
    }
  }

  private def write(args: Args, spark: SparkSession, res: Result, trace: Trace): Unit = {
    val rt = ManagementFactory.getRuntimeMXBean
    val out = Map[String, Any](
      "workload" -> args.workload,
      "seed" -> args.seed,
      "trace" -> args.trace,
      "attempted" -> res.attempted,
      "failed" -> res.failed,
      "checks" -> res.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "e2e" -> res.e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> res.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "samples" -> res.samples.map { case (k, v) => k -> v.toSeq },
      "info" -> res.info,
      "spans" -> trace.spans.map(s => Seq(s.id, s.parent, s.name, s.startNs, s.endNs)),
      "counters" -> trace.counters,
      "conditions" -> Map(
        "master" -> spark.sparkContext.master,
        "cores" -> args.cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "jvm_args" -> rt.getInputArguments.asScala.toSeq
          .filter(a => a.startsWith("-Xm") || a.startsWith("-XX")),
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.version"),
        "scala_version" -> scala.util.Properties.versionNumberString))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.write(java.nio.file.Paths.get(args.outFile),
      mapper.writeValueAsBytes(out))
  }
}
