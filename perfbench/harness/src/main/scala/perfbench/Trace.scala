package perfbench

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark-side span: a call into a layer of the program. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** Spans, counters and phase-split engine statistics for the traced run.
  *
  * Everything here wraps the program from outside: spans are recorded
  * around calls the harness makes into the program's public seams, the
  * engine numbers come from a SparkListener, a QueryExecutionListener
  * and the Hadoop FileSystem statistics of the `file` scheme. With
  * `enabled = false` every method is a no-op apart from running its
  * body, so the untraced run pays nothing but a branch. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val nextId = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  val spans = mutable.ArrayBuffer.empty[Span]
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, v: Double): Unit =
    if (enabled) counters.synchronized { counters(name) = counters.getOrElse(name, 0.0) + v }

  /** Forget everything recorded so far: the timed part starts clean. */
  def reset(): Unit = if (enabled) {
    drain()
    counters.synchronized(counters.clear())
    spans.synchronized(spans.clear())
    queries.synchronized(queries.clear())
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        spans.synchronized(spans += Span(id, parents.headOption.getOrElse(0), name, t0, t1))
      }
    }

  // ---- phase windows: spark jobs and storage operations are charged
  // to the phase the driver thread was in when they started

  private val PhaseProp = "perfbench.phase"
  @volatile private var phase = "idle"
  private var fsMark = Trace.fsSnapshot()
  private var phaseStartNs = System.nanoTime()

  /** Switch the current phase; returns the previous one. Storage
    * counters since the last switch go to the phase being left. */
  def enter(p: String): String =
    if (!enabled) phase
    else synchronized {
      val prev = phase
      if (prev != p) {
        val now = Trace.fsSnapshot()
        Trace.FsFields.indices.foreach(i =>
          add(s"storage.$prev.${Trace.FsFields(i)}", (now(i) - fsMark(i)).toDouble))
        fsMark = now
        val t = System.nanoTime()
        add(s"phase.$prev.wall_s", (t - phaseStartNs) / 1e9)
        phaseStartNs = t
        phase = p
        spark.sparkContext.setLocalProperty(PhaseProp, p)
      }
      prev
    }

  def inPhase[T](p: String)(body: => T): T = {
    val prev = enter(p)
    try body finally enter(prev)
  }

  /** Wait until every listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchshim.Bus.drain(spark.sparkContext)

  // ---- SparkListener: jobs, tasks, CPU, shuffle, spill, GC, scheduling wait

  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[(Int, Int), Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).flatMap(pr => Option(pr.getProperty(PhaseProp))).getOrElse("idle")
      Trace.this.synchronized(e.stageIds.foreach(stagePhase(_) = p))
      add(s"spark.$p.jobs", 1)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Trace.this.synchronized {
        stageSubmitted((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val (p, submitted) = Trace.this.synchronized(
        (stagePhase.getOrElse(e.stageId, "idle"),
          stageSubmitted.get((e.stageId, e.stageAttemptId))))
      add(s"spark.$p.tasks", 1)
      if (m != null) {
        add(s"spark.$p.task_cpu_s", m.executorCpuTime / 1e9)
        add(s"spark.$p.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(s"spark.$p.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        add(s"spark.$p.gc_s", m.jvmGCTime / 1e3)
      }
      submitted.foreach(s => add(s"spark.$p.sched_wait_s",
        math.max(0L, e.taskInfo.launchTime - s) / 1e3))
    }
  }

  // ---- QueryExecutionListener: planning vs execution, scans

  /** Per finished query: planning ms, execution ms, and the keyed-table
    * scan figures of its physical plan. Read with [[takeQueries]]. */
  final case class QueryStat(planMs: Double, execMs: Double, filesPlanned: Long,
      decodedRows: Long, blockPrunedRows: Long, jdbcRows: Long)
  private val queries = mutable.ArrayBuffer.empty[QueryStat]

  private object PlanWalk extends AdaptiveSparkPlanHelper {
    def leaves(p: SparkPlan): Seq[SparkPlan] = collect(p) { case l if l.children.isEmpty => l }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      val leaves = PlanWalk.leaves(qe.executedPlan)
      def metric(n: String) = leaves.flatMap(_.metrics.get(n)).map(_.value).sum
      val files = leaves.collect { case b: BatchScanExec => b.inputRDD.getNumPartitions.toLong }.sum
      val jdbc = leaves.filter(_.nodeName.contains("JDBC"))
        .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
      queries.synchronized(queries += QueryStat(planMs, durationNs / 1e6, files,
        metric("decodedRows"), metric("blockPrunedRows"), jdbc))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def takeQueries(): Seq[QueryStat] = {
    drain()
    queries.synchronized { val r = queries.toList; queries.clear(); r }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def close(): Unit = if (enabled) {
    enter("idle")
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Trace {
  val FsFields: Seq[String] = Seq("fs_ops", "bytes_read", "bytes_written")

  /** Cumulative `file://` figures of this JVM: operations (counted by
    * [[CountingFileSystem]] in traced runs, 0 otherwise), then bytes read
    * and bytes written from the Hadoop FileSystem statistics. */
  def fsSnapshot(): Array[Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(CountingFileSystem.ops.get, all.map(_.getBytesRead).sum,
      all.map(_.getBytesWritten).sum)
  }
}
