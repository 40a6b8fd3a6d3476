package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM via Test/fork). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs `body` runs on this thread, counted by job group. The
    * status store is fed asynchronously, so a marker job is run after
    * `body` and awaited: once it shows, every earlier job has too. */
  def jobsRun(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    inGroup(group)(body)
    inGroup(s"$group-marker")(sc.parallelize(Seq(1), 1).count())
    val deadline = System.currentTimeMillis() + 30000
    while (sc.statusTracker.getJobIdsForGroup(s"$group-marker").isEmpty &&
      System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // specs run the same fenced/linted catalog windows as Verify
    graft.ops.BoundedWindow.quietPlannerWarnings()
    s
  }
}
