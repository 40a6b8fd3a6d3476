package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Forked-JVM chaos harness for the band-join rewrite: injects exactly
  * one task failure in (a) the map stage feeding the bucket shuffle and
  * (b) the reduce stage executing the bucketed join itself, and checks
  * the retried run still produces the exact plain-Spark join result.
  * Broadcast joins are off so the bucketed join is a shuffled join and
  * the two injections land in different stages. The fork exists
  * because task retries need a `local[N,maxFailures]` master, and the
  * shared spec session is `local[4]` (maxFailures=1, a failed task
  * kills the job).
  *
  * Exit codes: 0 OK; 2 result mismatch; 3 injection never fired
  * (the test would be vacuous); 4 band join not rewritten; any other
  * non-zero = job died (retry did not recover the task).
  */
object ChaosBandMain {
  private val failedMap = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val failedReduce = new java.util.concurrent.atomic.AtomicBoolean(false)

  private def failOnce(flag: java.util.concurrent.atomic.AtomicBoolean, x: Long): Long = {
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0 && flag.compareAndSet(false, true))
      throw new RuntimeException("graft-chaos: injected task failure")
    x
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4,3]") // task retries enabled
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def bandJoin(probeTap: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        joinTap: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) = {
      val p = Tables(spark, sfDir, "part")
      val li = probeTap(Tables(spark, sfDir, "lineitem"))
      joinTap(p.join(li, li("l_extendedprice").between(
          p("p_retailprice") - 5, p("p_retailprice") + 5)))
        .agg(count(lit(1)).as("n"),
          sum(col("p_partkey") * col("l_linenumber")).as("chk"))
        .collect().head
    }

    // expected: plain Spark plan (nested loop), no extensions, no chaos
    val expected = bandJoin(identity, identity)

    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.plans.BandJoinRewrite

    // the executed plan must actually be the bucketed rewrite
    val planCheck = {
      val p = Tables(spark, sfDir, "part")
      val li = Tables(spark, sfDir, "lineitem")
      p.join(li, li("l_extendedprice").between(
          p("p_retailprice") - 5, p("p_retailprice") + 5))
        .queryExecution.executedPlan.toString
    }
    if (planCheck.contains("BroadcastNestedLoopJoin") ||
        planCheck.contains("CartesianProduct") ||
        !planCheck.contains("__graft_bucket_l")) {
      System.err.println(s"band join not rewritten:\n$planCheck")
      sys.exit(4)
    }

    val mapChaos = udf((x: Long) => failOnce(failedMap, x))
    // nondeterministic pins the tap ABOVE the join (reduce stage);
    // a deterministic projection could be pushed below the exchange
    val reduceChaos = udf((x: Long) => failOnce(failedReduce, x)).asNondeterministic()

    // (a) map-stage failure: probe side taps before the shuffle write
    val gotMap = bandJoin(
      li => li.withColumn("l_linenumber", mapChaos(col("l_linenumber").cast("long"))),
      identity)
    // (b) reduce-stage failure: tap above the join, same stage as the join
    val gotReduce = bandJoin(
      identity,
      j => j.withColumn("l_linenumber", reduceChaos(col("l_linenumber").cast("long"))))

    if (!failedMap.get() || !failedReduce.get()) sys.exit(3)
    if (gotMap != expected || gotReduce != expected) {
      System.err.println(s"expected $expected, map-chaos $gotMap, reduce-chaos $gotReduce")
      sys.exit(2)
    }
    println(s"[chaos-band] OK n=${expected.getLong(0)} chk=${expected.getLong(1)}")
    spark.stop()
    sys.exit(0)
  }
}
