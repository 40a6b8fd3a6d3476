package graft

import graft.SessionConf.withConfs
import graft.plans.BandJoinRewrite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The band-join optimizer rule: a naive BETWEEN join plans as a
  * nested-loop cross product; with the rule it becomes a bucketed hash
  * join with identical results. */
class BandJoinSpec extends SparkSpecBase {

  private def bandJoin = {
    val p = Tables(spark, sfDir, "part")
    val li = Tables(spark, sfDir, "lineitem")
    p.join(li, li("l_extendedprice").between(
        p("p_retailprice") - 5, p("p_retailprice") + 5))
      .groupBy(p("p_brand").as("brand"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Plan and sorted rows of `q`, first with the rule off (its kill
    * switch: Spark's naive plan), then with the session's rule. `q` is
    * by-name so each run plans a fresh Dataset. */
  private def naiveThenRewritten[T: Ordering](q: => DataFrame)(row: Row => T)
      : ((String, Seq[T]), (String, Seq[T])) = {
    def run() = {
      val df = q
      (df.queryExecution.executedPlan.toString, df.collect().toSeq.map(row).sorted)
    }
    val naive = withConfs(spark, Map("spark.graft.bandjoin.enabled" -> Some("false")))(run())
    (naive, run())
  }

  private def assertRewritten(plan: String): Unit = {
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"band join not rewritten:\n$plan")
    assert(plan.contains("__graft_bucket_l"), s"rewrite marker missing:\n$plan")
  }

  test("without the rule: nested-loop; with it: hash join, same result") {
    val ((naivePlan, expected), (optPlan, got)) =
      naiveThenRewritten(bandJoin)(r => (r.getString(0), r.getLong(1)))
    assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
      naivePlan.contains("CartesianProduct"),
      s"expected the naive plan to be a cross product:\n$naivePlan")
    assertRewritten(optPlan)
    assert(got === expected)
  }

  test("double band with asymmetric fractional widths matches the naive join") {
    def asymmetricBand = {
      val p = Tables(spark, sfDir, "part")
      val li = Tables(spark, sfDir, "lineitem")
      p.join(li, li("l_extendedprice") >= p("p_retailprice") - 2.5 &&
          li("l_extendedprice") <= p("p_retailprice") + 7.25)
        .groupBy(p("p_brand").as("brand"))
        .agg(count(lit(1)).as("n_pairs"))
    }
    val ((_, expected), (plan, got)) =
      naiveThenRewritten(asymmetricBand)(r => (r.getString(0), r.getLong(1)))
    assertRewritten(plan)
    // fractional widths take the DOUBLE floor path, not floorDiv
    assert(!plan.contains("pmod("), s"double band bucketed as integral:\n$plan")
    assert(got.nonEmpty && got === expected)
  }

  test("integral band (exact LONG bucketing) matches the naive join") {
    def integralBand = {
      val o = Tables(spark, sfDir, "orders")
        .select(col("o_orderkey").as("ok"), col("o_custkey").as("ck"))
      val c = Tables(spark, sfDir, "customer")
        .select(col("c_custkey").as("cck"), col("c_nationkey").as("nk"))
      o.join(c, o("ck") >= c("cck") - 2 && o("ck") <= c("cck") + 3)
        .groupBy(col("nk")).agg(count(lit(1)).as("n"))
    }
    val ((_, expected), (plan, got)) =
      naiveThenRewritten(integralBand)(r => (r.getInt(0), r.getLong(1)))
    assertRewritten(plan)
    // integral operands bucket by floorDiv = (e - pmod(e, w)) div w,
    // not through a DOUBLE floor that rounds above 2^53
    assert(plan.contains("pmod("), s"integral bucketing not used:\n$plan")
    assert(got.nonEmpty && got === expected)
  }

  test("null band operands produce no pairs (inner semantics)") {
    import spark.implicits._
    def j = {
      val l = Seq(Some(1.0), None, Some(10.0)).toDF("xv")
      val r = Seq(Some(1.5), None, Some(20.0)).toDF("yv")
      l.join(r, l("xv") >= r("yv") - 1 && l("xv") <= r("yv") + 1)
    }
    val ((_, expected), (plan, got)) = naiveThenRewritten(j)(_.toString)
    assertRewritten(plan)
    assert(got === expected)
    assert(got === Seq("[1.0,1.5]"))
  }

  test("q_range_join_native is planned by the session rule and leaves the session as it found it") {
    def graftConfs = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
    val confsBefore = graftConfs
    val optimizationsBefore = spark.experimental.extraOptimizations
    val strategiesBefore = spark.experimental.extraStrategies
    val plan = Catalog.byName("q_range_join_native").fn(spark, sfDir)
      .queryExecution.executedPlan.toString
    assertRewritten(plan)
    assert(graftConfs === confsBefore)
    assert(spark.experimental.extraOptimizations === optimizationsBefore)
    assert(spark.experimental.extraStrategies === strategiesBefore)
  }

  test("swapped orientation (banded column on the right child) rewrites too") {
    val p = Tables(spark, sfDir, "part")
    val li = Tables(spark, sfDir, "lineitem")
    // here the banded variable (p_retailprice) sits on the LEFT child
    // and the band anchor (l_extendedprice) on the RIGHT — the mirror
    // of the first test's orientation
    def q = p.join(li, p("p_retailprice").between(
        li("l_extendedprice") - 5, li("l_extendedprice") + 5))
      .groupBy(li("l_returnflag").as("rf"))
      .agg(count(lit(1)).as("n_pairs"))
    val expected = q.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BandJoinRewrite
    try {
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"swapped band join not rewritten:\n$plan")
      val got = q.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(got === expected)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BandJoinRewrite)
    }
  }

  test("rule leaves plain equi-joins and already-bucketed joins alone") {
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ BandJoinRewrite
    try {
      val o = Tables(spark, sfDir, "orders")
      val c = Tables(spark, sfDir, "customer")
      val equi = o.join(c, o("o_custkey") === c("c_custkey"))
      assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bucket"))
      // hand-bucketed query from the catalog still passes through
      val handBucketed = Catalog.byName("q_range_join_bucketed").fn(spark, sfDir)
      assert(handBucketed.count() > 0)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ == BandJoinRewrite)
    }
  }
}
