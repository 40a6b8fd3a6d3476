package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Catalog-wide plan audit for the filter-inlining pathology the
  * Materialize fence exists for: a predicate pushed through a
  * projection substitutes aliases with their defining expressions, and
  * inside higher-order-function lambdas there is no common-
  * subexpression elimination — so a Filter whose condition contains
  * many copies of `split(`/`transform(`/`aggregate(` re-does the heavy
  * array work per reference. Prints every catalog entry whose plan has
  * a Filter where any single needle repeats more than
  * [[PerNeedleThreshold]] times (plan construction only — nothing
  * executes). The needle list and threshold are THE shared contract:
  * PlanGuardSpec's CI sweep imports both, so this CLI and the test can
  * never drift apart. */
object PlanAudit {
  val Needles: Seq[String] = Seq("split(trim", "transform(", "aggregate(",
    "array_distinct(", "graft_shingle", "regexp_replace(")

  /** A conjunction of a few DISTINCT heavy features evaluated once
    * each (the designed residual of a keep-filter over materialized
    * arrays) is fine; the SAME subtree repeated more than this many
    * times is the inlining bug. Per-needle, not summed — summing
    * would flag legitimate multi-feature filters. */
  val PerNeedleThreshold = 3

  private def filters(p: SparkPlan): Seq[FilterExec] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => filters(a.executedPlan)
      case f: FilterExec => Seq(f)
      case _ => Nil
    }
    self ++ p.children.flatMap(filters) ++
      p.subqueries.flatMap(filters)
  }

  def countAll(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // effectful entries RUN a job on fn invocation — same skip contract
    // as PlanGuardSpec's `plans` val (their pinned set lives there)
    graft.Catalog.all.filterNot(_.effectful).foreach { q =>
      try {
        val qe = q.fn(spark, sfDir).queryExecution
        val bad = filters(qe.executedPlan).map { f =>
          val cond = f.condition.toString
          Needles.map(n => n -> countAll(cond, n))
            .filter(_._2 > PerNeedleThreshold)
        }.filter(_.nonEmpty)
        if (bad.nonEmpty)
          println(s"[audit] ${q.name}: " + bad.map(_.map {
            case (n, c) => s"$n x$c"
          }.mkString(", ")).mkString(" | "))
        // the window lint reads the ANALYZED plan: BoundedWindow's
        // foldable constant key is visible there and deliberately
        // folded out of the executed plan (EliminateWindowPartitions)
        val unpart = qe.analyzed.collectWithSubqueries {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }
        if (unpart.nonEmpty)
          println(s"[audit-window] ${q.name}: ${unpart.size} unpartitioned " +
            unpart.map(_.child.getClass.getSimpleName).mkString("(", ",", ")"))
      } catch {
        case e: Exception =>
          println(s"[audit] ${q.name}: PLAN ERROR ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
