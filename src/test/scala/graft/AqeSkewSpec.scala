package graft

import graft.SessionConf.withConfs
import org.apache.spark.sql.functions._

/** AQE is the engine's runtime answer to skew the planner can't see
  * (SURVEY.md §4.1): a sort-merge join over a pathological key must
  * re-plan with the skewed partition SPLIT across tasks, not one
  * straggler. saltedJoin (SaltedJoinSpec) is the explicit plan-level
  * tool; this pins the adaptive path actually engaging. */
class AqeSkewSpec extends SparkSpecBase {

  test("AQE splits a skewed sort-merge join partition at runtime") {
    import spark.implicits._
    withConfs(spark, Map(
      "spark.sql.adaptive.enabled" -> Some("true"),
      "spark.sql.autoBroadcastJoinThreshold" -> Some("-1"), // force SMJ
      // make the skew detector fire at fixture scale
      "spark.sql.adaptive.skewJoin.enabled" -> Some("true"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> Some("1.2"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> Some("64KB"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> Some("32KB"),
      "spark.sql.adaptive.coalescePartitions.enabled" -> Some("false"))) {
      // 100k rows on one hot key + uniform tail vs a small-but-not-
      // broadcast dim; payload pads bytes so the skew threshold trips.
      // NOTE no aggregation above the join: a parent that requires the
      // join's hash distribution (e.g. groupBy(k)) legally blocks the
      // skew split, since splitting would break that distribution.
      val big = spark.range(0, 120000)
        .select(when(col("id") < 100000, 42L).otherwise(col("id")).as("k"),
          concat(lit("x"), lpad(col("id").cast("string"), 64, "0")).as("payload"))
      val dim = spark.range(0, 2000)
        .select(col("id").as("dk"), concat(lit("d"), col("id")).as("name"))
      val joined = big.join(dim, col("k") === col("dk"))
      // hot key 42 joins dim row 42 → 100000 pairs; the uniform tail
      // (ids >= 100000) has no dim match
      assert(joined.collect().length === 100000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE should mark the skewed join (skew=true):\n$plan")
    }
  }
}
