package graft

import graft.SessionConf.withConfs
import org.apache.spark.sql.functions.{col, expr}

/** Pins Catalyst's runtime bloom-filter join pruning: when a shuffle
  * join's build side is small and selective, the optimizer injects a
  * bloom-filter aggregate on it and a `might_contain` filter on the
  * probe side, so most non-matching fact rows die at the scan instead
  * of shuffling. At 100 TB this is the difference between shuffling
  * the whole fact table and shuffling ~the matching keys — the
  * row-level sibling of partition-level DPP (DppSpec). The thresholds
  * default to cluster scale (10 GB application side), so this spec
  * lowers them; the production sessions get the same confs from
  * engine defaults. */
class BloomJoinSpec extends SparkSpecBase {

  test("selective dim join injects a bloom might_contain on the fact side") {
    val fact = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val dim = spark.read.parquet(s"$sfDir/orders.parquet")
      .where(col("o_totalprice") >= 490000) // ~1% of orders
    val join = fact.join(dim, expr("l_orderkey = o_orderkey"))
      .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))

    val expected = join.count()
    withConfs(spark, Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> Some("true"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> Some("0"),
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> Some("100MB"),
      // force a shuffle join: a broadcast join already prunes at probe
      // time, so no runtime filter would be injected (correctly)
      "spark.sql.autoBroadcastJoinThreshold" -> Some("-1"))) {
      val filtered = fact.join(dim, expr("l_orderkey = o_orderkey"))
        .select(col("l_orderkey"), col("l_quantity"), col("o_totalprice"))
      val optimized = filtered.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n$optimized")
      assert(filtered.count() === expected, "bloom filter must not drop matches")
    }
  }
}
