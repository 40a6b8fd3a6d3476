package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Throwaway stage-boundary profiler for the corpus e2e heads (not part
  * of the driver contract). Timings led to the [[graft.functions.Materialize]]
  * fence: the quality battery dropped ~10× once the keep-filter stopped
  * re-splitting text inside shingle lambdas. */
object ScratchE2e {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scratch] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()
    noop(spark.read.parquet(s"$sfDir/documents.parquet")
      .groupBy("lang").count())
    for (_ <- 1 to 2) {
      time("battery scan only")(
        noop(TextQueries.qualityFlags(spark, sfDir)
          .where(col("keep"))
          .select(col("doc_id"), col("lang"), col("n_tokens"))))
      time("full curation e2e")(
        noop(graft.Catalog.byName("q_curation_e2e").fn(spark, sfDir)))
      spark.catalog.clearCache()
      time("full export e2e")(
        noop(graft.Catalog.byName("q_corpus_export_e2e").fn(spark, sfDir)))
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
