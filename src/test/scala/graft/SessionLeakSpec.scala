package graft

import org.apache.spark.sql.functions.col

/** Catalog entries leave the session's conf as they found it, apart
  * from the declared memos of [[SessionConf]]. The pipeline once left
  * its workspace in a checkpoint-dir conf that a later connected-
  * components loop in the same session bound the context to. */
class SessionLeakSpec extends SparkSpecBase {

  /** Keys the declared memos may leave set. */
  private val memoKeys = Set(
    SessionConf.StateStoreProviderKey,
    "spark.sql.legacy.parquet.nanosAsLong",
    s"spark.sql.catalog.${sources.KeyedTableRegistry.CatalogName}")

  private def confsBesideMemos(): Map[String, String] =
    spark.conf.getAll -- memoKeys

  /** Runs the entry and asserts it changed no conf beyond the memos. */
  private def runClean(name: String): Unit = {
    val before = confsBesideMemos()
    Catalog.byName(name).fn(spark, sfDir).count()
    val after = confsBesideMemos()
    val changed = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(changed.isEmpty, s"$name left session confs changed:\n" +
      changed.mkString("\n"))
  }

  test("the pipeline leaves no checkpoint dir behind for a later CC loop") {
    runClean("q_pipeline_e2e")
    runClean("q_dedup_clusters")
    // a CC loop after the pipeline, whether or not q_dedup_clusters was
    // already memoized in this session
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("a", "b")
    assert(graft.ops.ConnectedComponents.labels(spark, edges)
      .where(col("label") === 1L).count() === 2)
    assert(!spark.conf.getAll.values.exists(_.contains("graft_pipeline_")),
      "a session conf still points into a pipeline workspace")
    val dir = spark.sparkContext.getCheckpointDir
    assert(dir.isDefined)
    assert(!dir.get.contains("graft_pipeline_"),
      s"the context checkpoints under a pipeline workspace: ${dir.get}")
  }

  test("loop and streaming entries restore the session's shuffle partitions") {
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    for (name <- Seq("q_dedup_clusters", "q_graph_pagerank",
        "q_stream_transitions_run", "q_ktable_cbo_reorder")) {
      runClean(name)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === parts, name)
    }
  }
}
