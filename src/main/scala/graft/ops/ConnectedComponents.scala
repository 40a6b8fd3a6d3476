package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed connected components by label propagation with pointer
  * doubling — the clustering step behind near-dup dedup (group all
  * transitively-linked near-duplicate docs under one cluster id).
  *
  * Scale design:
  *  - operates on EDGE-TOUCHED nodes only. A node with no near-dup pair
  *    keeps label = self forever, so at corpus scale the loop runs on
  *    the (small) near-dup subgraph, not the whole corpus; singletons
  *    rejoin afterwards (the caller does the final left join).
  *  - label := min(label, min over neighbours) each round, then one
  *    pointer-doubling hop (label := label(label)) — halves the
  *    remaining diameter per pass, so convergence is O(log diameter)
  *    rounds instead of O(diameter): a diameter-30 chain converges in
  *    ~5 rounds, not 30.
  *  - every round ends in a RELIABLE `Dataset.checkpoint()` (files in
  *    the checkpoint dir), not `localCheckpoint` (executor-local
  *    blocks). Both truncate the per-iteration lineage — without that,
  *    each round embeds the previous round's plan twice and analysis
  *    cost grows geometrically — but executor-local blocks are lost on
  *    executor death, which on a real cluster mid-loop is fatal: the
  *    lineage needed to recompute them is exactly what was truncated.
  *    Checkpoint files live in the context's checkpoint dir (point
  *    Spark's `spark.checkpoint.dir` at a shared filesystem) and
  *    survive any executor loss ([[ChaosSpec]] simulates the loss by
  *    dropping every persisted RDD block mid-loop).
  */
object ConnectedComponents {

  /** Ensure the session has a reliable checkpoint dir: the
    * SparkContext's own if one is set (Spark's `spark.checkpoint.dir`
    * at submit, or an earlier `sc.setCheckpointDir`), else a per-app
    * temp dir. */
  def ensureCheckpointDir(spark: SparkSession): Unit = synchronized {
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        s"${sys.props("java.io.tmpdir")}/graft-ckpt-${spark.sparkContext.applicationId}")
  }

  /** Labels every node that appears in `edges` (columns `a`, `b`; must
    * contain both orientations of each undirected edge) with the
    * minimum node id of its component. Returns (`node`, `label`).
    *
    * @param chaos test hook, called once per iteration with the
    *              iteration number — production callers leave the
    *              default no-op; [[ChaosSpec]] uses it to destroy
    *              cached blocks mid-loop.
    */
  def labels(spark: SparkSession, edges: DataFrame, maxIters: Int = 25,
             chaos: Int => Unit = _ => (),
             checkpointInterval: Int = 2): DataFrame = {
    require(checkpointInterval >= 1)
    ensureCheckpointDir(spark)
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum("label"), lit(0L))).collect().head.getLong(0)

    // RIGHT-SIZE the loop's shuffle parallelism to the SUBGRAPH, not
    // the session: the near-dup edge set is usually a sliver of the
    // corpus (hundreds of edges at the fixture scales), and every
    // iteration runs 2 joins + a checkpoint + a convergence sum — at
    // the session's parallelism that is pure task-scheduling overhead
    // (measured 2 s/round over 512 edges at 32 partitions). One
    // partition per ~100k edges, capped at the session setting, keeps
    // the loop dense at any scale; scoped to the loop.
    val edgeCount = edges.count()
    val sessParts = spark.sessionState.conf.numShufflePartitions
    val loopParts = math.max(1L,
      math.min(sessParts.toLong, (edgeCount + 99999) / 100000)).toInt
    // Right-size the loop's SCAN side too (round 20): the caller's
    // edge frame is usually persisted at the SESSION's parallelism
    // (32 fixture-scale cache blocks holding a few hundred rows), so
    // every per-round job — two joins, a checkpoint, a convergence
    // sum — opened a 32-task scan stage of near-empty partitions, and
    // the ~350 ms/stage scheduling floor dominated the loop (stage
    // profile, q_dedup_canonical: eight ~350 ms stages, CPU ≈ idle).
    // coalesce() (no shuffle) folds the cached blocks into loopParts
    // tasks per read; at cluster scale edgeCount is large, loopParts
    // tracks it, and this is (near-)identity.
    graft.SessionConf.withConfs(spark,
        Map("spark.sql.shuffle.partitions" -> Some(loopParts.toString))) {
    val loopEdges =
      if (edges.queryExecution.toRdd.getNumPartitions > loopParts * 2)
        edges.coalesce(loopParts)
      else edges
    var labels = loopEdges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .checkpoint()
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = labels.isEmpty
    var toUnpersist: List[DataFrame] = Nil
    while (!converged && iter < maxIters) {
      chaos(iter)
      val prop = loopEdges.join(labels, loopEdges("b") === labels("node"))
        .groupBy(col("a").as("node")).agg(min(col("label")).as("nlabel"))
      val stepped = labels.join(prop, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      val parents = stepped.select(col("node").as("pnode"), col("label").as("plabel"))
      val next0 = stepped.join(parents, stepped("label") === parents("pnode"), "left")
        .select(stepped("node"),
          least(stepped("label"), coalesce(col("plabel"), stepped("label"))).as("label"))
      // PERIODIC reliable checkpointing (the GraphX-Pregel pattern):
      // files every `checkpointInterval`-th round, a plain persist in
      // between. Lineage stays ≤ interval rounds deep, so an executor
      // loss on a persist-only round recomputes at most interval-1
      // rounds FROM THE LAST CHECKPOINT FILES — safety is unchanged
      // (ChaosSpec drops every cached block every round) while the
      // checkpoint write cost is paid 1/interval as often.
      val next = if (iter % checkpointInterval == checkpointInterval - 1) {
        val c = next0.checkpoint()
        toUnpersist.foreach(_.unpersist(blocking = false))
        toUnpersist = Nil
        c
      } else {
        val p = next0.persist()
        toUnpersist ::= p
        p
      }
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    // drop interim cached rounds, but keep the frame being returned
    toUnpersist.filterNot(_ eq labels).foreach(_.unpersist(blocking = false))
    // a silent cap would emit wrong cluster_ids for any component
    // whose diameter outruns the iteration budget
    require(converged,
      s"connected-components did not converge within $maxIters iterations")
    labels
    }
  }
}
