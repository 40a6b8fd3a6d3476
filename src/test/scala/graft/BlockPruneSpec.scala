package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Sub-file BLOCK pruning: the writer records per-block zone maps
  * every `blockRows` rows and appends them as a footer (2+ blocks
  * only, flagged in the manifest — never inferred from trailing
  * bytes); the reader seeks past blocks the pushed filters rule out.
  * File-level zones stop at file granularity — a matching large file
  * used to decode fully even when one block matched; now it decodes
  * the matching blocks and SKIPS the rest, with the receipt exposed
  * as scan metrics (decodedRows / blockPrunedRows). */
class BlockPruneSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def write(t: String, df: DataFrame, blockRows: Long,
      extra: Map[String, String] = Map.empty): Unit = {
    val w = df.write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "1")
      .option("blockRows", blockRows.toString)
    extra.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }
      .mode("append").save(t)
  }

  private def read(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(t)

  private def metrics(df: DataFrame): (Long, Long) = {
    df.collect()
    val ms = df.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.metrics
    }
    assert(ms.nonEmpty, "no v2 scan in the plan")
    (ms.map(_("decodedRows").value).sum,
      ms.map(_("blockPrunedRows").value).sum)
  }

  private def rows(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0 until n).map(i => (i.toLong, s"v$i", (i % 7).toLong))
      .toDF("k", "s", "c")
  }

  test("a key point probe decodes one block of a multi-block file") {
    val t = tmpDir("graft_blk_point_") + "/t"
    write(t, rows(1024), blockRows = 64)
    // one committed file, flagged as block-carrying
    val files = graft.sources.KeyedTable.committedFiles(t)
    assert(files.size === 1)
    val probe = read(t).where(col("k") === 777L)
    val got = probe.collect()
    assert(got.length === 1 && got.head.getString(1) === "v777")
    val (decoded, pruned) = metrics(probe)
    // the write is key-sorted, so blocks are disjoint k ranges: the
    // probe must decode exactly one 64-row block and skip the rest
    assert(decoded === 64L, s"decoded $decoded rows, want one block (64)")
    assert(pruned === 960L, s"pruned $pruned rows, want 960")
  }

  test("a full scan of a footer file reads every row, exactly once") {
    val t = tmpDir("graft_blk_full_") + "/t"
    write(t, rows(300), blockRows = 64)
    val all = read(t)
    assert(all.count() === 300L)
    val (decoded, pruned) = metrics(read(t).select("k", "s", "c"))
    assert(decoded === 300L && pruned === 0L,
      s"full scan decoded $decoded / pruned $pruned")
  }

  test("sorted writes prune blocks on NON-key range probes") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_blk_sorted_") + "/t"
    // ck is uncorrelated with k; sortOrder=ck orders the file by ck so
    // blocks carry disjoint ck slices
    val df = (0 until 1024).map(i =>
      (i.toLong, ((i * 2654435761L) % 10000L), s"v$i")).toDF("k", "ck", "s")
    write(t, df, blockRows = 64, extra = Map("sortOrder" -> "ck"))
    val probe = read(t).where(col("ck") < 500L)
    val want = df.where(col("ck") < 500L).count()
    assert(probe.count() === want)
    val (decoded, pruned) = metrics(probe)
    assert(decoded + pruned === 1024L)
    assert(decoded <= 3 * 64L,
      s"ck-sorted blocks should bound the decode to ~matching slices, " +
        s"decoded $decoded")
  }

  test("version coordinates survive block skips (pos is the file ordinal)") {
    val t = tmpDir("graft_blk_pos_") + "/t"
    write(t, rows(512), blockRows = 64)
    val full = read(t).select(col("k"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val skipped = read(t).where(col("k") >= 400L)
      .select(col("k"), col("_pos")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(skipped.nonEmpty)
    skipped.foreach { case (k, pos) =>
      assert(pos === full(k),
        s"key $k read _pos $pos under block pruning, $pos vs ${full(k)}")
    }
  }

  test("block maps compose with the LWW current-state view") {
    val t = tmpDir("graft_blk_lww_") + "/t"
    write(t, rows(1024), blockRows = 64)
    // upsert one key, delete another — resolution must hold under
    // partition-key block pruning of the row-level scan
    val s = spark
    import s.implicits._
    write(t, Seq((777L, "new", 0L)).toDF("k", "s", "c"), blockRows = 64)
    val cur = graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 5")
      spark.read.option("view", "current").table(s"graft_keyed.`$t`")
        .where(col("k").isin(5L, 777L, 10L)).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    assert(cur === Map(777L -> "new", 10L -> "v10"))
  }

  test("block stats are frame-positional: filters on evolved columns " +
      "never prune pre-evolution blocks wrongly") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_blk_evo_") + "/t"
    write(t, rows(512), blockRows = 64) // framed (k, s, c) with a footer
    // evolve: a later commit brings a new trailing column
    (512 until 520).map(i => (i.toLong, s"v$i", (i % 7).toLong, i * 2L))
      .toDF("k", "s", "c", "extra")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "1")
      .option("blockRows", "64").mode("append").save(t)
    // a filter on the EVOLVED column: the old file's block stats have
    // no slot for it — every old block must be KEPT (null-filled rows
    // might... not match, but pruning may only ever be conservative);
    // Spark's residual filter then drops the null-filled rows
    val probe = read(t).where(col("extra").isNotNull)
    val got = probe.collect()
    assert(got.length === 8, s"evolved-column probe got ${got.length}")
    val (decoded, pruned) = metrics(probe)
    assert(decoded === 520L && pruned === 0L,
      s"old blocks must stay un-pruned under an evolved-column filter " +
        s"(decoded $decoded, pruned $pruned)")
    // while a filter the old frame DOES cover still prunes old blocks
    val (d2, p2) = metrics(read(t).where(col("k") === 100L))
    assert(d2 <= 64L + 8L && p2 >= 448L,
      s"pre-evolution blocks must still prune on covered columns " +
        s"($d2 decoded, $p2 pruned)")
  }

  test("small files stay footer-free (legacy byte layout preserved)") {
    val t = tmpDir("graft_blk_small_") + "/t"
    write(t, rows(50), blockRows = 64) // one block = no footer
    assert(read(t).count() === 50L)
    val (decoded, pruned) = metrics(read(t).where(col("k") === 1L))
    assert(decoded === 50L && pruned === 0L)
  }
}
