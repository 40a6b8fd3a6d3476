package graft

import org.apache.spark.sql.functions._

/** The DSv2 keyed-table SINK's commit-protocol contracts: manifest
  * visibility (staged-but-uncommitted bytes are never rows), schema
  * pinning, planner-enforced key clustering, exactly-once under task
  * retry (forked JVM) and under streaming epoch replay. */
class KeyedTableSpec extends SparkSpecBase {
  import spark.implicits._

  private def newTarget(): String =
    java.nio.file.Files.createTempDirectory("graft_ktable_").toString + "/t"

  private def readBack(t: String) =
    spark.read.format("graft.sources.KeyedTable").load(t)

  test("batch round trip: appends accumulate, nulls survive, schema is pinned") {
    val t = newTarget()
    val a = Seq(
      (1L, Some("alpha"), Some(1.5), Some(true), Some(10)),
      (2L, None, Some(-2.25), Some(false), None),
      (3L, Some(""), None, None, Some(-7)))
      .toDF("k", "s", "d", "b", "i")
    a.write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t)
    val b = Seq((4L, Some("delta"), Some(0.0), Some(true), Some(0)))
      .toDF("k", "s", "d", "b", "i")
    b.write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t)
    val got = readBack(t)
    // the pin is field names/types/order; nullability is deliberately
    // WIDENED at persist time (an appendable table's later commits may
    // carry nulls the first writer's frame happened not to) — EXCEPT
    // the primary key, which the table advertises NOT NULL (Cassandra's
    // rule; writes of nullable sources get a runtime null check)
    assert(got.schema ===
      org.apache.spark.sql.types.StructType(
        a.schema.fields.map(f =>
          f.copy(nullable = f.name != "k"))))
    val want = a.unionAll(b)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // a third append with a drifted schema must fail LOUDLY — silent
    // drift would corrupt every older file's decode
    val bad = Seq((9L, 1.0)).toDF("k", "s")
    val e = intercept[Exception] {
      bad.write.format("graft.sources.KeyedTable")
        .option("key", "k").mode("append").save(t)
    }
    assert(e.getMessage != null)
    assert(readBack(t).count() === 4L, "failed append must commit nothing")
    // a caller-supplied READ schema that differs from the committed
    // one must fail loudly too — decoding a length-framed binary with
    // the wrong frame plan would yield garbage values, not errors
    val e2 = intercept[Exception] {
      spark.read.format("graft.sources.KeyedTable")
        .schema("k LONG, s LONG, d DOUBLE, b BOOLEAN, i INT")
        .load(t).collect()
    }
    assert(e2.getMessage.contains("schema mismatch"),
      s"wrong read schema not rejected: ${e2.getMessage}")
    // ...but a nullability-only difference decodes identically (the
    // null flag is always framed) and must NOT be rejected: DDL
    // schemas default every field nullable
    val ddl = spark.read.format("graft.sources.KeyedTable")
      .schema("k LONG, s STRING, d DOUBLE, b BOOLEAN, i INT")
      .load(t)
    assert(ddl.count() === 4L,
      "nullability-only schema difference was spuriously rejected")
  }

  test("writes are key-clustered by the planner: committed shards hold disjoint key sets") {
    val t = newTarget()
    spark.range(0, 1000).select(col("id").as("k"),
        (col("id") * 31 % 100000).as("cents"))
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .mode("append").save(t)
    // the requiredDistribution contract, observed from storage: one
    // key's rows land in ONE shard (clustered), so per-file key sets
    // are pairwise disjoint; the file= option reads a single shard
    val files = new java.io.File(s"$t/data").listFiles()
      .map(_.getName).filter(_.endsWith(".rows")).toSeq
    assert(files.size === 4, s"expected 4 shards, got $files")
    val keySets = files.map { f =>
      readBack(t).queryExecution // force a fresh plan per option set
      spark.read.format("graft.sources.KeyedTable")
        .option("file", f).load(t)
        .select("k").collect().map(_.getLong(0)).toSet
    }
    for (i <- keySets.indices; j <- keySets.indices if i < j)
      assert(keySets(i).intersect(keySets(j)).isEmpty,
        s"shards $i and $j share keys — writes not key-clustered")
    assert(keySets.map(_.size).sum === 1000)
  }

  test("manifest visibility: staged or stray bytes in data/ are never rows") {
    val t = newTarget()
    spark.range(0, 100).select(col("id").as("k"), lit("x").as("v"))
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t)
    assert(readBack(t).count() === 100L)
    // simulate a crashed writer (inprogress) and a task-committed but
    // never driver-committed attempt (a .rows file no manifest lists)
    val data = new java.io.File(s"$t/data")
    java.nio.file.Files.write(
      data.toPath.resolve(".part-9-999-dead.rows.inprogress"),
      Array.fill[Byte](64)(7))
    java.nio.file.Files.write(
      data.toPath.resolve("part-9-999-orphan.rows"),
      Array.fill[Byte](64)(7))
    assert(readBack(t).count() === 100L,
      "uncommitted bytes in data/ leaked into the read")
    // vacuum reaps exactly the garbage: with zero grace both stray
    // files go, every committed shard stays, rows unchanged; a
    // day-long grace protects files that could belong to an
    // in-flight write
    assert(graft.sources.KeyedTable.vacuum(t).isEmpty,
      "default grace must protect young files")
    val reaped = graft.sources.KeyedTable.vacuum(t, graceMs = 0L)
    assert(reaped.toSet ===
      Set(".part-9-999-dead.rows.inprogress", "part-9-999-orphan.rows"),
      s"vacuum reaped the wrong set: $reaped")
    assert(readBack(t).count() === 100L,
      "vacuum touched committed data")
  }

  test("exactly-once under write-task retry: a mid-partition failure leaves no trace (forked JVM)") {
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(java, "-cp", cp, "-Xmx2g",
      "graft.ChaosKeyedWriteMain")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val rc = proc.waitFor()
    assert(rc === 0, s"chaos write failed rc=$rc:\n$out")
    assert(out.contains("[chaos-ktable] OK"), s"missing success marker:\n$out")
  }

  test("the AppendSink adapter drives the V2 write path") {
    val t = newTarget()
    val df = spark.range(0, 500).select(col("id").as("k"),
      concat(lit("p"), col("id")).as("payload"))
    graft.pipeline.V2KeyedTableSink("k", writeParallelism = 4).append(df, t)
    val got = readBack(t)
    assert(got.exceptAll(df).isEmpty && df.exceptAll(got).isEmpty)
    // appends accumulate through the seam, like every other AppendSink
    graft.pipeline.V2KeyedTableSink("k", writeParallelism = 4).append(df, t)
    assert(readBack(t).count() === 1000L)
  }

  test("re-declaring an unchanged contract writes nothing; a changed one merges under the lock") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = newTarget()
    Seq((1L, 2L, 3L)).toDF("k", "ck", "v").write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("append").save(t)
    graft.sources.KeyedTableOps.declareTable(t, "k", 4, clustering = Seq("ck"))
    val props = new java.io.File(t, "_props").toPath
    val before = java.nio.file.Files.readAllLines(props)
    // backdate: any rewrite would stamp a fresh mtime
    val mtime = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 60000)
    java.nio.file.Files.setLastModifiedTime(props, mtime)
    // another maintainer holds the lock: an unchanged re-declare (full,
    // or a subset of the stored entries) must not wait for it
    val lock = new java.io.File(t, "_commits/.maint.lock").toPath
    java.nio.file.Files.write(lock, "other-maintainer".getBytes("UTF-8"))
    val changed = try {
      graft.sources.KeyedTableOps.declareTable(t, "k", 4, clustering = Seq("ck"))
      graft.sources.KeyedTableOps.declareTable(t, "k", 4)
      assert(java.nio.file.Files.getLastModifiedTime(props) === mtime)
      assert(java.nio.file.Files.readAllLines(props) === before)
      val f = Future(graft.sources.KeyedTableOps.declareTable(t, "k", 8))
      Thread.sleep(500)
      assert(!f.isCompleted, "a changed contract must wait for the maintenance lock")
      f
    } finally java.nio.file.Files.delete(lock)
    Await.result(changed, scala.concurrent.duration.Duration(30, "s"))
    assert(java.nio.file.Files.readAllLines(props).toArray.toSet ===
      Set("key=k", "writePartitions=8", "clustering=ck"))
    assert(readBack(t).count() === 1L)
  }

  test("two streams appending to one table never collide on epoch numbers") {
    import org.apache.spark.sql.streaming.Trigger
    // the epoch-manifest scoping contract: manifests are named by
    // (stable query id, epoch), so TWO distinct streaming queries —
    // each starting at epoch 0 on its own checkpoint — can append to
    // the SAME table without one's epoch-0 manifest making the
    // other's epoch-0 commit look like a replay and silently DROP its
    // rows (the pre-fix failure mode)
    val base = java.nio.file.Files.createTempDirectory("graft_ktable_two_")
    val t = s"$base/t"
    def stream(ckpt: String, lo: Long, hi: Long): Unit = {
      val q = spark.readStream.format("graft.sources.SyntheticDocs")
        .option("rows", "1000").option("partitions", "2")
        .option("rowsPerTrigger", "250").load()
        .where(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id").as("k"), col("lang"))
        .writeStream.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "2")
        .option("path", t).option("checkpointLocation", s"$base/$ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "two-stream append did not finish")
    }
    stream("cpA", 0L, 500L)
    stream("cpB", 500L, 1000L) // same epoch numbers, different query id
    val got = readBack(t)
    assert(got.count() === 1000L,
      "a second stream's epochs collided with the first's manifests " +
        "and its rows were dropped as a false replay")
    assert(got.select("k").distinct().count() === 1000L)
  }

  test("tail stream: new commits flow incrementally, paced per manifest, no re-delivery") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ktable_tail_")
    val t = s"$base/t"
    val outDir = s"$base/out"
    val cp = s"$base/ckpt"
    def append(lo: Long, hi: Long): Unit =
      spark.range(lo, hi).select(col("id").as("k"),
          concat(lit("v"), col("id")).as("payload"))
        .write.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "2")
        .mode("append").save(t)
    def tailOnce(): Long = {
      val q = spark.readStream.format("graft.sources.KeyedTable")
        .option("manifestsPerTrigger", "1")
        .load(t)
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", cp)
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "tail stream did not finish")
      q.recentProgress.count(_.numInputRows > 0)
    }
    // three separate commits, then one tail run: admission control at
    // one manifest per trigger must walk them in three micro-batches
    append(0, 100); append(100, 250); append(250, 300)
    assert(tailOnce() === 3,
      "manifest pacing did not yield one micro-batch per commit")
    val firstWave = spark.read.parquet(outDir)
    assert(firstWave.count() === 300L)
    // a LATER commit arrives; resuming the same checkpoint must
    // deliver exactly the delta — re-delivering an old manifest would
    // duplicate rows, skipping the new one would lose them
    append(300, 450)
    assert(tailOnce() === 1)
    val all = spark.read.parquet(outDir)
    assert(all.count() === 450L)
    val want = spark.read.format("graft.sources.KeyedTable").load(t)
    assert(all.exceptAll(want).isEmpty && want.exceptAll(all).isEmpty,
      "tailed union differs from the table's batch read")
  }

  test("streaming write: epoch manifests make a replayed batch a no-op") {
    import org.apache.spark.sql.streaming.Trigger
    val base = java.nio.file.Files.createTempDirectory("graft_ktable_stream_")
    val t = s"$base/t"
    val cp = s"$base/ckpt"
    def run(): Unit = {
      val q = spark.readStream.format("graft.sources.SyntheticDocs")
        .option("rows", "1000").option("partitions", "4")
        .option("rowsPerTrigger", "250").load()
        .writeStream.format("graft.sources.KeyedTable")
        .option("key", "user_id").option("writePartitions", "4")
        .option("path", t)
        .option("checkpointLocation", cp)
        .outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "keyed-table stream did not finish")
    }
    run()
    val batch = spark.read.format("graft.sources.SyntheticDocs")
      .option("rows", "1000").option("partitions", "4").load()
    val got1 = readBack(t)
    assert(got1.count() === 1000L)
    assert(got1.exceptAll(batch).isEmpty && batch.exceptAll(got1).isEmpty)
    // crash-amnesia replay: drop the LAST batch's entry from the
    // checkpoint's commit log (the crash window is "sink committed,
    // checkpoint did not") — recovery re-runs that batch and the
    // epoch-named manifest must absorb the replay
    val commits = new java.io.File(s"$cp/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty)
    assert(commits.last.delete())
    // also the local-FS checksum sibling, or the re-commit's rename
    // trips over the stale crc
    val crc = new java.io.File(commits.last.getParentFile,
      s".${commits.last.getName}.crc")
    if (crc.exists()) crc.delete()
    run()
    val got2 = readBack(t)
    assert(got2.count() === 1000L,
      "replayed epoch doubled its rows — epoch manifest did not absorb it")
    assert(got2.exceptAll(batch).isEmpty && batch.exceptAll(got2).isEmpty)
  }
}
