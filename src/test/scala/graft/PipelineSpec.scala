package graft

import graft.SessionConf.withConfs
import graft.ops.Relational
import graft.pipeline._
import graft.queries.PipelineQueries
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** E2E tests of the L2 runtime's behavioral contracts (SURVEY.md §7.4):
  * staged layout, per-file checkpoints, kill-and-resume skip semantics,
  * idempotent re-run, and the retry loop. All on file:// — the Hadoop
  * FS code path is identical for s3a. */
class PipelineSpec extends SparkSpecBase {

  private def freshWorkspace(): String =
    Files.createTempDirectory("graft_test_").toString

  private def run(ws: String, sink: AppendSink = ParquetAppendSink): JobSpec = {
    val sp = PipelineQueries.spec(ws)
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = sink, retryInitialDelayMs = 1).runAll()
    sp
  }

  private def expectedRows: Long =
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where("l_quantity >= 20 AND l_quantity <= 45")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .where("o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT','2-HIGH','3-MEDIUM')"),
        expr("l_orderkey = o_orderkey"))
      .join(spark.read.parquet(s"$sfDir/customer.parquet"), expr("o_custkey = c_custkey"))
      .join(spark.read.parquet(s"$sfDir/nation.parquet")
        .where("n_name IN ('NATION_1','NATION_3','NATION_5','NATION_7','NATION_9','NATION_11')"),
        expr("c_nationkey = n_nationkey"))
      .count()

  private def expr(s: String) = org.apache.spark.sql.functions.expr(s)

  test("full run: staged layout, checkpoints, and loaded rows") {
    val sp = run(freshWorkspace())
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    assert(storage.datasetExists(sp.rawDir("lineitem")))
    assert(storage.datasetExists(sp.rawDir("nation")))
    assert(storage.datasetExists(sp.transformedDir("enriched_lineitem")))
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.nonEmpty)
    files.foreach { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      assert(storage.checkpointExists(sp.checkpointDir("enriched_lineitem"), name))
    }
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)
    assert(loaded.columns.sorted === Array("customer_name", "line_no", "nation",
      "order_id", "price", "priority", "qty", "segment"))
  }

  test("vacuum: staging residue removed only once fully committed; target intact") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    val p = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    // nothing loaded yet → refuses
    assert(!p.vacuum("enriched_lineitem"))
    p.runAll()
    // knock out one checkpoint marker → "incomplete load" → refuses
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    val name0 = files.head.substring(files.head.lastIndexOf('/') + 1)
    storage.delete(storage.checkpointMarker(
      sp.checkpointDir("enriched_lineitem"), name0).toString)
    assert(!p.vacuum("enriched_lineitem"),
      "must refuse while a transformed file is unconfirmed")
    storage.createCheckpoint(sp.checkpointDir("enriched_lineitem"), name0)
    // fully committed → vacuums staging + checkpoints, keeps the target
    assert(p.vacuum("enriched_lineitem"))
    assert(!storage.datasetExists(sp.transformedDir("enriched_lineitem")))
    assert(!storage.datasetExists(sp.rawDir("lineitem")))
    assert(!new java.io.File(sp.checkpointDir("enriched_lineitem")).exists())
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
      === expectedRows)
  }

  test("observed stage counts: extract/transform rows recorded by the write job itself") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    val p = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // the observe-derived counts equal what the staged datasets hold —
    // the reference's py:124/py:148 counts without their extra scans
    assert(p.stageCounts("enriched_lineitem/transform") === expectedRows)
    val rawLineitem = spark.read.parquet(sp.rawDir("lineitem")).count()
    assert(p.stageCounts("enriched_lineitem/extract_lineitem") === rawLineitem)
    assert(p.stageCounts.keySet.exists(_.endsWith("extract_nation")))
    // resume run stages nothing → observes nothing
    val p2 = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p2.runAll()
    assert(p2.stageCounts.isEmpty)
  }

  test("parallel runAll: disjoint tables genuinely race under one lease") {
    val ws = freshWorkspace()
    val t1 = TableSpec("t_cust_orders",
      Seq(SourceSpec("orders"), SourceSpec("customer")),
      root = "orders",
      joins = Seq(JoinSpec("customer", "o_custkey", "c_custkey")),
      transformedColumns = Seq("o_orderkey AS k", "c_name AS customer_name"))
    val t2 = TableSpec("t_supp_nation",
      Seq(SourceSpec("supplier"), SourceSpec("nation")),
      root = "supplier",
      joins = Seq(JoinSpec("nation", "s_nationkey", "n_nationkey")),
      transformedColumns = Seq("s_suppkey AS k", "n_name AS nation"))
    val sp = JobSpec(ws, Seq(t1, t2))
    // proof of true concurrency: each table's root-source extract
    // blocks on a two-party barrier — only two tables IN FLIGHT AT
    // ONCE can both reach it; a sequential driver times out the first
    // await and the flag stays false
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    @volatile var concurrent = false
    val src: SourceSpec => DataFrame = s2 => {
      if (s2.name == "orders" || s2.name == "supplier") {
        try {
          barrier.await(20, java.util.concurrent.TimeUnit.SECONDS)
          concurrent = true
        } catch { case _: Exception => () }
      }
      Relational.scanParquet(spark, s"$sfDir/${s2.name}.parquet")
    }
    new Pipeline(spark, sp, src, retryInitialDelayMs = 1).runAll(parallelism = 2)
    assert(concurrent, "tables with disjoint sources did not run concurrently")
    // no interleaved checkpoint state: each table's checkpoint dir
    // holds markers for exactly its own transformed files
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    Seq("t_cust_orders", "t_supp_nation").foreach { t =>
      val files = storage.listParquet(sp.transformedDir(t))
        .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      assert(files.nonEmpty)
      val markers = new java.io.File(sp.checkpointDir(t)).list()
        .filter(_.endsWith(".checkpoint"))
        .map(_.stripSuffix(".checkpoint")).toSet
      assert(markers === files,
        s"$t checkpoints ($markers) don't match its transformed files ($files)")
    }
    assert(spark.read.parquet(sp.targetDir("t_cust_orders")).count() ===
      spark.read.parquet(s"$sfDir/orders.parquet").count())
    assert(spark.read.parquet(sp.targetDir("t_supp_nation")).count() ===
      spark.read.parquet(s"$sfDir/supplier.parquet").count())
  }

  test("parallel runAll: tables sharing a source run in separate waves, extract once") {
    val ws = freshWorkspace()
    def table(name: String, dim: String, joinL: String, joinR: String,
        cols: Seq[String]) = TableSpec(name,
      Seq(SourceSpec("orders"), SourceSpec(dim)),
      root = "orders", joins = Seq(JoinSpec(dim, joinL, joinR)),
      transformedColumns = cols)
    val sp = JobSpec(ws, Seq(
      table("t_a", "customer", "o_custkey", "c_custkey",
        Seq("o_orderkey AS k", "c_name AS customer_name")),
      table("t_b", "customer", "o_custkey", "c_custkey",
        Seq("o_orderkey AS k", "c_mktsegment AS segment"))))
    val extracts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val src: SourceSpec => DataFrame = s2 => {
      extracts.merge(s2.name, 1, (a, b) => a + b)
      Relational.scanParquet(spark, s"$sfDir/${s2.name}.parquet")
    }
    new Pipeline(spark, sp, src, retryInitialDelayMs = 1).runAll(parallelism = 2)
    // wave scheduling: t_b waited for t_a, found orders/customer staged,
    // and extracted NOTHING — one staging job per source, never a race
    assert(extracts.get("orders") === 1,
      s"shared source extracted ${extracts.get("orders")} times")
    assert(extracts.get("customer") === 1)
    val n = spark.read.parquet(s"$sfDir/orders.parquet").count()
    assert(spark.read.parquet(sp.targetDir("t_a")).count() === n)
    assert(spark.read.parquet(sp.targetDir("t_b")).count() === n)
  }

  test("footer row counts match data row counts") {
    val sp = run(freshWorkspace())
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    files.foreach(f => assert(storage.footer(f)._1 === spark.read.parquet(f).count(), f))
    assert(files.map(storage.footer(_)._1).sum === expectedRows)
  }

  test("footer schema equals the inferred schema of every staged file") {
    val sp = run(freshWorkspace())
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val dirs = sp.transformedDir("enriched_lineitem") +:
      sp.tables.head.sources.map(s => sp.rawDir(s.name))
    val files = dirs.flatMap(storage.listParquet)
    assert(files.size > dirs.size)
    files.foreach(f => assert(storage.footer(f)._2 === Some(spark.read.parquet(f).schema), f))
  }

  test("checkpointed: one listing of marker names; missing dir is empty") {
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val dir = s"${freshWorkspace()}/checkpoints"
    assert(storage.checkpointed(dir) === Set.empty)
    storage.createCheckpoint(dir, "part-0.parquet")
    storage.createCheckpoint(dir, "part-1.parquet")
    Files.write(java.nio.file.Paths.get(dir, "stray.txt"), Array[Byte](1))
    new java.io.File(dir, "nested.checkpoint").mkdir()
    // the local FS writes a checksum sidecar beside every marker
    assert(new java.io.File(dir, ".part-0.parquet.checkpoint.crc").exists())
    assert(storage.checkpointed(dir) === Set("part-0.parquet", "part-1.parquet"))
    assert(storage.checkpointExists(dir, "part-0.parquet"))
  }

  test("resume load runs one Spark job per staged file; a no-op re-launch runs none") {
    val ws = freshWorkspace()
    val sp = run(ws)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.size >= 2)
    storage.delete(sp.targetDir("enriched_lineitem"))
    storage.delete(sp.checkpointDir("enriched_lineitem"))
    // every staged file is pending: its append is its only job (no
    // schema-inference job ahead of it)
    assert(jobsRun(run(ws)) === files.size)
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem")).count() === expectedRows)
    assert(jobsRun(run(ws)) === 0)
  }

  test("re-run is a no-op: no duplicate loads (checkpoint skip)") {
    val ws = freshWorkspace()
    val sp = run(ws)
    val before = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    run(ws) // second run: transformed exists → straight to load → all skipped
    val after = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    assert(after === before)
  }

  test("kill-and-resume: only non-checkpointed files are re-loaded") {
    val ws = freshWorkspace()
    val sp = run(ws)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.size >= 2, "need >=2 staged files to exercise partial resume")
    // simulate a crash after loading all but one file: drop the target
    // rows of one file and its checkpoint marker
    val victim = files.head
    val victimName = victim.substring(victim.lastIndexOf('/') + 1)
    val victimRows = storage.footer(victim)._1
    storage.delete(sp.targetDir("enriched_lineitem"))
    storage.delete(storage.checkpointMarker(
      sp.checkpointDir("enriched_lineitem"), victimName).toString)
    run(ws)
    // resume appended ONLY the victim file into the (emptied) target
    val after = spark.read.parquet(sp.targetDir("enriched_lineitem")).count()
    assert(after === victimRows)
  }

  test("at-least-once: append sink + post-write checkpoint") {
    // A sink that fails once mid-loop: the retry re-enters the whole
    // loop; files checkpointed before the crash are skipped.
    val ws = freshWorkspace()
    var appends = 0
    var failed = false
    val flaky = new AppendSink {
      def append(df: DataFrame, target: String): Unit = {
        if (appends == 1 && !failed) { failed = true; throw new RuntimeException("boom") }
        appends += 1
        ParquetAppendSink.append(df, target)
      }
    }
    val sp = run(ws, sink = flaky)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(failed, "flaky sink should have thrown once")
    assert(appends === files.size, "each file appended exactly once despite the crash")
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem")).count() === expectedRows)
  }

  test("JobSpec JSON round-trip (config is the query language)") {
    val sp = PipelineQueries.spec("/tmp/ws")
    val json = JobSpec.toJson(sp)
    val back = JobSpec.fromJson(json)
    assert(back === sp)
    // hand-written JSON with unknown fields parses too
    val hand = JobSpec.fromJson(
      """{"workspace":"/tmp/x","unknown_field":1,"tables":[
        |{"targetTable":"t","sources":[{"name":"a","filter":"x > 1"}],
        |"root":"a","joins":[],"transformedColumns":["x AS y"]}]}""".stripMargin)
    assert(hand.tables.head.sources.head.filter === Some("x > 1"))
    assert(hand.tables.head.sources.head.numPartitions === 4)
  }

  test("keyed append sink: partition-key-grouped layout, same rows") {
    val ws = freshWorkspace()
    val sp = run(ws, sink = KeyedParquetAppendSink("nation", taskParallelism = 4))
    val target = sp.targetDir("enriched_lineitem")
    val loaded = spark.read.parquet(target)
    assert(loaded.count() === expectedRows)
    // key-partitioned directory layout (hive-style nation=... dirs)
    val dirs = new java.io.File(target).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.nonEmpty && dirs.forall(_.startsWith("nation=")))
  }

  test("exactly-once sink: crash between write and checkpoint does not duplicate") {
    // a sink that crashes AFTER its first successful write but BEFORE
    // the pipeline checkpoints it — the worst-case window of SURVEY §3.4
    final class CrashOnceAfterWrite(inner: AppendSink) extends AppendSink {
      var writes = 0
      var crashed = false
      def append(df: DataFrame, target: String): Unit =
        append(df, target, "")
      override def append(df: DataFrame, target: String, sourceFile: String): Unit = {
        inner.append(df, target, sourceFile)
        writes += 1
        if (writes == 1 && !crashed) { crashed = true; throw new RuntimeException("crash-after-write") }
      }
    }
    // at-least-once (plain append): the crashed file's rows appear twice
    val ws1 = freshWorkspace()
    run(ws1, sink = new CrashOnceAfterWrite(ParquetAppendSink))
    val dupRows = spark.read.parquet(
      PipelineQueries.spec(ws1).targetDir("enriched_lineitem")).count()
    assert(dupRows > expectedRows, "plain append after crash should duplicate")
    // exactly-once (idempotent overwrite by source file): no duplicates
    val ws2 = freshWorkspace()
    run(ws2, sink = new CrashOnceAfterWrite(IdempotentParquetSink))
    val exactRows = spark.read.parquet(
      PipelineQueries.spec(ws2).targetDir("enriched_lineitem")).count()
    assert(exactRows === expectedRows)
  }

  test("run a job from on-disk JSON config (the config IS the query)") {
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/job_enriched_lineitem.json")), "UTF-8")
    val ws = freshWorkspace()
    val sp = JobSpec.fromJson(json).copy(workspace = ws)
    assert(sp.tables.head.targetTable === "enriched_lineitem_json")
    assert(sp.tables.head.sources.map(_.name) ===
      Seq("lineitem", "orders", "customer", "nation"))
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem_json"))
    assert(loaded.count() === expectedRows)
  }

  test("bucketed-staging example config runs end-to-end with row parity") {
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get("examples/job_bucketed_staging.json")), "UTF-8")
    val ws = freshWorkspace()
    val sp = JobSpec.fromJson(json).copy(workspace = ws)
    assert(sp.tables.head.sources.count(_.bucketKey.isDefined) === 2)
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val want = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .where("l_quantity >= 20 AND l_quantity <= 45")
      .join(spark.read.parquet(s"$sfDir/orders.parquet")
        .where("o_orderstatus = 'F'"), expr("l_orderkey = o_orderkey"))
      .join(spark.read.parquet(s"$sfDir/customer.parquet"),
        expr("o_custkey = c_custkey"))
      .count()
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem_bucketed"))
      .count() === want)
  }

  test("bucketed staging: same results, exchange-free join on resume") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    // bucket both sides of the lineitem⋈orders edge on the join key
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "lineitem" =>
        s.copy(bucketKey = Some("l_orderkey"), numBuckets = 4)
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    val loaded = spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)

    // the staged bucket tables exist in the catalog, and the phase-2
    // join edge on the bucket key plans with NO shuffle exchange
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_raw_"))
    assert(tables.exists(_.startsWith("graft_raw_lineitem_")))
    assert(tables.exists(_.startsWith("graft_raw_orders_")))
    withConfs(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> Some("-1"))) {
      val li = spark.table(tables.find(_.startsWith("graft_raw_lineitem_")).get)
      val o = spark.table(tables.find(_.startsWith("graft_raw_orders_")).get)
      val plan = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed staging should make the join exchange-free:\n$plan")
    }

    // resume: a second run skips extract (tables exist) and re-delivers
    // nothing new (checkpoints hold)
    new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1).runAll()
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("vacuum: bucketed staging drops the catalog table and its storage") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    val p = new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // exact per-workspace name (a prefix search could land on another
    // test's staged table from a different, un-vacuumed workspace)
    val tbl = s"graft_raw_orders_${Integer.toHexString(ws.hashCode)}"
    assert(spark.catalog.tableExists(tbl))
    val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
      .find(_.getString(0).trim == "Location").map(_.getString(1).trim).get
    val locPath = new org.apache.hadoop.fs.Path(loc)
    val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(locPath), "staged bucket table data must exist pre-vacuum")
    assert(p.vacuum("enriched_lineitem"))
    assert(!spark.catalog.tableExists(tbl),
      "vacuum must drop the staged bucket table from the catalog")
    assert(!fs.exists(locPath),
      "vacuum must remove the staged bucket table's storage")
    // the loaded target is untouched
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("vacuum: bucketed orphan files with NO catalog entry are swept") {
    // a staged-table write that dies before committing to the catalog
    // leaves files at the default managed location with no table
    // pointing at them; vacuum must sweep that derivable path like the
    // non-bucketed branch's unconditional rawDir delete
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "orders" =>
        s.copy(bucketKey = Some("o_orderkey"), numBuckets = 4)
      case s => s
    })))
    val p = new Pipeline(spark, bucketed,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      retryInitialDelayMs = 1)
    p.runAll()
    // simulate the half-dead write: drop the catalog entry but leave
    // (recreate) files at the default warehouse location for the table
    val tbl = s"graft_raw_orders_${Integer.toHexString(ws.hashCode)}"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    val orphan = new java.io.File(s"$wh/$tbl")
    orphan.mkdirs()
    val stray = new java.io.File(orphan, "part-orphan.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    assert(p.vacuum("enriched_lineitem"))
    assert(!orphan.exists(),
      "vacuum must sweep orphan bucket-table files when the catalog entry is absent")
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("bucketed staging: lost table data is detected and rebuilt") {
    val ws = freshWorkspace()
    val base = PipelineQueries.spec(ws)
    val t = base.tables.head
    val bucketed = base.copy(tables = Seq(t.copy(sources = t.sources.map {
      case s if s.name == "nation" => s.copy(bucketKey = Some("n_nationkey"))
      case s => s
    })))
    def runIt(): Pipeline = {
      val p = new Pipeline(spark, bucketed,
        src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
        retryInitialDelayMs = 1)
      p.runAll()
      p
    }
    runIt()
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)

    // simulate storage loss: delete the table's files but keep the
    // catalog entry (what a job death between commit and write, or a
    // lost volume, leaves behind)
    val tbl = spark.catalog.listTables().collect().map(_.name)
      .find(_.startsWith("graft_raw_nation_")).get
    val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
      .find(_.getString(0).trim == "Location").get.getString(1).trim
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(loc), spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(loc), true))
    spark.catalog.refreshTable(tbl)
    // wipe downstream state so the table is actually needed again
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    assert(new scala.reflect.io.Directory(
      new java.io.File(ws)).deleteRecursively())

    val rebuilt = runIt() // must detect the unreadable table and rebuild it
    assert(spark.table(tbl).count() > 0)
    assert(rebuilt.stageCounts.get("enriched_lineitem/extract_nation") ===
      Some(spark.table(tbl).count()))
    assert(spark.read.parquet(bucketed.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("forked-JVM kill mid-load: resume delivers exactly once") {
    val ws = freshWorkspace()
    val java = s"${System.getProperty("java.home")}/bin/java"
    val cp = System.getProperty("java.class.path")
    val pb = new ProcessBuilder(java, "-cp", cp, "-Xmx2g",
      "graft.CrashLoadMain", ws, sfDir, "1")
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val rc = proc.waitFor()
    assert(rc === 137, s"expected the forked JVM to halt(137), got $rc:\n$out")

    // the crash window: >=1 file's data landed without its checkpoint
    val sp = PipelineQueries.spec(ws)
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    val files = storage.listParquet(sp.transformedDir("enriched_lineitem"))
    assert(files.nonEmpty, s"transform phase should have completed:\n$out")
    val unCheckpointed = files.map(f => f.substring(f.lastIndexOf('/') + 1))
      .filterNot(n => storage.checkpointExists(sp.checkpointDir("enriched_lineitem"), n))
    assert(unCheckpointed.nonEmpty, "crash should leave a written-but-unmarked file")

    // the dead JVM also left its workspace lease behind — the resume
    // takes it over via TTL expiry (leaseTtlMs=1: any mtime is stale)
    // rather than failing WorkspaceBusy forever
    assert(new _root_.java.io.File(ws, "_LEASE").exists(),
      "crashed run should leave its lease marker")

    // resume in-process with the same idempotent sink: the unmarked
    // file re-runs as an overwrite of the same src= path → exactly once
    new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = IdempotentParquetSink, retryInitialDelayMs = 1, leaseTtlMs = 1).runAll()
    val loaded = spark.read.parquet(sp.targetDir("enriched_lineitem"))
    assert(loaded.count() === expectedRows)
  }

  test("workspace lease: exclusivity, release, TTL takeover, renew") {
    val ws = freshWorkspace()
    val conf = spark.sparkContext.hadoopConfiguration
    val a = new WorkspaceLease(conf, ws)
    val b = new WorkspaceLease(conf, ws)
    assert(a.tryAcquire())
    assert(!b.tryAcquire(), "second writer must not acquire a held lease")
    assert(a.isHeld && !b.isHeld)
    a.release()
    assert(b.tryAcquire(), "released lease must be acquirable")
    b.release()

    // TTL takeover: a holder that died without releasing
    val dead = new WorkspaceLease(conf, ws, ttlMs = 50)
    assert(dead.tryAcquire())
    val taker = new WorkspaceLease(conf, ws, ttlMs = 50)
    Thread.sleep(120)
    assert(taker.tryAcquire(), "expired lease must be taken over")
    assert(!dead.isHeld, "takeover replaces the dead holder's marker")
    dead.release() // no-op: must not release someone else's lease
    assert(taker.isHeld)

    // renew restarts the TTL window
    Thread.sleep(120)
    taker.renew()
    val late = new WorkspaceLease(conf, ws, ttlMs = 1000)
    assert(!late.tryAcquire(), "renewed lease is not expired")
    taker.release()
  }

  test("two concurrent pipelines on one workspace: one runs, one fails fast") {
    val ws = freshWorkspace()
    val sp = PipelineQueries.spec(ws)
    def mk() = new Pipeline(spark, sp,
      src => Relational.scanParquet(spark, s"$sfDir/${src.name}.parquet"),
      sink = IdempotentParquetSink, retryInitialDelayMs = 1)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Unit]]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    val threads = (1 to 2).map { _ =>
      val th = new Thread(() => {
        gate.await()
        results.add(
          try Right(mk().runAll())
          catch { case t: Throwable => Left(t) })
      })
      th.start(); th
    }
    gate.countDown()
    threads.foreach(_.join(300000))
    val (failed, ok) = results.toArray(Array.empty[Either[Throwable, Unit]])
      .partition(_.isLeft)
    assert(ok.length === 1, s"exactly one writer should win: $results")
    assert(failed.length === 1)
    failed.head.left.foreach(t =>
      assert(t.isInstanceOf[WorkspaceBusyException], s"unexpected failure: $t"))
    // the winner's output is complete and exactly-once
    assert(spark.read.parquet(sp.targetDir("enriched_lineitem"))
      .count() === expectedRows)
  }

  test("retry: backoff then success; exhaustion rethrows") {
    var calls = 0
    val r = Retry.retry(attempts = 3, initialDelayMs = 1) {
      calls += 1
      if (calls < 3) throw new RuntimeException("transient")
      42
    }
    assert(r === 42 && calls === 3)
    var calls2 = 0
    val e = intercept[RuntimeException] {
      Retry.retry(attempts = 3, initialDelayMs = 1) {
        calls2 += 1; throw new RuntimeException("permanent")
      }
    }
    assert(e.getMessage === "permanent" && calls2 === 3)
  }
}
