package graft

import graft.SessionConf.withConfs
import graft.pipeline.V2KeyedTableSink
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** A local filesystem under a scheme only the SESSION's Hadoop
  * configuration knows — resolvable iff the engine threads that
  * configuration to every driver- AND executor-side table operation.
  * `initialize` additionally demands a marker key, so even a
  * cache-assisted resolution with the wrong conf fails loudly. */
class KSpecFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "kspec"
  override def getUri: java.net.URI = java.net.URI.create("kspec:///")
  override def initialize(uri: java.net.URI,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    require(conf.get("graft.kspec.marker") == "on",
      "KSpecFs initialized from a configuration that is NOT the session's")
    super.initialize(uri, conf)
  }
}

/** The KeyedTable READ half (round 16): session-conf threading,
  * manifest key statistics, file pruning (bucket routing + range
  * overlap), column pruning, clustered reads through the catalog,
  * AvailableNow tail bounding, and manifest compaction. */
class KeyedTableReadSpec extends SparkSpecBase {
  import graft.sources.KeyedTable

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"v$k", k * 10L)).toDF("k", "s", "c")
  }

  private def readBack(target: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(target)

  private def scanOf(df: DataFrame): BatchScanExec = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] =
      p.collect {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case b: BatchScanExec => Seq(b)
      }.flatten
    val scans = walk(df.queryExecution.executedPlan)
    assert(scans.size == 1, s"expected one v2 scan, got ${scans.size}")
    scans.head
  }

  private def shuffleCount(df: DataFrame): Int =
    graft.ops.PlanChecks.countShuffles(df.queryExecution.executedPlan)

  test("session Hadoop conf reaches driver- and executor-side table I/O") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.kspec.impl", classOf[KSpecFs].getName)
    // no cache: every FileSystem.get must carry a conf that can
    // resolve the scheme itself — a fresh `new Configuration()`
    // anywhere in the write/read/manifest path fails immediately
    hc.set("fs.kspec.impl.disable.cache", "true")
    hc.set("graft.kspec.marker", "on")
    try {
      val local = tmpDir("graft_kconf_")
      val target = s"kspec:$local/t"
      V2KeyedTableSink("k", writeParallelism = 4).append(rows(0, 50), target)
      val got = readBack(target)
      assert(got.count() === 50L)
      assert(got.agg(sum(col("c"))).head.getLong(0) === (0L until 50L).map(_ * 10).sum)
      // vacuum (driver-side helper) resolves through the session conf too
      assert(KeyedTable.vacuum(target, graceMs = 0L).isEmpty)
    } finally {
      hc.unset("fs.kspec.impl")
      hc.unset("fs.kspec.impl.disable.cache")
      hc.unset("graft.kspec.marker")
    }
  }

  test("point lookup prunes to one file per commit via bucket routing") {
    val t = tmpDir("graft_kprune_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 100), t)
    sink.append(rows(100, 200), t)
    val committed = KeyedTable.committedFiles(t)
    assert(committed.size === 8, s"expected 2 commits x 4 buckets: $committed")

    val lookup = readBack(t).where(col("k") === 57L)
    val scan = scanOf(lookup)
    // range stats can't isolate a hash-clustered key, the bucket does:
    // exactly one file per commit can hold k=57, and commit 2's range
    // [100,200) excludes it entirely -> 1 planned file of 8
    assert(scan.inputRDD.getNumPartitions === 1,
      s"lookup planned ${scan.inputRDD.getNumPartitions} of ${committed.size} " +
        s"files: ${scan.scan.description()}")
    assert(lookup.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((57L, "v57")))

    // IN-list: one bucket-routed file per commit per listed key, still < all
    val inq = readBack(t).where(col("k").isin(3L, 150L))
    assert(scanOf(inq).inputRDD.getNumPartitions <= 4)
    assert(inq.collect().map(_.getLong(0)).sorted.toSeq === Seq(3L, 150L))

    // range predicate: commit 1's files are all below 100 -> pruned
    val range = readBack(t).where(col("k") >= 150L)
    assert(scanOf(range).inputRDD.getNumPartitions === 4,
      s"range scan kept commit-1 files: ${scanOf(range).scan.description()}")
    assert(range.count() === 50L)

    // no-match lookup plans zero files but still answers correctly
    val miss = readBack(t).where(col("k") === 5000L)
    assert(scanOf(miss).inputRDD.getNumPartitions === 0)
    assert(miss.count() === 0L)

    // pruning filters stay residual: rows are still filtered exactly
    // (a file holds many keys; stats never claimed row-level filtering)
    val bucketMate = readBack(t).where(col("k") === 57L || col("k") === 58L)
    assert(bucketMate.count() === 2L)
  }

  test("double keys: -0.0 and 0.0 are one SQL value for pruning and routing") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_kzero_") + "/t"
    // -0.0 rows isolated in their own commit so a raw-IEEE stats order
    // would record min=max=-0.0 and a 0.0 probe would wrongly prune
    val sink = V2KeyedTableSink("k", writeParallelism = 2)
    sink.append(Seq((-0.0d, "neg")).toDF("k", "s"), t)
    sink.append(Seq((0.0d, "pos"), (1.5d, "x")).toDF("k", "s"), t)
    val zero = readBack(t).where(col("k") === 0.0d)
    assert(zero.collect().map(_.getString(1)).sorted.toSeq === Seq("neg", "pos"),
      "zero-sign pruning dropped a matching row")
    val negZero = readBack(t).where(col("k") === -0.0d)
    assert(negZero.collect().map(_.getString(1)).sorted.toSeq === Seq("neg", "pos"))
    assert(readBack(t).where(col("k") >= 0.0d).count() === 3L)
  }

  test("column pruning reaches the row-log decoder") {
    val t = tmpDir("graft_kcols_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 2).append(rows(0, 40), t)
    val pruned = readBack(t).select(col("c"))
    assert(scanOf(pruned).scan.readSchema().fieldNames.toSeq === Seq("c"),
      s"projection did not prune: ${scanOf(pruned).scan.readSchema()}")
    assert(pruned.agg(sum(col("c"))).head.getLong(0) ===
      (0L until 40L).map(_ * 10).sum)
    // pure-count projection decodes zero fields
    val none = readBack(t).select(lit(1))
    assert(none.count() === 40L)
  }

  test("clustered read through the catalog: key-grouped aggregate plans no exchange") {
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      val t = tmpDir("graft_kclust_") + "/t"
      val sink = V2KeyedTableSink("k", writeParallelism = 4)
      sink.append(rows(0, 100), t)
      sink.append(rows(0, 100), t) // same keys again: groups span commits
      val agg = spark.table(s"graft_keyed.`$t`")
        .groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("c")).as("sc"))
      assert(shuffleCount(agg) == 0,
        s"clustered read still shuffled:\n${agg.queryExecution.executedPlan}")
      // one read partition per proven write bucket
      assert(scanOf(agg).inputRDD.getNumPartitions === 4)
      val got = agg.collect()
      assert(got.length === 100 && got.forall(_.getLong(1) == 2L),
        "grouped read lost or duplicated rows")

      // write buckets disagree across commits -> grouping must turn
      // itself off (correctness over the plan win), per-file plan back
      val t2 = tmpDir("graft_kclust2_") + "/t"
      V2KeyedTableSink("k", writeParallelism = 4).append(rows(0, 50), t2)
      V2KeyedTableSink("k", writeParallelism = 8).append(rows(0, 50), t2)
      val agg2 = spark.table(s"graft_keyed.`$t2`")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(shuffleCount(agg2) > 0,
        "mixed-modulus table still claimed clustering")
      assert(agg2.collect().forall(_.getLong(1) == 2L))

      // with v2 bucketing off, per-file parallelism is kept (8 files,
      // not 4 bucket groups)
      withConfs(spark, Map("spark.sql.sources.v2.bucketing.enabled" -> Some("false"))) {
        val flat = spark.table(s"graft_keyed.`$t`")
        assert(scanOf(flat.select(col("k"))).inputRDD.getNumPartitions === 8)
      }
    }
  }

  test("AvailableNow tail is bounded to the manifests present at prepare time") {
    import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val t = tmpDir("graft_know_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 2)
    sink.append(rows(0, 10), t)
    sink.append(rows(10, 20), t)
    def stream(): MicroBatchStream with SupportsAdmissionControl
        with SupportsTriggerAvailableNow = {
      val props = new java.util.HashMap[String, String]()
      props.put("path", t)
      val provider = new graft.sources.KeyedTable
      val table = provider.getTable(
        provider.inferSchema(new CaseInsensitiveStringMap(props)),
        Array.empty, props)
      table.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
        .newScanBuilder(new CaseInsensitiveStringMap(props)).build()
        .toMicroBatchStream(tmpDir("graft_know_ckpt_"))
        .asInstanceOf[MicroBatchStream with SupportsAdmissionControl
          with SupportsTriggerAvailableNow]
    }
    val bounded = stream()
    bounded.prepareForTriggerAvailableNow()
    sink.append(rows(20, 30), t) // lands mid-run
    val end = bounded.latestOffset(bounded.initialOffset(), ReadLimit.allAvailable())
    assert(end.json().split(",").length === 2,
      s"AvailableNow admitted a mid-run commit: ${end.json()}")
    // an unbounded (processing-trigger) stream sees all three
    val live = stream()
    val liveEnd = live.latestOffset(live.initialOffset(), ReadLimit.allAvailable())
    assert(liveEnd.json().split(",").length === 3)
  }

  test("compaction folds manifests, preserves reads, and keeps a mid-tail offset exact") {
    import org.apache.spark.sql.streaming.Trigger
    val base = tmpDir("graft_kcompact_")
    val t = s"$base/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 2)
    sink.append(rows(0, 10), t)
    sink.append(rows(10, 20), t)

    // run 1 consumes exactly the first two commits
    def run() = spark.readStream.format("graft.sources.KeyedTable")
      .option("manifestsPerTrigger", "1").load(t)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    val q1 = run()
    assert(q1.awaitTermination(120000), "tail run 1 hung")
    assert(spark.read.parquet(s"$base/out").count() === 20L)

    // a third commit lands, then the table compacts: physical manifest
    // files collapse to one, logical names (the offset alphabet) survive
    sink.append(rows(20, 30), t)
    val before = KeyedTable.committedFiles(t).toSet
    val folded = KeyedTable.compact(t)
    assert(folded.size === 3, s"expected 3 folded manifests: $folded")
    assert(KeyedTable.committedFiles(t).toSet === before,
      "compaction changed the committed file set")
    val physical = new java.io.File(s"$t/_commits").listFiles()
      .map(_.getName).filter(_.endsWith(".manifest"))
    assert(physical.length === 1 && physical.head.startsWith("compact-"),
      s"compaction left ${physical.toSeq}")

    // batch read-back through the compacted manifest is intact
    assert(readBack(t).count() === 30L)

    // run 2 resumes from the pre-compaction offset: exactly commit 3's
    // rows flow (no re-delivery of compacted-away names, no loss)
    val q2 = run()
    assert(q2.awaitTermination(120000), "tail run 2 hung")
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() === 30L, s"resume after compaction delivered ${got.count()}")
    assert(got.groupBy(col("k")).count().where(col("count") =!= 1L).count() === 0L,
      "a key was re-delivered or lost across compaction")

    // compacting a compacted table is a no-op (single physical file)
    assert(KeyedTable.compact(t).isEmpty)
  }

  test("runtime filtering: a broadcast dim's keys prune fact files mid-execution") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_krt_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 100), t)
    sink.append(rows(100, 200), t)
    // the DPP shape: fact ⋈ dim on the fact's key with a selective dim
    // predicate — the dim's surviving keys arrive at the scan as a
    // runtime IN filter and bucket-route files mid-execution. The dim
    // must be a REAL source (an in-memory LocalRelation folds the
    // selective filter away and the pruning rule never fires)
    val base = tmpDir("graft_krt_dim_")
    Seq((5L, "keep"), (157L, "keep"), (42L, "drop")).toDF("id", "tag")
      .write.parquet(s"$base/dim")
    val dim = s.read.parquet(s"$base/dim")
    val fact = readBack(t)
    val joined = fact.join(dim.where(col("tag") === "keep"),
      fact("k") === col("id"))
    val got = joined.collect()
    assert(got.map(_.getLong(0)).sorted.toSeq === Seq(5L, 157L))
    // post-execution, the scan's partition plan reflects the runtime
    // prune: <=1 file per (commit, surviving key), not all 8
    val scan = scanOf(joined)
    assert(scan.inputRDD.getNumPartitions <= 2,
      s"runtime filter did not prune: ${scan.inputRDD.getNumPartitions} " +
        s"partitions, ${scan.scan.description()}")
  }

  test("manifest-metadata aggregate pushdown: count/min/max cost zero row-log bytes") {
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, SortAggregateExec}
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_kagg_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append(rows(0, 100), t)
    // second commit carries null NON-key values: count(*) vs count(s)
    // must differ (the primary key itself is NOT NULL by contract)
    sink.append(Seq((100L, Option("x"), 1L), (101L, Option.empty[String], 2L),
      (102L, Option.empty[String], 3L)).toDF("k", "s", "c"), t)
    val df = readBack(t).agg(count(lit(1)).as("n"), count(col("k")).as("nk"),
      min(col("k")).as("lo"), max(col("k")).as("hi"))
    assert(scanOf(df).scan.description().contains("pushedAggregates="),
      s"aggregate did not push: ${scanOf(df).scan.description()}")
    assert(df.queryExecution.executedPlan.collect {
      case h: HashAggregateExec => h
      case a: SortAggregateExec => a
    }.isEmpty, "complete pushdown still planned an aggregate")
    assert(df.head.toSeq === Seq(103L, 103L, 0L, 102L))
    // NON-key columns push too (round 17 — all-column zone maps carry
    // nulls/min/max for every column, and the recorded bounds are
    // actual data values, so the fold is exact)
    val nonKey = readBack(t).agg(min(col("c")).as("m"),
      max(col("s")).as("hi_s"), count(col("s")).as("ns"),
      count(lit(1)).as("n"))
    assert(scanOf(nonKey).scan.description().contains("pushedAggregates="),
      s"non-key aggregate did not push: ${scanOf(nonKey).scan.description()}")
    assert(nonKey.queryExecution.executedPlan.collect {
      case h: HashAggregateExec => h
      case a: SortAggregateExec => a
    }.isEmpty, "complete non-key pushdown still planned an aggregate")
    assert(nonKey.head.toSeq === Seq(0L, "x", 101L, 103L))
    // SUM folds from the per-file sums the writer tracks (round 19):
    // exact for long columns, SQL empty-input semantics preserved
    val summed = readBack(t).agg(sum(col("c")).as("sc"),
      count(lit(1)).as("n"))
    assert(scanOf(summed).scan.description().contains("agg_sum"),
      s"SUM did not push: ${scanOf(summed).scan.description()}")
    assert(summed.queryExecution.executedPlan.collect {
      case h: HashAggregateExec => h
      case a: SortAggregateExec => a
    }.isEmpty, "complete SUM pushdown still planned an aggregate")
    // sum(c) = sum(k*10, k<100) + (1+2+3) over the second commit
    assert(summed.head.toSeq === Seq(49506L, 103L))
    // a column with ZERO non-null values sums to SQL NULL, not 0
    val tn = tmpDir("graft_kaggn_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 2).append(
      Seq((1L, None: Option[Long]), (2L, None: Option[Long]))
        .toDF("k", "c"), tn)
    val nullSum = readBack(tn).agg(sum(col("c")).as("sc"))
    assert(scanOf(nullSum).scan.description().contains("agg_sum"))
    assert(nullSum.head.isNullAt(0), "empty-input SUM must be NULL")
    // refusals keep Spark's own aggregate exact: residual predicate,
    // GROUP BY, distinct
    val filtered = readBack(t).where(col("k") >= 50L)
      .agg(count(lit(1)).as("n"))
    assert(!scanOf(filtered).scan.description().contains("pushedAggregates"),
      "pushed an aggregate under a residual predicate")
    assert(filtered.head.getLong(0) === 53L)
    val grouped = readBack(t).groupBy(col("s")).count()
    assert(!scanOf(grouped).scan.description().contains("pushedAggregates"))
    assert(grouped.count() === 102L) // v0..v99, "x", and the null group
    val distinctAgg = readBack(t).agg(countDistinct(col("k")).as("nd"))
    assert(!scanOf(distinctAgg).scan.description()
      .contains("pushedAggregates"))
    assert(distinctAgg.head.getLong(0) === 103L)
  }

  test("named batch commits: a re-run of the same logical append is a no-op") {
    val t = tmpDir("graft_knamed_") + "/t"
    def write(name: String, df: DataFrame): Unit =
      df.write.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "2")
        .option("commitName", name).mode("append").save(t)
    write("file-A", rows(0, 20))
    write("file-A", rows(0, 20)) // the resume replay: same name, no-op
    assert(readBack(t).count() === 20L,
      "a replayed named commit duplicated rows")
    write("file-B", rows(20, 30)) // a different append still lands
    assert(readBack(t).count() === 30L)
    // the replay's re-staged files were dropped at commit: nothing for
    // vacuum to reap, nothing invisible accumulating
    assert(KeyedTable.vacuum(t, graceMs = 0L).isEmpty)
    // the no-op holds across compaction (logical-name probe)
    assert(KeyedTable.compact(t).size === 2)
    write("file-A", rows(0, 20))
    assert(readBack(t).count() === 30L,
      "compaction un-no-op'ed a named replay")
  }

  test("storage-partitioned join: two keyed tables join with zero shuffle") {
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      val base = tmpDir("graft_kspj_")
      val left = s"$base/left"
      val right = s"$base/right"
      val sink = V2KeyedTableSink("k", writeParallelism = 4)
      sink.append(rows(0, 100), left)
      sink.append(rows(100, 200), left)
      sink.append(rows(50, 150), right)
      val l = spark.table(s"graft_keyed.`$left`")
      val r = spark.table(s"graft_keyed.`$right`")
      // join + keyed aggregate: the whole chain rides the write-time
      // clustering — zero Exchange anywhere
      val joined = l.join(r, Seq("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(shuffleCount(joined) == 0,
        s"SPJ shuffled:\n${joined.queryExecution.executedPlan}")
      assert(joined.count() === 100L)
      // row-level equality against the plain (shuffled) join
      val plain = readBack(left).join(readBack(right), Seq("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(joined.exceptAll(plain).isEmpty && plain.exceptAll(joined).isEmpty)
    }
  }

  test("SQL surface through the catalog: CREATE TABLE, INSERT INTO, SELECT, DROP") {
    // register flips the session's v2-bucketing conf: scope it like
    // the sibling tests so no later suite inherits a plan change
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
    val t = tmpDir("graft_ksql_") + "/t"
    spark.sql(s"""CREATE TABLE graft_keyed.`$t` (k BIGINT, s STRING, c BIGINT)
      |TBLPROPERTIES ('key'='k', 'writePartitions'='4')""".stripMargin)
    // CREATE TABLE persisted the write contract: INSERT clusters on k
    spark.sql(s"INSERT INTO graft_keyed.`$t` " +
      "SELECT id, concat('v', id), id * 10 FROM range(0, 50)")
    spark.sql(s"INSERT INTO graft_keyed.`$t` " +
      "SELECT id, concat('v', id), id * 10 FROM range(50, 80)")
    assert(graft.sources.KeyedTable.committedFiles(t).size === 8,
      "INSERT did not honor the persisted writePartitions=4 contract")
    val got = spark.sql(
      s"SELECT count(*) AS n, sum(c) AS sc FROM graft_keyed.`$t`").head
    assert(got.getLong(0) === 80L)
    assert(got.getLong(1) === (0L until 80L).map(_ * 10).sum)
    // the SQL read path carries the same pushdown ladder
    val lookup = spark.sql(s"SELECT s FROM graft_keyed.`$t` WHERE k = 7")
    assert(lookup.collect().map(_.getString(0)).toSeq === Seq("v7"))
    // a second CREATE fails; DROP removes the table; typo paths refuse
    intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_keyed.`$t` (x BIGINT)")
    }
    spark.sql(s"DROP TABLE graft_keyed.`$t`")
    assert(!new java.io.File(t).exists(), "DROP TABLE left the directory")
    intercept[Exception] { spark.sql(s"SELECT * FROM graft_keyed.`$t`") }
    }
  }

  test("catalog INSERT INTO a sink-created table infers the original write contract") {
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      val t = tmpDir("graft_kinfer_") + "/t"
      // sink-created: no _props file — the catalog must infer
      // (key=k, modulus=4) from the committed manifests, NOT guess
      // defaults that would mix moduli across commits
      V2KeyedTableSink("k", writeParallelism = 4).append(rows(0, 50), t)
      spark.sql(s"INSERT INTO graft_keyed.`$t` " +
        "SELECT id, concat('v', id), id * 10 FROM range(50, 100)")
      assert(KeyedTable.committedFiles(t).size === 8,
        "catalog INSERT did not reuse the sink write's modulus")
      // consistent clustering across both writers: still exchange-free
      val agg = spark.table(s"graft_keyed.`$t`")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      assert(shuffleCount(agg) == 0,
        "mixed write contracts broke the clustered read")
      assert(agg.count() === 100L)
      // malformed writePartitions rejected at CREATE, not at first use
      Seq("four", "0", "-2").foreach { bad =>
        intercept[Exception] {
          spark.sql(s"CREATE TABLE graft_keyed.`${tmpDir("graft_kbad_")}/t` " +
            s"(k BIGINT) TBLPROPERTIES ('writePartitions'='$bad')")
        }
      }
    }
  }

  test("v1 manifest lines (file name only) stay readable and unpruned") {
    val t = tmpDir("graft_kv1_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 2).append(rows(0, 20), t)
    // rewrite every manifest to the legacy single-field format
    val dir = new java.io.File(s"$t/_commits")
    dir.listFiles().filter(_.getName.endsWith(".manifest")).foreach { mf =>
      val lines = scala.io.Source.fromFile(mf)
      // v1 bodies predate the version headers: drop those too
      val names = try lines.getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map(_.split("\t")(0)).toList finally lines.close()
      val w = new java.io.PrintWriter(mf)
      try w.print(names.mkString("\n")) finally w.close()
      // the local FS keeps checksum sidecars; a hand-rewritten file
      // must shed its stale .crc or reads fail on checksum
      val crc = new java.io.File(mf.getParentFile, s".${mf.getName}.crc")
      if (crc.exists()) crc.delete()
    }
    val lookup = readBack(t).where(col("k") === 7L)
    // no stats -> no pruning, but answers stay exact
    assert(scanOf(lookup).inputRDD.getNumPartitions === 2)
    assert(lookup.collect().map(_.getLong(0)).toSeq === Seq(7L))
    assert(readBack(t).count() === 20L)
  }
}
