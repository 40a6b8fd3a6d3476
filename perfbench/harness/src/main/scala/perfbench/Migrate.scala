package perfbench

import graft.ops.Relational
import graft.pipeline._
import graft.sources.{KeyedTable, KeyedTableOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable

/** The reference's own job (FIXTURES.md section A): four filtered
  * sources, a star join and a renamed projection into one target. */
object Star {
  val Target = "customer_payment_information"
  val Sources = Seq("table_contact", "table_x_credit_card", "x_payment_source", "table_address")
  private val states = Seq("MI", "MN", "MO", "MP", "MS", "MT", "NC", "ND", "NE", "NH", "NJ")
  private val ccTypes = Seq("American Express", "Discover", "Mastercard")
  private def inList(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
  val Filters: Map[String, String] = Map(
    "table_contact" -> "x_cust_id >= 100000 AND x_cust_id <= 500000",
    "table_x_credit_card" -> s"x_cc_type IN (${inList(ccTypes)})",
    "x_payment_source" -> "x_status = 'Active'",
    "table_address" -> s"state IN (${inList(states)})")
  val ObjidLo = 100009L
  val ObjidHi = 999995L
  /** Cassandra-model primary key of the keyed target: partition key, clustering. */
  val Key = "cust_id"
  val Clustering = Seq("objid")

  val Columns: Seq[String] = Seq(
    "x_payment_source.objid AS objid",
    "table_contact.x_cust_id AS cust_id",
    "table_contact.first_name AS first_name",
    "table_contact.last_name AS last_name",
    "table_contact.phone AS phone",
    "table_contact.e_mail AS e_mail",
    "table_contact.country AS country",
    "table_x_credit_card.x_customer_cc_number AS cc_number",
    "table_x_credit_card.x_customer_cc_expmo AS cc_expmo",
    "table_x_credit_card.x_customer_cc_expyr AS cc_expyr",
    "table_x_credit_card.x_cc_type AS cc_type",
    "x_payment_source.x_pymt_type AS pymt_type",
    "x_payment_source.x_pymt_src_name AS pymt_src_name",
    "x_payment_source.x_sourcesystem AS sourcesystem",
    "x_payment_source.x_status AS status",
    "table_address.address AS address",
    "table_address.city AS city",
    "table_address.state AS state",
    "table_address.zipcode AS zipcode")

  def table(sources: Seq[SourceSpec], files: Int): TableSpec = TableSpec(
    targetTable = Target,
    sources = sources,
    root = "table_contact",
    joins = Seq(
      JoinSpec("table_x_credit_card", "table_contact.objid", "x_credit_card2contact"),
      JoinSpec("x_payment_source", "table_x_credit_card.objid", "pymt_src2x_credit_card"),
      JoinSpec("table_address", "table_x_credit_card.x_credit_card2address", "objid")),
    transformedColumns = Columns,
    numPartitions = files)

  /** The target computed directly from the parquet sources with plain
    * DataFrame operations, independent of the pipeline. */
  def expected(spark: SparkSession, dir: String): DataFrame = {
    def src(n: String) = spark.read.parquet(s"$dir/$n.parquet").where(Filters(n)).alias(n)
    src("table_contact")
      .join(src("table_x_credit_card"),
        col("table_contact.objid") === col("table_x_credit_card.x_credit_card2contact"))
      .join(src("x_payment_source"),
        col("x_payment_source.pymt_src2x_credit_card") === col("table_x_credit_card.objid"))
      .join(src("table_address"),
        col("table_x_credit_card.x_credit_card2address") === col("table_address.objid"))
      .selectExpr(Columns: _*)
  }

  /** Rows as sorted strings in a fixed column order, for exact comparison. */
  def canon(df: DataFrame): IndexedSeq[String] = {
    val names = Columns.map(c => c.substring(c.lastIndexOf(' ') + 1))
    df.select(names.map(col): _*).collect().map(_.mkString("\u0001")).sorted.toIndexedSeq
  }

  def diff(got: IndexedSeq[String], want: IndexedSeq[String]): String = {
    val g = got.toSet
    val w = want.toSet
    s"${got.size} rows vs ${want.size} expected; ${(w -- g).size} missing, " +
      s"${(g -- w).size} unexpected, ${got.size - g.size} duplicated"
  }
}

/** Loads generated tables into an in-memory Derby database. Each table
  * is created first with explicit DDL (strings as VARCHAR): left to
  * Spark's JDBC writer, Derby strings become CLOB, on which the
  * pushed-down equality filter `x_status = 'Active'` fails. Rows come
  * from the generator's CSV twin of each parquet table, through Derby's
  * bulk import. */
object Derby {
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  def load(spark: SparkSession, url: String, dir: String, tables: Seq[String]): Long = {
    Class.forName(Driver)
    val conn = java.sql.DriverManager.getConnection(url)
    try tables.map { t =>
      val cols = spark.read.parquet(s"$dir/$t.parquet").schema.fields.map { f =>
        val ty = f.dataType match {
          case org.apache.spark.sql.types.LongType => "BIGINT"
          case org.apache.spark.sql.types.StringType => "VARCHAR(64)"
          case other => throw new IllegalArgumentException(s"$t.${f.name}: $other")
        }
        s"${f.name} $ty"
      }
      val st = conn.createStatement()
      st.execute(s"CREATE TABLE $t (${cols.mkString(", ")})")
      st.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '" + t.toUpperCase +
        s"', '$dir/$t.csv', null, null, 'UTF-8', 0)")
      val rs = st.executeQuery(s"SELECT COUNT(*) FROM $t")
      rs.next()
      val n = rs.getLong(1)
      st.close()
      n
    }.sum
    finally conn.close()
  }
}

/** The AppendSink decorator the benchmark puts in front of the program's
  * sink: it times each append (traced run), counts appends and re-appends
  * of a file, and can inject one transient failure after the `failAt`-th
  * append has returned and before the pipeline writes that file's
  * checkpoint marker (the at-least-once window of the reference's load). */
final class BenchSink(inner: AppendSink, trace: Trace, failAt: Int) extends AppendSink {
  var appends = 0
  var failures = 0
  var reappends = 0
  private val seen = mutable.HashSet.empty[String]

  def append(df: DataFrame, target: String): Unit = append(df, target, "")

  override def append(df: DataFrame, target: String, sourceFile: String): Unit = {
    trace.enter("load")
    trace.span("pipeline.append")(inner.append(df, target, sourceFile))
    appends += 1
    if (!seen.add(sourceFile)) reappends += 1
    if (appends == failAt) {
      failures += 1
      throw new java.io.IOException(
        s"injected transient sink failure after appending $sourceFile")
    }
  }
}

/** `migrate`: the reference's job end to end. The four sources sit in an
  * in-memory Derby database; one repetition is a cold `runAll()` from an
  * empty workspace (range-partitioned filtered JDBC extract, star join
  * and projection, raw and transformed staging, per-file checkpointed
  * load into the keyed table through the exactly-once sink, with one
  * injected transient sink failure), preceded by eight unchanged
  * re-launches of the job the previous repetition finished, each
  * followed by a point read of its table. */
final class Migrate(ctx: Ctx) extends Workload {
  import ctx.{res, spark, trace}
  private val cores = ctx.args.cores
  private val inDir = s"${ctx.args.inDir}/star"
  /** Transformed files staged, each one checkpointed append. */
  private val files = 12
  /** Reads of the loaded table per repetition, each after a re-launch of
    * the finished job; every fourth read is a range probe. One of either
    * takes a few hundred milliseconds and varies by a quarter from one
    * to the next, so the medians need several samples per repetition. */
  private val reads = 8
  private val url = s"jdbc:derby:memory:perfbench_${ctx.args.seed};create=true"
  private val ws = ctx.dir("ws")
  private val rng = new java.util.SplittableRandom(ctx.args.seed)
  private var expected: IndexedSeq[String] = IndexedSeq.empty

  // the reference's extract: range-partitioned JDBC scans striped on objid
  private val spec = JobSpec(ws, Seq(Star.table(Star.Sources.map(n =>
    SourceSpec(n, filter = Some(Star.Filters(n)), jdbcTable = Some(n),
      jdbcPartitionColumn = Some("objid"), jdbcLowerBound = Star.ObjidLo,
      jdbcUpperBound = Star.ObjidHi, numPartitions = cores)), files)))
  private val target = spec.targetDir(Star.Target)

  // the source closure graft.Main builds for a jdbcTable source
  private val source: SourceSpec => DataFrame = s => trace.span("relational.source") {
    trace.enter("extract_transform")
    Relational.scanJdbc(spark, Relational.JdbcScan(url, s.jdbcTable.get, driver = Derby.Driver,
      partition = Some(Relational.JdbcPartition(s.jdbcPartitionColumn.get,
        s.jdbcLowerBound, s.jdbcUpperBound, s.numPartitions))))
  }

  // the keyed-sink hooks graft.Main wires: declare the write contract,
  // then stats-driven auto-compaction after the load
  private val prepareHook: TableSpec => Unit = t =>
    trace.inPhase("prepare")(trace.span("keyedtable.prepare")(
      KeyedTableOps.declareTable(spec.targetDir(t.targetTable), Star.Key, cores, Star.Clustering)))

  private val finishHook: TableSpec => Unit = t =>
    trace.inPhase("maintain")(trace.span("keyedtable.maintain") {
      if (KeyedTableOps.maybeCompact(SparkSession.active, spec.targetDir(t.targetTable)).isDefined)
        trace.add("keyedtable.compactions", 1)
    })

  private def run(name: String, failAt: Int, timed: Boolean): (Pipeline, BenchSink) = {
    val sink = new BenchSink(V2IdempotentKeyedTableSink(Star.Key, cores), trace, failAt)
    val p = new Pipeline(spark, spec, source, sink, retryInitialDelayMs = 10,
      prepareTarget = prepareHook, finishTarget = finishHook)
    trace.enter(if (name == "migrate") "extract_transform" else "rerun")
    res.timeOp(name, timed)(res.op(trace.span(name)(p.runAll())))
    trace.enter("idle")
    if (timed && name == "rerun") trace.add("pipeline.reruns", 1)
    (p, sink)
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    res.info("derby_rows") = Derby.load(spark, url, inDir, Star.Sources)
    res.layers("setup.derby_load_s") = ((System.nanoTime() - t0) / 1e9, "s")
    expected = Star.canon(Star.expected(spark, inDir))
    res.info("target_rows") = expected.size
    res.check("expected target is non-empty", expected.nonEmpty)
  }

  /** Canonical rows of the table the last migration loaded. */
  private var loaded: IndexedSeq[String] = IndexedSeq.empty

  def warmup(): Unit = repetition(timed = false)
  // the first warm-up only migrates; the migration warms up slower than
  // the re-launches and reads, which one repetition runs eight times
  def warmups: Int = 2
  def rep(): Unit = repetition(timed = true)
  def minReps: Int = 2
  def repSeconds: Double = 10.0

  /** Re-launch and read the job the previous repetition finished, then
    * migrate again: the short operations run right after the harness's
    * pause between repetitions, not while the JIT is still compiling
    * what the migration asked for. */
  private def repetition(timed: Boolean): Unit = {
    if (loaded.nonEmpty) relaunchAndRead(timed)
    migrate(timed)
  }

  private def migrate(timed: Boolean): Unit = {
    ctx.deleteDir(ws)
    val fs0 = Trace.fsSnapshot()
    val (pipeline, cold) = run("migrate", failAt = files / 2, timed)
    val written = Trace.fsSnapshot()(2) - fs0(2)
    val got = Star.canon(KeyedTableOps.latest(spark, target))
    res.check("target equals the direct join and projection", got == expected,
      Star.diff(got, expected))
    res.check("injected failure fired once", cold.failures == 1, s"${cold.failures} failures")
    res.check("the failed file was re-appended once", cold.reappends == 1,
      s"${cold.reappends} re-appends")
    val events = KeyedTableOps.changesBetween(spark, target, 0L,
      KeyedTable.currentSeq(target)).count()
    res.check("every row committed exactly once", events == expected.size,
      s"$events change events for ${expected.size} rows")
    val jdbcRows = trace.takeQueries().map(_.jdbcRows).sum
    if (timed) {
      res.sample("write_amp", written.toDouble / ctx.dirBytes(target))
      trace.add("pipeline.files_loaded", cold.appends - cold.reappends)
      trace.add("pipeline.appends", cold.appends)
      trace.add("pipeline.sink_failures", cold.failures)
      trace.add("pipeline.reappends", cold.reappends)
      trace.add("relational.rows_staged", Star.Sources.map(n =>
        pipeline.stageCounts.getOrElse(s"${Star.Target}/extract_$n", 0L)).sum)
      trace.add("relational.jdbc_rows_fetched", jdbcRows)
      if (trace.enabled)
        trace.add("keyedtable.live_manifests", KeyedTable.liveManifestNames(target).size)
    }
    loaded = got
  }

  /** Re-launches of the finished job alternating with reads of its
    * table, so the samples of each spread over the whole stretch rather
    * than coming in one burst. */
  private def relaunchAndRead(timed: Boolean): Unit = {
    val again = serve(loaded, timed)
    res.check("re-launch appends nothing", again.forall(_.appends == 0),
      s"${again.map(_.appends).sum} appends")
    if (timed) trace.add("pipeline.files_skipped", new Storage(spark.sparkContext
      .hadoopConfiguration).listParquet(spec.transformedDir(Star.Target)).size - again.head.appends)
  }

  /** Point reads of the loaded table by one closed-loop client over a
    * seeded key stream: three partition-key lookups, then one
    * clustering-range probe. Each answer must equal a filter over the
    * latest view `latest` (canonical rows, objid first, cust_id second).
    * A re-launch of the finished job precedes each read; returns the
    * sinks of the re-launches. */
  private def serve(latest: IndexedSeq[String], timed: Boolean): Seq[BenchSink] = {
    val byKey = latest.map { r =>
      val f = r.split("\u0001", 3)
      (f(1).toLong, (f(0).toLong, r))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    val keys = byKey.keys.toIndexedSeq.sorted
    val multi = keys.filter(byKey(_).size > 1)
    (1 to reads).map { i =>
      val sink = run("rerun", failAt = 0, timed)._2
      val range = i % 4 == 0 && multi.nonEmpty
      val k = if (range) multi(rng.nextInt(multi.size)) else keys(rng.nextInt(keys.size))
      val rows = byKey(k)
      val (lo, hi) =
        if (range) {
          val a = rng.nextInt(rows.size)
          (rows(a)._1, rows(a + rng.nextInt(rows.size - a))._1)
        } else (Long.MinValue, Long.MaxValue)
      val want = rows.collect { case (c, r) if c >= lo && c <= hi => r }
      val name = if (range) "range" else "lookup"
      val got = res.timeOp(name, timed)(res.op(trace.inPhase("serve")(
        trace.span(s"keyedtable.$name") {
          val df = KeyedTableOps.latest(spark, target).where(col(Star.Key) === k)
          Star.canon(if (range) df.where(col("objid").between(lo, hi)) else df)
        })))
      got.foreach(g => if (g != want) res.check(s"$name answer for key $k", ok = false,
        Star.diff(g, want)))
      val qs = trace.takeQueries()
      if (timed) {
        qs.foreach { q =>
          trace.add(s"keyedtable.$name.plan_ms", q.planMs)
          trace.add(s"keyedtable.$name.exec_ms", q.execMs)
          trace.add(s"keyedtable.$name.files_planned", q.filesPlanned)
          trace.add(s"keyedtable.$name.decoded_rows", q.decodedRows)
          trace.add(s"keyedtable.$name.block_pruned_rows", q.blockPrunedRows)
        }
        trace.add(s"keyedtable.$name.count", 1)
        trace.add(s"keyedtable.$name.result_rows", want.size)
      }
      sink
    }
  }

  def finish(): Unit = {
    def med(n: String) = Stats.median(res.clean(n))
    res.e2e("op_p50_ms") = (med("migrate_ms"), "ms")
    res.e2e("op2_p50_ms") = (med("rerun_ms"), "ms")
    res.e2e("read_p50_ms") = (med("lookup_ms"), "ms")
    res.info("migrate_s") = med("migrate_ms") / 1e3
    res.info("rerun_s") = med("rerun_ms") / 1e3
    res.info("write_amp") = med("write_amp")
    res.info("transformed_files") = files
    res.info("lookup_p50_ms") = med("lookup_ms")
    res.info("lookup_p90_ms") = Stats.quantile(res.clean("lookup_ms"), 0.9)
    res.info("lookups") = res.clean("lookup_ms").size
    res.info("range_p50_ms") = med("range_ms")
    res.info("ranges") = res.clean("range_ms").size
  }
}
