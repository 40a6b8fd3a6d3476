package graft.pipeline

import graft.ops.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.slf4j.LoggerFactory

/** Per-file append sink — the offline stand-in for the reference's
  * Cassandra bulk load (py:347-353): partition-key-grouped append with
  * identical at-least-once + per-file checkpoint semantics. Sinks that
  * key their output on the source file (see [[IdempotentParquetSink]])
  * upgrade the pipeline to exactly-once. */
trait AppendSink extends Serializable {
  def append(df: DataFrame, target: String): Unit
  /** Called by the pipeline with the staged file's name; default
    * ignores it (plain append = at-least-once, like the reference). */
  def append(df: DataFrame, target: String, sourceFile: String): Unit =
    append(df, target)
}

/** Another live job holds this workspace's lease (see
  * [[WorkspaceLease]]); the caller should back off or target a
  * different workspace, not force through. */
final class WorkspaceBusyException(workspace: String, holder: Option[String])
  extends IllegalStateException(
    s"workspace $workspace is leased by ${holder.getOrElse("another job")}")

/** Default sink: append as parquet under the target dir. */
object ParquetAppendSink extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    df.write.mode("append").parquet(target)
}

/** Partition-key-grouped append — the offline model of the Cassandra
  * connector's write path (py:347-353: batches grouped by partition
  * key, append mode): rows are repartitioned on the key (so one task
  * owns one key group, like batch.grouping.key=partition) and laid out
  * key-partitioned on storage. Like the Cassandra original, delivery
  * is at-least-once per staged file; re-appends of the same file are
  * prevented by the pipeline's checkpoint markers, not the sink. */
final case class KeyedParquetAppendSink(keyCol: String, taskParallelism: Int = 8)
    extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    df.repartition(taskParallelism, df(keyCol))
      .write.mode("append").partitionBy(keyCol).parquet(target)
}

/** The CONNECTOR-shaped sink: the same partition-key-grouped append
  * contract as [[KeyedParquetAppendSink]], but through the real
  * DataSource V2 write protocol ([[graft.sources.KeyedTable]] —
  * planner-enforced key clustering via RequiresDistributionAndOrdering,
  * staged files made visible only by driver-side manifest commit,
  * task-retry garbage never readable). This is the seam a live
  * deployment fills with the actual Cassandra connector: swap the
  * format string, keep the pipeline. */
final case class V2KeyedTableSink(keyCol: String, writeParallelism: Int = 8)
    extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    df.write.format("graft.sources.KeyedTable")
      .option("key", keyCol)
      .option("writePartitions", writeParallelism.toString)
      .mode("append").save(target)
}

/** Exactly-once V2 variant: each staged file's append commits under a
  * manifest NAMED by that file, so a resume re-driving the same file
  * (crash in the append→checkpoint window, the at-least-once hazard of
  * SURVEY.md §3.4) finds its manifest already committed and no-ops at
  * the SINK — per-file exactly-once without rewriting storage, the
  * batch twin of the table's streaming-epoch replay protocol. */
final case class V2IdempotentKeyedTableSink(keyCol: String,
    writeParallelism: Int = 8) extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    throw new UnsupportedOperationException(
      "V2IdempotentKeyedTableSink requires the source-file overload")
  override def append(df: DataFrame, target: String, sourceFile: String): Unit =
    df.write.format("graft.sources.KeyedTable")
      .option("key", keyCol)
      .option("writePartitions", writeParallelism.toString)
      .option("commitName", sourceFile)
      .mode("append").save(target)
}

/** JDBC sink through the pipeline seam — the write-back twin of the
  * reference's JDBC READ side (it scans Oracle over JDBC,
  * py:101-116, but never loads one; a migration engine users can
  * point both ways closes the loop). Each staged file appends into
  * the relational target via [[Relational.sinkJdbc]]; `numPartitions`
  * caps concurrent connections exactly the way the reference caps
  * Cassandra write parallelism (py:306-307), `batchSize` mirrors the
  * read-side fetchSize (json:31). The pipeline `target` argument is
  * unused — the JDBC table IS the destination. At-least-once per
  * staged file, like the reference's loader; the pipeline's
  * checkpoint markers make per-file delivery effectively
  * exactly-once. */
final case class JdbcAppendSink(url: String, table: String,
    driver: String = "", batchSize: Int = 10000,
    numPartitions: Int = 8) extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    Relational.sinkJdbc(df, url, table, mode = "append", driver = driver,
      batchSize = batchSize, numPartitions = numPartitions)
}

/** Exactly-once variant (beyond the reference's at-least-once,
  * SURVEY.md §3.4): output is keyed by the SOURCE file
  * (`target/src=<file>`) and written with overwrite, so a crash
  * between write and checkpoint re-runs as an overwrite of the same
  * path instead of a duplicate append — per-file delivery becomes
  * idempotent without any sink-side transaction. */
object IdempotentParquetSink extends AppendSink {
  def append(df: DataFrame, target: String): Unit =
    throw new UnsupportedOperationException(
      "IdempotentParquetSink requires the source-file overload")
  override def append(df: DataFrame, target: String, sourceFile: String): Unit =
    df.write.mode("overwrite").parquet(s"$target/src=$sourceFile")
}

/** C10/C11 — the reference's 3-phase checkpointed, resumable pipeline
  * (py:376-421), idiomatic-Spark edition:
  *
  *  Phase 1 (extract): per source, if the staged raw dataset is absent,
  *    scan → filter → repartition → stage as parquet; then ALWAYS
  *    re-read the staged copy (py:398 — storage is the mandatory
  *    exchange point; this is the fault-domain barrier, not a cache).
  *  Phase 2 (transform): alias → fold the equi-join graph → projection
  *    via config `selectExpr` strings → stage transformed. Skipped
  *    entirely when the transformed dataset already exists (py:386).
  *  Phase 3 (load): enumerate staged transformed files; for each, skip
  *    if checkpointed (py:334), else append to the sink, then create
  *    the checkpoint marker. Retry wraps the WHOLE loop (py:303) —
  *    already-checkpointed files are skipped on re-entry, so the retry
  *    granularity is effectively per-file. Append-then-checkpoint is
  *    at-least-once by design (SURVEY.md §3.4).
  *
  * The control plane is metadata-only. One footer read per staged
  * file supplies both its progress row count and the schema its
  * staged copy is read back with (no schema-inference job), fixing the
  * reference's duplicate full scans (SURVEY.md §4.3) while keeping
  * identical log semantics; checkpoint state is read with one listing
  * per load attempt.
  */
final class Pipeline(
    spark: SparkSession,
    spec: JobSpec,
    source: SourceSpec => DataFrame,
    sink: AppendSink = ParquetAppendSink,
    retryInitialDelayMs: Long = 5000,
    leaseTtlMs: Long = 15 * 60 * 1000,
    /** Target-preparation hook, run at the START of each table's run —
      * i.e. under the workspace lease when driven through runAll, so a
      * concurrent job rejected by the lease can never have mutated a
      * running job's targets first. The config-driven CLI declares the
      * keyed table's write contract (key/parallelism/clustering) here. */
    prepareTarget: TableSpec => Unit = _ => (),
    /** Target-maintenance hook, run at the END of each table's
      * SUCCESSFUL run (still under the workspace lease). The
      * config-driven CLI points this at the keyed table's
      * stats-driven auto-compaction (`sink.autoCompact`) so a load
      * wave folds its fragmentation as part of the job instead of on
      * a timer. */
    finishTarget: TableSpec => Unit = _ => ()) {

  private val log = LoggerFactory.getLogger(classOf[Pipeline])
  private val storage = new Storage(spark.sparkContext.hadoopConfiguration)

  /** Rows staged per pipeline stage (`target/extract_src`,
    * `target/transform`), the reference's post-read / post-transform
    * record counts (py:124, py:148) — but derived from the staging
    * write job itself via `Dataset.observe`, not the reference's extra
    * `count()` actions that re-ran every Oracle scan and join
    * (SURVEY.md §4.3). Metrics piggyback on the write's own pass, so
    * the count is free at any scale. */
  // TrieMap: parallel runAll(n) has one thread per in-flight table
  val stageCounts: scala.collection.mutable.Map[String, Long] =
    scala.collection.concurrent.TrieMap.empty

  /** Attach a row-count observation; `harvest()` reads it after the
    * write action and records + logs the count. */
  private def observed(df: DataFrame, stage: String): (DataFrame, () => Unit) = {
    val obs = new org.apache.spark.sql.Observation()
    val harvested = df.observe(obs,
      org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("rows"))
    (harvested, () => {
      val rows = obs.get("rows").asInstanceOf[Long]
      stageCounts(stage) = rows
      log.info(s"[$stage] staged $rows rows")
    })
  }

  /** Catalog table for a bucketed-staged source, scoped by workspace so
    * concurrent jobs (and tests) don't collide. */
  private def bucketTableName(srcName: String): String =
    s"graft_raw_${srcName}_${Integer.toHexString(spec.workspace.hashCode)}"

  /** Probe that a staged bucket table's data is actually there: a
    * one-row scan resolves schema/metadata, and the storage location
    * must exist AND be non-empty — a deleted location reads back as an
    * EMPTY table (no exception), which for a staged copy means the
    * data is gone, not that the source was empty (rebuilding an
    * actually-empty source is an idempotent no-op anyway). */
  private def bucketTableHealthy(tbl: String): Boolean =
    try {
      spark.table(tbl).limit(1).collect()
      val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
        .find(_.getString(0).trim == "Location").map(_.getString(1).trim)
      loc.exists { l =>
        val p = new org.apache.hadoop.fs.Path(l)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.exists(p) && fs.listStatus(p).nonEmpty
      }
    } catch { case _: Exception => false }

  /** Runs every table under an exclusive workspace lease: the staged
    * datasets, checkpoint markers, and catalog tables all key on the
    * workspace, so a second concurrent writer (duplicate scheduler
    * launch, retry racing a hung run) fails fast with
    * [[WorkspaceBusyException]] instead of interleaving undefined
    * state. A crashed holder's lease expires after `leaseTtlMs` (the
    * heartbeat renews it per table). */
  def runAll(): Unit = {
    val lease = new WorkspaceLease(
      spark.sparkContext.hadoopConfiguration, spec.workspace, leaseTtlMs)
    if (!lease.tryAcquire())
      throw new WorkspaceBusyException(spec.workspace, lease.currentHolder())
    try spec.tables.foreach { t => runTable(t); lease.renew() }
    finally lease.release()
  }

  /** Optional parallel table execution — the upgrade the reference
    * sketched but never shipped (`threading` imported at py:3, loop
    * kept sequential at py:441-442). Tables are scheduled into WAVES:
    * within a wave no two tables share a staged source (raw staging —
    * plain or bucketed — is one-per-source-name per workspace), so
    * concurrent threads never race one staging dataset, while each
    * table already owns its transformed/checkpoint/target dirs and
    * log file by name. Waves run under the same exclusive workspace
    * lease as the sequential driver; a failed table surfaces after
    * its wave drains (completed tables keep their checkpoints and
    * resume exactly like the sequential path). */
  def runAll(parallelism: Int): Unit = {
    if (parallelism <= 1) { runAll(); return }
    val lease = new WorkspaceLease(
      spark.sparkContext.hadoopConfiguration, spec.workspace, leaseTtlMs)
    if (!lease.tryAcquire())
      throw new WorkspaceBusyException(spec.workspace, lease.currentHolder())
    try waves(spec.tables).foreach { wave =>
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(math.min(parallelism, wave.size))
      try {
        val futures = wave.map(t =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = runTable(t)
          }))
        val failures = futures.flatMap(f =>
          try { f.get(); None }
          catch { case e: java.util.concurrent.ExecutionException =>
            Option(e.getCause).orElse(Some(e)) })
        failures.headOption.foreach(throw _)
      } finally pool.shutdownNow()
      lease.renew()
    } finally lease.release()
  }

  /** Greedy wave packing: a table joins the first wave holding none
    * of its source names. Declaration order is preserved WITHIN a
    * wave; across waves a later-declared table may run earlier than a
    * source-sharing predecessor's successor (greedy packing reorders
    * independents). Tables are independent by contract — each owns
    * its transformed/checkpoint/target dirs, and shared RAW staging
    * is what the waves serialize — so no cross-table ordering beyond
    * that is provided or should be relied on. */
  private def waves(tables: Seq[TableSpec]): Seq[Seq[TableSpec]] = {
    val acc = scala.collection.mutable.ArrayBuffer
      .empty[(scala.collection.mutable.ArrayBuffer[TableSpec],
        scala.collection.mutable.Set[String])]
    tables.foreach { t =>
      val srcs = t.sources.map(_.name).toSet
      acc.find { case (_, used) => srcs.forall(!used.contains(_)) } match {
        case Some((wave, used)) => wave += t; used ++= srcs
        case None =>
          acc += ((scala.collection.mutable.ArrayBuffer(t),
            scala.collection.mutable.Set(srcs.toSeq: _*)))
      }
    }
    acc.map(_._1.toSeq).toSeq
  }

  def runTable(t: TableSpec): Unit = {
    prepareTarget(t)
    // C7 — the reference's per-table dynamic log file (py:39-57):
    // every banner below goes to slf4j AND the table's own file.
    val tlog = new TableLog(spark.sparkContext.hadoopConfiguration,
      s"${spec.workspace}/logs", t.targetTable)
    def binfo(msg: String): Unit = { log.info(msg); tlog.info(msg) }
    def bwarn(msg: String): Unit = { log.warn(msg); tlog.warn(msg) }
    try {
      runTableLogged(t, binfo, bwarn, tlog)
      // target maintenance is BEST-EFFORT: the load is durably
      // committed at this point, and a maintenance hiccup (e.g. a
      // lock timeout against a concurrent maintainer) must not mark
      // the table failed and re-drive a completed wave — the next
      // run's hook folds whatever this one left
      try finishTarget(t)
      catch { case scala.util.control.NonFatal(e) =>
        bwarn(s"[${t.targetTable}] target maintenance failed " +
          s"(load succeeded, will retry next run): ${e.getMessage}")
      }
    }
    catch {
      case e: Exception =>
        // py:415-417 — failure is recorded in the table log, then raised
        tlog.error(s"Migration for table ${t.targetTable} failed: ${e.getMessage}")
        throw e
    } finally tlog.close()
  }

  private def runTableLogged(
      t: TableSpec,
      binfo: String => Unit,
      bwarn: String => Unit,
      tlog: TableLog): Unit = {
    val t0 = System.nanoTime()
    if (storage.datasetExists(spec.transformedDir(t.targetTable))) {
      binfo(s"[${t.targetTable}] transformed data exists — skipping to load")
    } else {
      // Phase 1: extract + stage raw (skip already-staged sources).
      // Sources with a bucketKey stage as a BUCKETED table instead of
      // plain parquet: the phase-2 join on that key (and every resume
      // re-run, where extract is skipped but the join re-executes)
      // reads co-located buckets and plans with no Exchange — the
      // shuffle is paid once at staging time, not per run.
      def extract(s: SourceSpec)(stage: DataFrame => Unit): Unit = {
        val df = Relational.filterSql(source(s), s.filter.orNull)
        val (odf, harvest) = observed(df, s"${t.targetTable}/extract_${s.name}")
        stage(odf)
        harvest()
      }
      val staged = t.sources.map { s =>
        val reread = s.bucketKey match {
          case Some(key) =>
            val tbl = bucketTableName(s.name)
            val exists = spark.catalog.tableExists(tbl)
            if (exists && bucketTableHealthy(tbl)) {
              binfo(s"[${t.targetTable}] bucketed raw ${s.name} already staged — skipping extract")
            } else {
              if (exists) {
                // a job that died between catalog commit and data write
                // (or whose storage was lost) leaves a table entry whose
                // files don't read back — rebuild rather than hand the
                // join a corrupt side
                bwarn(s"[${t.targetTable}] bucketed raw ${s.name} unreadable — rebuilding")
                spark.sql(s"DROP TABLE IF EXISTS $tbl")
              } else binfo(s"[${t.targetTable}] extracting ${s.name} (bucketed by $key)")
              extract(s)(Relational.sinkBucketed(_, tbl, key, s.numBuckets, Some(key)))
            }
            spark.table(tbl)
          case None =>
            val rawDir = spec.rawDir(s.name)
            if (!storage.datasetExists(rawDir)) {
              binfo(s"[${t.targetTable}] extracting ${s.name}")
              extract(s)(odf =>
                Relational.sinkParquet(Relational.rebalance(odf, s.numPartitions), rawDir))
            } else {
              binfo(s"[${t.targetTable}] raw ${s.name} already staged — skipping extract")
            }
            // one write job staged every file, so the first footer's
            // schema is the dataset's
            readStaged(rawDir, storage.listParquet(rawDir).headOption.flatMap(storage.footer(_)._2))
        }
        // py:398 — always re-read from storage, never pass through
        // memory; alias by source name (py:135-138) so join conditions
        // and projections can use `source.col` qualified refs
        s.name -> reread.alias(s.name)
      }.toMap

      // Phase 2: transform + stage
      val joined = Relational.joinGraph(staged, t.root,
        t.joins.map(j => Relational.JoinEdge(j.rightTable, j.leftCol, j.rightCol, j.joinType)))
      val transformed = Relational.project(joined, t.transformedColumns)
      val (odf, harvest) = observed(transformed, s"${t.targetTable}/transform")
      Relational.sinkParquet(
        Relational.rebalance(odf, t.numPartitions),
        spec.transformedDir(t.targetTable))
      harvest()
      binfo(s"[${t.targetTable}] transformed data staged")
    }

    // Phase 3: checkpointed per-file load, retried as a whole
    Retry.retry(attempts = 3, initialDelayMs = retryInitialDelayMs,
      onRetry = (n, e) => bwarn(s"[${t.targetTable}] load attempt $n failed: ${e.getMessage}")) {
      loadCheckpointed(t, binfo)
    }
    // py:412-413 — the reference's completion/duration banner
    binfo(f"Migration for table ${t.targetTable} completed successfully in ${(System.nanoTime() - t0) / 1e9}%.2f seconds.")
  }

  /** A staged parquet file or dataset, read with the schema its writer
    * stored in the footer: no schema-inference job. */
  private def readStaged(path: String, schema: Option[StructType]): DataFrame =
    schema.fold(Relational.scanParquet(spark, path))(spark.read.schema(_).parquet(path))

  private def fileName(file: String): String = file.substring(file.lastIndexOf('/') + 1)

  /** One attempt: one listing of the staged files, one footer read per
    * file (progress rows + read schema), one checkpoint listing. */
  private def loadCheckpointed(t: TableSpec, binfo: String => Unit): Unit = {
    val checkpointDir = spec.checkpointDir(t.targetTable)
    val targetDir = spec.targetDir(t.targetTable)
    val footers = storage.listParquet(spec.transformedDir(t.targetTable))
      .map(f => f -> storage.footer(f))
    val loaded = storage.checkpointed(checkpointDir)
    val total = footers.map(_._2._1).sum
    var processed = 0L
    footers.foreach { case (file, (rows, schema)) =>
      val name = fileName(file)
      if (loaded(name)) {
        binfo(s"[${t.targetTable}] $name already loaded — skipping")
      } else {
        sink.append(readStaged(file, schema), targetDir, name)
        storage.createCheckpoint(checkpointDir, name)
      }
      processed += rows
      val pct = if (total == 0) 100.0 else processed * 100.0 / total
      binfo(f"[${t.targetTable}] progress $processed/$total rows ($pct%.1f%%)")
    }
  }

  /** Workspace GC: drop a completed table's staging + checkpoint
    * residue, keeping the loaded target. SAFE only when the load is
    * fully committed, so it refuses unless (a) the target dataset
    * exists and (b) EVERY transformed file has its checkpoint marker —
    * the same completion predicate a resume would use to skip the
    * table. Removing staging for an incomplete table would strand the
    * resume path (the driver re-reads transformed files to finish the
    * load), hence the hard precondition rather than a best-effort
    * sweep. Returns true when the table was vacuumed. At 100 TB the
    * staging residue is the same order as the corpus — leaving it
    * doubles storage forever; this is the lifecycle step every
    * production run schedules after commit. */
  def vacuum(targetTable: String): Boolean = {
    val transformedDir = spec.transformedDir(targetTable)
    val checkpointDir = spec.checkpointDir(targetTable)
    if (!storage.datasetExists(spec.targetDir(targetTable))) return false
    val files = storage.listParquet(transformedDir)
    val loaded = storage.checkpointed(checkpointDir)
    if (files.isEmpty || !files.forall(f => loaded(fileName(f)))) return false
    val srcs = spec.tables.filter(_.targetTable == targetTable)
      .flatMap(_.sources).distinctBy(_.name)
    srcs.foreach { s =>
      if (s.bucketKey.isDefined) {
        // bucketed sources staged as a managed catalog table, not a
        // rawDir — drop BOTH the catalog entry and its storage (DROP
        // TABLE removes managed data, but a table whose write died
        // half-way can leave orphan files; sweep the location too)
        val tbl = bucketTableName(s.name)
        if (spark.catalog.tableExists(tbl)) {
          val loc = spark.sql(s"DESCRIBE FORMATTED $tbl").collect()
            .find(_.getString(0).trim == "Location")
            .map(_.getString(1).trim)
          spark.sql(s"DROP TABLE IF EXISTS $tbl")
          loc.foreach(storage.delete)
        } else {
          // a write that died BEFORE the table committed to the catalog
          // leaves orphan files at the default managed location with no
          // catalog entry pointing at them — sweep the path the CATALOG
          // would have assigned (defaultTablePath resolves the current
          // database's location and returns a proper URI, so hdfs:/s3:
          // warehouses and non-default databases sweep the right place;
          // the previous $warehouse/$tbl string-build was only correct
          // for the default database on a local filesystem)
          val loc = spark.sessionState.catalog.defaultTablePath(
            org.apache.spark.sql.catalyst.TableIdentifier(tbl))
          storage.delete(new org.apache.hadoop.fs.Path(loc).toString)
        }
      } else storage.delete(spec.rawDir(s.name))
    }
    storage.delete(transformedDir)
    storage.delete(checkpointDir)
    true
  }
}
