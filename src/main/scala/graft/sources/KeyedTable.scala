package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportPartitioning}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, SupportsDelta, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.io.{DataInputStream, DataOutputStream}
import java.nio.charset.StandardCharsets
import java.util

/** DataSource V2 keyed-append TABLE — the SINK extension point, built
  * from scratch on the real V2 write protocol. The reference's target
  * is Cassandra through the spark-cassandra-connector
  * (verizon_table_migration_Rakesh_filters.py:347-353: append mode,
  * writes grouped by partition key, bounded write parallelism); that
  * connector IS a DSv2 `SupportsWrite` table, so this class is the
  * engine's faithful, no-egress rendering of the seam a live
  * deployment fills with one adapter:
  *
  *  - **Key-grouped writes, declaratively**: the Write implements
  *    `RequiresDistributionAndOrdering` (clustered on the key column,
  *    sorted by key within partitions, `writePartitions` tasks) — the
  *    Spark-native spelling of `batch.grouping.key=partition` +
  *    `concurrent.writes`: the engine asks the PLANNER for the
  *    distribution instead of hand-shuffling inside the sink.
  *  - **Atomic visibility via manifests**: writers stage row-log files
  *    under `data/`; a file is readable ONLY once a driver-side
  *    commit lists it in a `_commits/` manifest (written temp+rename).
  *    Task retries/speculation stage distinct files and only the
  *    committed attempt's message reaches `commit()` (Spark's output
  *    commit coordinator), so partial/duplicate attempts are garbage
  *    bytes, never visible rows.
  *  - **Exactly-once streaming**: `toStreaming` commits one manifest
  *    per epoch, named by (stable query id, epoch id); a replayed
  *    epoch (crash in the write→checkpoint window) finds its manifest
  *    already present (standalone or compacted), deletes the
  *    re-staged files, and no-ops — the V2-native version of
  *    ExactlyOnceBatchSink's marker protocol — while a DIFFERENT
  *    query's epochs never collide with this one's.
  *
  * Read-back is first-class and carries the pushdown ladder the
  * Cassandra connector offers on partition-key predicates:
  *
  *  - **Per-file key statistics**: every manifest line records the
  *    file's row count, null count, and key min/max (writes are
  *    key-clustered AND key-sorted, so the ranges are tight).
  *  - **File pruning** (`SupportsPushDownFilters`): key range /
  *    equality / IN predicates prune committed files by stats overlap
  *    before any byte is read — a point lookup plans the files that
  *    can hold the key, not the whole table. Pruning filters stay
  *    residual (stats prune files; Spark still filters rows).
  *  - **Column pruning** (`SupportsPushDownRequiredColumns`): the
  *    reader walks every frame (the row-log has no column index) but
  *    only MATERIALIZES requested fields — strings it skips are never
  *    allocated.
  *  - **Clustered reads** (`SupportsReportPartitioning`): each file
  *    additionally records the murmur3 write bucket it proved itself
  *    into; when every committed file is consistently bucketed, a
  *    catalog-loaded read (graft.sources.KeyedTableCatalog — needed
  *    because Spark resolves the bucket transform through a
  *    FunctionCatalog) reports KeyGroupedPartitioning(bucket(N, key))
  *    with one HasPartitionKey partition per bucket, and a key-grouped
  *    aggregate or storage-partitioned join reuses the clustering the
  *    write already paid for — no Exchange.
  *
  * The row-log encoding is a length-framed binary of the declared
  * schema (long/int/double/string/boolean, nullable) — deliberately
  * dumb: the format under test is the COMMIT PROTOCOL, not a columnar
  * codec; production targets bring their own storage.
  *
  * Scale notes: manifests are O(#commits) driver-side metadata until
  * `compact()` folds them into one checkpoint manifest (logical
  * manifest names — the unit tail-stream offsets are made of — are
  * preserved across compaction, so a running tail resumes
  * exactly-once). Data never flows through the driver. Atomicity
  * relies on rename, same contract as Spark's own HDFS-backed commit
  * protocols. All filesystem access resolves through the SESSION's
  * Hadoop configuration (driver: `sessionState.newHadoopConf()`;
  * executors: a serialized copy shipped in the reader/writer
  * factories), so s3a credentials/endpoints configured on the session
  * reach every manifest, writer, and reader operation.
  */
/** A row-level SQL statement lost its optimistic-concurrency race:
  * between the statement's snapshot pin and its commit, another commit
  * published rows overlapping the keys this statement wrote.
  * Publishing anyway would silently lose the winner's update under
  * last-write-wins, so the statement aborts instead — RETRYABLE: a
  * re-run pins a fresh snapshot that includes the winner's rows and
  * resolves correctly. The Delta/Iceberg commit-conflict contract. */
final class ConcurrentCommitException(msg: String)
    extends RuntimeException(msg)

class KeyedTable extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "KeyedTable requires a path")
    val data = KeyedTable.readSchemaFile(path, KeyedTable.hadoopConf())
      .getOrElse(throw new IllegalArgumentException(
        s"KeyedTable at $path has no committed schema yet — nothing to read"))
    val cdf = options.getBoolean("readChangeFeed", false)
    require(!(cdf && options.getBoolean("withVersion", false)),
      "readChangeFeed already classifies versions; withVersion " +
        "contradicts it")
    if (cdf) StructType(data.fields ++ KeyedTable.cdfFields)
    else if (options.getBoolean("withVersion", false))
      StructType(data.fields ++ KeyedTable.versionFields)
    else data
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = opts.get("path")
    require(path != null, "KeyedTable requires a path")
    new KeyedTable.KTable(path, schema,
      Option(opts.get("key")),
      Option(opts.get("writePartitions")).map(_.toInt),
      opts.getBoolean("clusteredRead", false),
      Option(opts.get("chaosWriteKey")).map(_.toLong),
      Option(opts.get("commitName")),
      Option(opts.get("asOfSeq")).map(_.toLong),
      // internal (KeyedTableOps.rewriteCompact): this write is a
      // SNAPSHOT REWRITE committing at the given fence sequence and
      // superseding the listed logical manifests
      Option(opts.get("rewriteSupersedes")).map { names =>
        (opts.get("rewriteSeq").toLong,
          names.split(",").toSeq.filter(_.nonEmpty))
      },
      opts.getBoolean("withVersion", false),
      // Cassandra's USING TTL: every row of this write expires ttlMs
      // after its commit (per-commit granularity — the bulk-load shape)
      Option(opts.get("ttlMs")).map(_.toLong),
      // sorted-fold write options (rewriteCompact threads the table's
      // declared sortOrder through these)
      Option(opts.get("sortOrder"))
        .map(KeyedTableOps.parseClustering).getOrElse(Seq.empty),
      opts.getLong("maxFileRows", 0L),
      opts.getLong("blockRows", KeyedTable.DefaultBlockRows),
      opts.getBoolean("readChangeFeed", false),
      // internal (KeyedTableOps zorder fold): the INPUT frame is
      // already hash-partitioned by key and curve-sorted within tasks;
      // the write must not impose its own distribution/ordering (a
      // planner re-shuffle or re-sort would destroy the interleave)
      opts.getBoolean("preshaped", false))
  }
}

object KeyedTable {

  // temporal types frame as their Catalyst internal representation
  // (TIMESTAMP / TIMESTAMP_NTZ = long micros, DATE = int days), so
  // every code path that orders, hashes, or min/max-tracks them is
  // the corresponding integral path — hashpartitioning hashes the
  // same longs/ints, so bucket proofs and routing hold unchanged
  private val supported: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, StringType, BooleanType,
      TimestampType, TimestampNTZType, DateType)

  // ---------- control-plane helpers (driver + executor safe) ----------

  /** The SESSION's Hadoop configuration — driver-side only (executors
    * receive a [[SerConf]] copy through the factories). Falling back
    * to a bare Configuration keeps non-Spark callers (tests building
    * tables by hand) working on local defaults. */
  private[sources] def hadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new Configuration())

  /** Java-serializable Hadoop Configuration carrier — the
    * driver-captured session conf shipped to executor-side writers and
    * readers, so credentials/endpoints/filesystem bindings configured
    * on the session hold on every node, not just where an active
    * SparkSession happens to exist. */
  private[sources] final class SerConf(
      @transient var value: Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  private def fs(path: String, conf: Configuration): FileSystem =
    new Path(path).getFileSystem(conf)

  private def writeAtomic(f: FileSystem, dst: Path, body: String): Unit = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!f.rename(tmp, dst)) {
      // rename-to-existing fails on HDFS and the local FS: an UPDATE
      // (schema evolution, property merge) replaces by PARKING the old
      // file aside (atomic rename), renaming the new one in, then
      // deleting the parked copy. A crash mid-replace leaves dst
      // missing for readers (same sub-millisecond window a delete
      // would have) but the old CONTENT survives as the parked file —
      // a lost _props/_schema.json is recoverable, never gone (losing
      // merge=counter silently turns the next compaction into a
      // sum-corrupting LWW fold; losing baseNcols mis-frames legacy
      // decodes). Every update path runs under the maintenance lock,
      // so replaces never race each other.
      val parked = new Path(dst.getParent,
        s".${dst.getName}.replaced.${java.util.UUID.randomUUID().toString.take(8)}")
      if (!f.rename(dst, parked) || !f.rename(tmp, dst)) {
        f.delete(tmp, false)
        throw new java.io.IOException(s"commit rename failed for $dst")
      }
      try { f.delete(parked, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
    }
  }

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try new String(
      org.apache.commons.io.IOUtils.toByteArray(in),
      StandardCharsets.UTF_8)
    finally in.close()
  }

  private[sources] def readSchemaFile(path: String,
      conf: Configuration): Option[StructType] = {
    val f = fs(path, conf)
    val p = new Path(path, "_schema.json")
    if (f.exists(p)) Some(DataType.fromJson(readText(f, p)).asInstanceOf[StructType])
    else None
  }

  // ---------- manifest entries ----------

  /** Per-file key statistics recorded at task commit. `minEnc`/
    * `maxEnc` are canonical string encodings over NON-NULL keys
    * (numeric/boolean: toString; string: Base64 of the raw UTF-8
    * bytes so the recorded order is UTF8String's binary order, the
    * one the write sorted by); absent when every key in the file is
    * null. */
  private[sources] final case class KeyStats(nulls: Long,
      minEnc: Option[String], maxEnc: Option[String])

  /** One committed data file as its manifest line records it.
    * `bucket` is the murmur3 write bucket the file PROVED itself into
    * (every row hashed there), -1 when unproven; `buckets`/`key` tie
    * the proof to a modulus and key column so commits written with
    * different settings can never be grouped together. `tombstone`
    * marks a DELETION file (rows carry the key; every other field is
    * null) — the Cassandra delete marker: it participates in
    * last-write-wins resolution and is purged by snapshot rewrites
    * once older than the grace period (the gc_grace analogue). Legacy
    * (v1) lines carry the file name only: rows = -1, no stats, no
    * bucket. */
  private[sources] final case class KFileEntry(file: String, rows: Long,
      bucket: Int, buckets: Int, key: String, stats: Option[KeyStats],
      tombstone: Boolean = false,
      // ALL-COLUMN ZONE MAPS: per-column (nulls, min, max), positional
      // over the FILE's schema fields (its manifest's ncols prefix of
      // the current schema) — what prunes files on NON-key predicates
      // (the reference's own filter surface is non-key ranges/INs,
      // json:53-58). Empty on legacy lines (no pruning, never wrong).
      colStats: Seq[KeyStats] = Seq.empty,
      // on-disk byte size of the file (-1 on lines written before it
      // was recorded) — what the scan's SupportsReportStatistics
      // report is made of, so Catalyst's join planning (broadcast
      // thresholds, AQE) sees the PRUNED read's true size instead of
      // an unknown
      bytes: Long = -1L,
      // the file carries a BLOCK FOOTER (per-block row counts + zone
      // maps appended after the data region): readers seek past
      // non-matching blocks instead of decoding the whole file. The
      // flag lives in the manifest — never inferred from trailing
      // bytes, which a legacy file could coincidentally end with
      blocks: Boolean = false,
      // ordinals of columns whose per-file BLOOM FILTER sidecar
      // (`data/.bloom-<file>`) this file wrote — consulted by file
      // pruning for EQUALITY probes zone maps cannot serve (a
      // high-cardinality column over unsorted data matches every
      // file's [min,max]). Positional over the file's frame, like
      // colStats. Empty = no sidecar
      bloomCols: Seq[Int] = Seq.empty,
      // per-column KMV DISTINCT sketches (the 64 smallest murmur3
      // hashes of the file's non-null values, ascending): mergeable
      // across files by union, so the scan reports per-column NDV of
      // exactly the PRUNED read to the cost-based optimizer.
      // Positional like colStats; an empty inner seq = not recorded
      // (legacy lines, marker files)
      ndv: Seq[Seq[Long]] = Seq.empty,
      // per-column SUM over the file's non-null values (decimal string;
      // long columns tracked with overflow detection -> None on
      // overflow, string/bool columns always None): what completes the
      // metadata aggregate fold — a global SUM is a manifest read like
      // count/min/max. Positional like colStats; empty = not recorded
      sums: Seq[Option[String]] = Seq.empty)

  /** One logical manifest with its version metadata. `seq` is the
    * commit sequence (unique per table — reserved through an exclusive
    * marker create, see [[reserveSeq]]; -1 on legacy manifests written
    * before versioning); `ts` the commit wall-clock millis (-1
    * legacy); `supersedes` the logical manifests a snapshot REWRITE
    * replaced (empty on ordinary commits). Total version order of a
    * row = (manifest seq, file index within the manifest, row ordinal
    * within the file) — the write path clusters a key into one file
    * per commit, so per key this orders every version. */
  private[sources] final case class KManifest(name: String, seq: Long,
      ts: Long, supersedes: Seq[String], entries: Seq[KFileEntry],
      expires: Long = -1L,
      // the number of schema fields the commit's files were FRAMED
      // with (schema evolution only appends columns, so a frame plan
      // is fully determined by its field count — a prefix of the
      // current schema). -1 on manifests stamped before evolution
      // support: those resolve to the `baseNcols` table property
      // (recorded at the first evolution), else the full schema.
      ncols: Int = -1)

  /** Metadata column names (version/provenance surface). Reserved:
    * a data column with one of these names would shadow it. */
  private[sources] val MetaSeq = "_seq"
  private[sources] val MetaPos = "_pos"
  private[sources] val MetaTombstone = "_tombstone"
  private[sources] val MetaFile = "_file"
  private[sources] val MetaNames: Set[String] =
    Set(MetaSeq, MetaPos, MetaTombstone, MetaFile)

  /** The version surface as REAL schema fields — what the
    * `withVersion` read option appends to the table schema. Batch
    * readers normally reach the same values through the metadata
    * columns; `withVersion` exists because Spark's STREAMING scans
    * have no column-pruning phase to request metadata columns through
    * (the analyzer resolves them, the scan never learns) — a change
    * feed that needs versions/tombstones reads with this option
    * instead. */
  private[sources] val versionFields: Array[StructField] = Array(
    StructField(MetaSeq, LongType, nullable = false),
    StructField(MetaPos, LongType, nullable = false),
    StructField(MetaTombstone, BooleanType, nullable = false),
    StructField(MetaFile, StringType, nullable = false))

  /** The streaming change-data-feed surface, Delta's column spelling
    * (`readStream.option("readChangeFeed", "true")`): each delivered
    * row is one change event classified `insert` / `update_preimage` /
    * `update_postimage` / `delete`, stamped with its commit version —
    * the streaming twin of [[graft.sources.KeyedTableOps
    * .changeDataFeed]]. */
  private[sources] val CdfChangeType = "_change_type"
  private[sources] val CdfCommitVersion = "_commit_version"
  private[sources] val cdfFields: Array[StructField] = Array(
    StructField(CdfChangeType, StringType, nullable = false),
    StructField(CdfCommitVersion, LongType, nullable = false))

  /** The one supported-column-type gate CREATE TABLE and INSERT both
    * apply — two hand-kept copies could let DDL and DML disagree on
    * what a legal schema is. */
  private[sources] def validateSchema(schema: StructType): Unit =
    schema.fields.foreach { fd =>
      require(supported.contains(fd.dataType),
        s"KeyedTable supports long/int/double/string/boolean/" +
          s"timestamp/timestamp_ntz/date columns; " +
          s"got ${fd.name}: ${fd.dataType.sql}")
      require(!MetaNames.contains(fd.name),
        s"column name ${fd.name} is reserved for KeyedTable metadata")
    }

  /** The write contract (key column, bucket modulus) the table's LIVE
    * manifests agree on — None when the table is empty or its live
    * commits disagree (legacy lines, mixed writes). The catalog uses
    * this so a prop-less (sink-created) table keeps clustering the way
    * it was actually written. Live, not all-committed: an overwrite
    * that legitimately RE-clusters (different modulus) supersedes the
    * old contract along with the old rows — superseded entries must
    * not poison inference forever. */
  private[sources] def inferWriteContract(path: String,
      conf: Configuration): Option[(String, Int)] = {
    def of(entries: Seq[KFileEntry]): Option[(String, Int)] =
      entries.map(e => (e.key, e.buckets)).distinct match {
        case Seq((k, b)) if k.nonEmpty && b > 0 => Some((k, b))
        case _ => None
      }
    val live = liveManifests(path, conf).flatMap(_.entries)
    // a TRUNCATEd table has zero live entries — its history's contract
    // still beats guessing
    if (live.nonEmpty) of(live)
    else of(committedEntries(path, conf))
  }

  /** CREATE TABLE support: lay out an empty table (dirs + persisted
    * schema) so INSERT INTO / SELECT / the sink adapters all find it. */
  private[sources] def initTable(path: String, schema: StructType,
      conf: Configuration): Unit = {
    validateSchema(schema)
    ensureDirs(path, conf)
    ensureSchema(path, schema, conf)
  }

  /** DROP TABLE support: remove the whole table directory iff it IS a
    * keyed table (has a persisted schema) — refuses to recursively
    * delete arbitrary directories handed to it by identifier typos. */
  private[sources] def dropTableDir(path: String,
      conf: Configuration): Boolean = {
    if (readSchemaFile(path, conf).isEmpty) false
    else fs(path, conf).delete(new Path(path), true)
  }

  /** Table properties persisted by the catalog's CREATE TABLE (key
    * column, write parallelism) so SQL-created tables round-trip their
    * write contract to later loads. Simple `k=v` lines; absent file =
    * empty (sink-created tables carry no properties — the catalog then
    * INFERS their write contract from the committed manifests, see
    * [[inferWriteContract]]). */
  private[sources] def writeProps(path: String, conf: Configuration,
      props: Map[String, String]): Unit = {
    require(props.forall { case (k, v) =>
      !k.contains('=') && !k.contains('\n') && !v.contains('\n') },
      s"unencodable table properties: $props")
    writeAtomic(fs(path, conf), new Path(path, "_props"),
      props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\n"))
  }

  /** Locked read-modify-write of the table properties. Every property
    * MUTATION of an existing table goes through here: an unlocked
    * read/write pair racing schema evolution's `baseNcols` write (or
    * another declare) could write back a stale map and silently erase
    * a key — losing `merge=counter` turns the next compaction into a
    * sum-corrupting LWW fold, losing `baseNcols` mis-frames legacy
    * decodes. (First-time writes on a fresh table — the catalog's
    * CREATE TABLE — have no concurrent mutator by construction.) */
  private[sources] def updateProps(path: String, conf: Configuration)(
      f: Map[String, String] => Map[String, String]): Unit =
    withMaintenanceLock(path, conf) {
      writeProps(path, conf, f(readProps(path, conf)))
    }

  /** The table's FULL primary key: the partition key plus declared
    * clustering columns — ONE parse shared by the advertised schema,
    * the view=current scan, and the row-level operation builder (three
    * hand-kept copies would drift). */
  private[sources] def fullPrimaryKey(props: Map[String, String],
      key: String): Seq[String] =
    key +: props.get("clustering")
      .map(KeyedTableOps.parseClustering).getOrElse(Seq.empty)

  /** The table's write contract as far as it is known: declared
    * properties win, else the contract the live manifests prove
    * ([[inferWriteContract]], listed only when a declaration is
    * missing). ONE resolution for every table handle, path or
    * catalog, and [[KeyedTableOps.tableKey]], so a keyless path write
    * clusters like the catalog's INSERT INTO and like the reads. */
  private[sources] def declaredContract(path: String, conf: Configuration,
      props: Map[String, String]): (Option[String], Option[Int]) = {
    lazy val inferred = inferWriteContract(path, conf)
    val parts = props.get("writePartitions").map { v =>
      val n = try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"table property writePartitions='$v' at $path is not an integer") }
      require(n > 0, s"table property writePartitions=$n at $path must be positive")
      n
    }
    (props.get("key").orElse(inferred.map(_._1)),
      parts.orElse(inferred.map(_._2)))
  }

  private[sources] def readProps(path: String,
      conf: Configuration): Map[String, String] = {
    val f = fs(path, conf)
    val p = new Path(path, "_props")
    if (!f.exists(p)) Map.empty
    else readText(f, p).split("\n").toSeq.filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
  }

  /** Caller-supplied commit names become file names: keep them on a
    * strict filesystem-safe alphabet, uniqueness-preserving via a
    * hash suffix when anything was replaced. */
  private def sanitize(n: String): String = {
    val safe = n.map(c =>
      if (c.isLetterOrDigit || c == '-' || c == '_' || c == '.') c else '_')
    if (safe == n) safe
    else s"$safe-${Integer.toHexString(scala.util.hashing.MurmurHash3.stringHash(n))}"
  }

  /** Snapshot-rewrite manifests are NAMED by the set they supersede,
    * so two rewrites racing over the same inputs converge on one
    * logical manifest (the loser no-ops) and a re-run is a replay.
    * 128 bits of SHA-256 over the length-delimited sorted names — a
    * collision between two DIFFERENT superseded sets would make the
    * later fold read as a replay and silently wedge; at this width
    * that needs ~2^64 folds of one table, and the commit path
    * additionally verifies the committed manifest's supersedes header
    * before treating a name hit as a replay. */
  private[sources] def rewriteName(superseded: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    superseded.sorted.foreach { n =>
      md.update(n.getBytes(StandardCharsets.UTF_8))
      md.update(0.toByte)
    }
    val hex = md.digest().take(16).map(b => f"$b%02x").mkString
    s"rewrite-$hex.manifest"
  }

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  // column zone maps ride one extra tab field: per-column
  // `nulls~min~max` joined by ';' ('-' = absent; min/max are b64, whose
  // alphabet never contains '~'/';'/tab, so the nesting is unambiguous)
  private def colStatsField(cs: Seq[KeyStats]): String =
    if (cs.isEmpty) "-"
    else cs.map(s => Seq(s.nulls.toString,
      s.minEnc.map(b64).getOrElse("-"),
      s.maxEnc.map(b64).getOrElse("-")).mkString("~")).mkString(";")

  private def parseColStats(field: String): Seq[KeyStats] =
    if (field == "-" || field.isEmpty) Seq.empty
    else field.split(";", -1).toSeq.map { c =>
      val p = c.split("~", -1)
      KeyStats(p(0).toLong,
        Some(p(1)).filter(_ != "-").map(unb64),
        Some(p(2)).filter(_ != "-").map(unb64))
    }

  private def entryLine(e: KFileEntry): String = Seq(
    e.file, e.rows.toString, e.bucket.toString, e.buckets.toString,
    b64(e.key), e.stats.map(_.nulls).getOrElse(0L).toString,
    e.stats.flatMap(_.minEnc).map(b64).getOrElse("-"),
    e.stats.flatMap(_.maxEnc).map(b64).getOrElse("-"),
    if (e.tombstone) "t" else "d",
    colStatsField(e.colStats),
    e.bytes.toString,
    if (e.blocks) "b" else "-",
    if (e.bloomCols.isEmpty) "-" else e.bloomCols.mkString(","),
    ndvField(e.ndv),
    sumsField(e.sums)
  ).mkString("\t")

  private def parseEntry(line: String): KFileEntry = {
    val f = line.split("\t", -1)
    if (f.length < 8) KFileEntry(f(0), -1L, -1, -1, "", None)
    else KFileEntry(f(0), f(1).toLong, f(2).toInt, f(3).toInt, unb64(f(4)),
      Some(KeyStats(f(5).toLong,
        Some(f(6)).filter(_ != "-").map(unb64),
        Some(f(7)).filter(_ != "-").map(unb64))),
      tombstone = f.length > 8 && f(8) == "t",
      colStats = if (f.length > 9) parseColStats(f(9)) else Seq.empty,
      bytes = if (f.length > 10) f(10).toLong else -1L,
      blocks = f.length > 11 && f(11) == "b",
      bloomCols = if (f.length > 12 && f(12) != "-")
        f(12).split(",").toSeq.map(_.toInt) else Seq.empty,
      ndv = if (f.length > 13) parseNdvField(f(13)) else Seq.empty,
      sums = if (f.length > 14) parseSumsField(f(14)) else Seq.empty)
  }

  // per-column file sums: the decimal string positionally, ';'-joined
  // ('-' = not recorded for that column — non-numeric type or a long
  // accumulator that overflowed; honest refusal beats a wrong fold)
  private def sumsField(sums: Seq[Option[String]]): String =
    if (sums.isEmpty || sums.forall(_.isEmpty)) "-"
    else sums.map(_.getOrElse("-")).mkString(";")

  private def parseSumsField(field: String): Seq[Option[String]] =
    if (field == "-" || field.isEmpty) Seq.empty
    else field.split(";", -1).toSeq.map(v => Some(v).filter(_ != "-"))

  // per-column KMV sketch field: b64 of the ascending 8-byte hashes,
  // ';'-joined positionally ('-' = column not recorded)
  private def ndvField(ndv: Seq[Seq[Long]]): String =
    if (ndv.isEmpty || ndv.forall(_.isEmpty)) "-"
    else ndv.map { hs =>
      if (hs.isEmpty) "-"
      else {
        val bb = java.nio.ByteBuffer.allocate(hs.length * 8)
        hs.foreach(bb.putLong)
        java.util.Base64.getEncoder.encodeToString(bb.array())
      }
    }.mkString(";")

  private def parseNdvField(field: String): Seq[Seq[Long]] =
    if (field == "-" || field.isEmpty) Seq.empty
    else field.split(";", -1).toSeq.map { c =>
      if (c == "-") Seq.empty[Long]
      else {
        val bytes = java.util.Base64.getDecoder.decode(c)
        val bb = java.nio.ByteBuffer.wrap(bytes)
        Seq.fill(bytes.length / 8)(bb.getLong())
      }
    }

  // ---------- manifest body: version headers + entry lines ----------
  //
  // A manifest body is header lines (leading '#': "#seq:<long>",
  // "#ts:<millis>", "#supersedes:<name,name,...>") followed by one
  // entry line per committed file. Headers travel verbatim through
  // compaction (section content is preserved), so version order and
  // rewrite lineage survive checkpointing. Legacy bodies (no headers)
  // parse as seq/ts = -1 with no supersedes.

  private def manifestBody(seq: Long, ts: Long, supersedes: Seq[String],
      entries: Seq[KFileEntry], expiresAt: Long = -1L,
      ncols: Int = -1): String = {
    require(supersedes.forall(n => !n.contains(',') && !n.contains('\n')),
      s"unencodable superseded manifest names: $supersedes")
    val headers = Seq(s"#seq:$seq", s"#ts:$ts") ++
      (if (ncols >= 0) Seq(s"#ncols:$ncols") else Seq.empty) ++
      (if (expiresAt >= 0) Seq(s"#expires:$expiresAt") else Seq.empty) ++
      (if (supersedes.nonEmpty) Seq(s"#supersedes:${supersedes.mkString(",")}")
       else Seq.empty)
    (headers ++ entries.map(entryLine)).mkString("\n")
  }

  private def parseManifest(name: String, lines: Seq[String]): KManifest = {
    val (headers, body) = lines.partition(_.startsWith("#"))
    def header(k: String): Option[String] =
      headers.collectFirst { case h if h.startsWith(s"#$k:") =>
        h.substring(k.length + 2) }
    KManifest(name,
      header("seq").map(_.toLong).getOrElse(-1L),
      header("ts").map(_.toLong).getOrElse(-1L),
      header("supersedes").map(_.split(",").toSeq.filter(_.nonEmpty))
        .getOrElse(Seq.empty),
      body.map(parseEntry),
      header("expires").map(_.toLong).getOrElse(-1L),
      header("ncols").map(_.toInt).getOrElse(-1))
  }

  private[sources] def manifests(path: String,
      conf: Configuration): Seq[KManifest] =
    logicalManifests(path, conf).map { case (n, ls) => parseManifest(n, ls) }

  /** The LIVE manifests: every committed manifest minus those a
    * snapshot rewrite superseded — optionally as of a commit sequence
    * (`VERSION AS OF`): only manifests with seq <= asOf are visible,
    * and only THEIR supersedes apply, so time travel below a rewrite's
    * fence resolves the original commits (retained until vacuum).
    * A name any visible manifest supersedes never returns to life,
    * even when the superseding rewrite is itself superseded — its
    * content was folded forward. Legacy manifests (seq -1) are always
    * visible. */
  private[sources] def liveManifests(path: String, conf: Configuration,
      asOf: Option[Long] = None): Seq[KManifest] = {
    // TTL expiry is a READ-time property (Cassandra: TTL'd data is
    // gone whenever you look, time travel included); expired
    // manifests stop planning, their bytes become vacuum-reclaimable
    // after the grace, and the change feed still carries them (the
    // events happened). Expiry removes a manifest's ENTRIES from
    // planning but NEVER un-applies its supersedes — an expired
    // overwrite must leave the table empty, not resurrect the rows it
    // replaced (whose bytes vacuum may already have reclaimed)
    val now = System.currentTimeMillis()
    val visible = asOf match {
      case Some(v) => manifests(path, conf).filter(_.seq <= v)
      case None => manifests(path, conf)
    }
    val dead = visible.flatMap(_.supersedes).toSet
    visible.filterNot(m => dead(m.name))
      .filter(m => m.expires < 0 || m.expires > now)
  }

  /** `TIMESTAMP AS OF` resolution: the highest commit sequence whose
    * manifest was stamped at or before `tsMs` — Delta's rule. Commits
    * whose wall-clock raced out of sequence order still resolve to a
    * single well-defined snapshot (the max qualifying seq); an instant
    * before the first commit reads the empty table (seq 0). */
  private[sources] def resolveTsToSeq(path: String, tsMs: Long,
      conf: Configuration): Long =
    manifests(path, conf)
      .filter(m => m.ts >= 0 && m.ts <= tsMs)
      .map(_.seq).foldLeft(0L)(math.max)

  /** Reserve the table's next commit sequence: claim max+1 upward
    * through exclusive marker creates under `_commits/` (`.seq-N.res`
    * — not a `.manifest`, invisible to every manifest listing). Two
    * racing commits therefore get DISTINCT sequences on stores with
    * atomic create-no-overwrite. The CURRENT max comes from the marker
    * NAMES in one directory listing — every committed sequence was
    * reserved first, so the markers are a superset of committed seqs
    * and no manifest body is ever opened on the commit path; only a
    * marker-less table (legacy, or pre-reservation bodies) falls back
    * to reading bodies once. `compact()` prunes all but the highest
    * marker, so the listing stays bounded. */
  private def reserveSeq(path: String, conf: Configuration): Long = {
    val f = fs(path, conf)
    ensureDirs(path, conf)
    val reserved = markerSeqs(f, path)
    val base =
      if (reserved.nonEmpty) reserved.max
      else manifests(path, conf).map(_.seq).foldLeft(0L)(math.max)
    var n = base + 1L
    while (!createExclusive(f, new Path(s"$path/_commits", s".seq-$n.res")))
      n += 1L
    n
  }

  private def markerSeqs(f: FileSystem, path: String): Seq[Long] = {
    val dir = new Path(path, "_commits")
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith(".seq-") && n.endsWith(".res"))
      .flatMap(n => scala.util.Try(
        n.stripPrefix(".seq-").stripSuffix(".res").toLong).toOption)
  }

  /** Atomic create-no-overwrite. Hadoop's local filesystems check
    * exists() then create — a TOCTOU window two racing commits on one
    * machine can actually hit — so local goes through NIO's
    * O_CREAT|O_EXCL instead; every other store keeps its own
    * createNewFile contract (atomic on HDFS). */
  private def createExclusive(f: FileSystem, p: Path): Boolean = f match {
    case _: org.apache.hadoop.fs.LocalFileSystem |
         _: org.apache.hadoop.fs.RawLocalFileSystem =>
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(p.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    case other => other.createNewFile(p)
  }

  /** Serializes SUPERSEDING commits (rewrite / overwrite / truncate) —
    * plain appends never take it. Two superseding commits racing on
    * stale listings could otherwise both publish and leave a folded
    * input live next to the fold that consumed it (e.g. a rewrite
    * whose tombstone input a second rewrite superseded — the deleted
    * key would resurrect). The lock makes [list live / validate /
    * publish] atomic.
    *
    * Acquisition is an exclusive create, then an OWNERSHIP STAMP (a
    * waiter-unique token written into the lock and read back — only
    * the waiter whose token survives enters the critical section). A
    * lock abandoned by a crash goes stale after 60s and is taken over
    * BY RENAME: renaming the stale lock aside to a stealer-unique
    * name is atomic and succeeds for exactly one stealer, so two
    * waiters observing the same stale lock can never both tear it
    * down and end up holding simultaneously (the delete-based
    * takeover's TOCTOU); the rename loser just re-observes a FRESH
    * lock and waits. Release deletes the lock only while it still
    * carries the holder's own token — a holder stalled past the
    * staleness TTL (GC pause) whose lock was stolen must not delete
    * the thief's. */
  private def withMaintenanceLock[A](path: String,
      conf: Configuration)(body: => A): A = {
    val f = fs(path, conf)
    ensureDirs(path, conf)
    val dir = new Path(path, "_commits")
    val lock = new Path(dir, ".maint.lock")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + 30000L
    var held = false
    while (!held) {
      if (createExclusive(f, lock)) {
        // claim won — stamp ownership and confirm the stamp survived
        // (a steal inside this window would need the fresh lock to
        // look 60s stale, which it cannot; the read-back guards the
        // protocol anyway)
        try {
          val out = f.create(lock, true)
          try out.write(token.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          held = readText(f, lock) == token
        } catch { case scala.util.control.NonFatal(_) => () }
        if (!held) {
          // a transient stamp failure must not leave OUR unstamped
          // lock on disk: every waiter (us included) would then block
          // on it until the 30s deadline, well inside the 60s
          // staleness TTL — self-deadlock. Undo the claim, unless the
          // file now carries someone ELSE's token (not plausibly ours
          // to delete).
          val other = try {
            val c = readText(f, lock); c.nonEmpty && c != token
          } catch { case scala.util.control.NonFatal(_) => false }
          if (!other) { try { f.delete(lock, false); () }
            catch { case scala.util.control.NonFatal(_) => () } }
        }
      } else {
        val stale = (try Some(f.getFileStatus(lock)) catch {
          case _: java.io.FileNotFoundException => None
        }).exists(_.getModificationTime <
          System.currentTimeMillis() - 60000L)
        if (stale) {
          // takeover by atomic rename: at most one stealer's rename
          // succeeds; the winner reclaims via createExclusive on the
          // next loop iteration, everyone else waits on the new lock
          val parked = new Path(dir, s".maint.stale.$token")
          val won = try f.rename(lock, parked)
            catch { case scala.util.control.NonFatal(_) => false }
          if (won) { try { f.delete(parked, false); () }
            catch { case scala.util.control.NonFatal(_) => () } }
        } else if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"KeyedTable maintenance lock at $lock not acquired in 30s")
        else Thread.sleep(50)
      }
    }
    try body finally {
      // delete only a lock that is still OURS
      val own = try readText(f, lock) == token
        catch { case scala.util.control.NonFatal(_) => false }
      if (own) { try { f.delete(lock, false); () }
        catch { case scala.util.control.NonFatal(_) => () } }
    }
  }

  /** Write one logical manifest: reserve the commit sequence (unless
    * the caller fixes one — snapshot rewrites commit AT their fence,
    * adding no new version), stamp headers, publish atomically. */
  private def commitManifest(path: String, name: String,
      entries: Seq[KFileEntry], conf: Configuration,
      fixedSeq: Option[Long] = None,
      supersedes: Seq[String] = Seq.empty,
      ttlMs: Option[Long] = None,
      ncols: Int = -1): Unit = {
    val seq = fixedSeq.getOrElse(reserveSeq(path, conf))
    ensureDirs(path, conf)
    val now = System.currentTimeMillis()
    writeAtomic(fs(path, conf), new Path(s"$path/_commits", name),
      manifestBody(seq, now, supersedes, entries,
        ttlMs.map(now + _).getOrElse(-1L), ncols))
  }

  // ---------- logical manifests & compaction ----------

  private val CompactHeader = "#graft-compact-v1"

  /** The committed LOGICAL manifests: every standalone
    * `<name>.manifest` plus every section of a `compact-*.manifest`
    * checkpoint, keyed by logical name, sorted. A checkpoint SHADOWS
    * the standalone files it embeds (compaction deletes them, but a
    * reader racing that window must not double-count), and duplicate
    * sections across checkpoints dedupe — section content is
    * immutable, so any copy is the truth. Logical names are the unit
    * tail-stream offsets are made of; compaction preserves them. */
  private def logicalManifests(path: String,
      conf: Configuration): Seq[(String, Seq[String])] = {
    val f = fs(path, conf)
    val dir = new Path(path, "_commits")
    if (!f.exists(dir)) return Seq.empty
    val files = f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".manifest")).sortBy(_.getName)
    val sections = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    val (compacts, standalone) = files.partition(_.getName.startsWith("compact-"))
    compacts.foreach { p =>
      val lines = readText(f, p).split("\n", -1).toSeq
      require(lines.headOption.contains(CompactHeader),
        s"unrecognized compact manifest header in $p")
      var cur: String = null
      var buf = List.empty[String]
      def flush(): Unit = if (cur != null) {
        if (!sections.contains(cur)) sections(cur) = buf.reverse
        buf = Nil
      }
      lines.drop(1).foreach {
        case l if l.startsWith(">") => flush(); cur = l.substring(1)
        case l if l.nonEmpty => buf ::= l
        case _ => ()
      }
      flush()
    }
    standalone.foreach { p =>
      val n = p.getName
      if (!sections.contains(n))
        sections(n) = readText(f, p).split("\n").toSeq.filter(_.nonEmpty)
    }
    sections.toSeq.sortBy(_._1)
  }

  /** Every entry of every committed manifest, superseded ones
    * included — the REFERENCED set (vacuum safety, full listings).
    * Scans plan from [[liveManifests]] instead. */
  private[sources] def committedEntries(path: String,
      conf: Configuration): Seq[KFileEntry] =
    manifests(path, conf).flatMap(_.entries)

  /** Logical manifest NAMES only — the hot-path variant (tail-stream
    * triggers, replay probes): one directory listing plus the bodies
    * of compaction checkpoints (few by construction; zero before the
    * first compact), never the per-commit manifest bodies. */
  private def logicalNames(path: String, conf: Configuration): Seq[String] = {
    val f = fs(path, conf)
    val dir = new Path(path, "_commits")
    if (!f.exists(dir)) return Seq.empty
    val files = f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".manifest"))
    val (compacts, standalone) = files.partition(_.getName.startsWith("compact-"))
    val names = scala.collection.mutable.LinkedHashSet[String]()
    compacts.foreach { p =>
      readText(f, p).split("\n", -1).foreach { l =>
        if (l.startsWith(">")) names += l.substring(1)
      }
    }
    standalone.foreach(p => names += p.getName)
    names.toSeq.sorted
  }

  /** Is a logical manifest committed? O(1) when it still stands alone
    * (the overwhelmingly common case for a fresh replay probe); falls
    * back to the compaction checkpoints' section lists. */
  private def manifestCommitted(path: String, name: String,
      conf: Configuration): Boolean = {
    val f = fs(path, conf)
    f.exists(new Path(s"$path/_commits", name)) ||
      logicalNames(path, conf).contains(name)
  }

  /** The lines of ONE logical manifest: its standalone file when
    * present, else its section in a compaction checkpoint. */
  private def manifestLines(path: String, name: String,
      conf: Configuration): Seq[String] = {
    val f = fs(path, conf)
    val standalone = new Path(s"$path/_commits", name)
    if (f.exists(standalone))
      readText(f, standalone).split("\n").toSeq.filter(_.nonEmpty)
    else logicalManifests(path, conf).collectFirst {
      case (n, lines) if n == name => lines
    }.getOrElse(throw new IllegalStateException(
      s"manifest $name is gone from $path — manifests must only ever be " +
        "added or compacted, never removed"))
  }

  /** Every data file listed by any committed manifest — superseded
    * ones included (the REFERENCED set). Public ops surface (specs,
    * vacuum-adjacent tooling). */
  def committedFiles(path: String): Seq[String] =
    committedFiles(path, hadoopConf())
  private def committedFiles(path: String, conf: Configuration): Seq[String] =
    committedEntries(path, conf).map(_.file)

  /** The LIVE logical manifests (supersedes applied) — what a batch
    * scan plans from. Public ops surface. */
  def liveManifestNames(path: String): Seq[String] =
    liveManifests(path, hadoopConf()).map(_.name)

  /** The data files of the live manifests — what a batch scan can
    * read. Public ops surface. */
  def liveFiles(path: String): Seq[String] =
    liveManifests(path, hadoopConf()).flatMap(_.entries.map(_.file))

  /** The table's current commit sequence (max over live manifests; 0
    * on an empty table). Feed to `VERSION AS OF` for a snapshot pin. */
  def currentSeq(path: String): Long =
    liveManifests(path, hadoopConf()).map(_.seq).foldLeft(0L)(math.max)

  /** Does any LIVE manifest carry tombstone markers? Plan-time,
    * manifest-flag-only — lets the merge views skip the tombstone-cut
    * join entirely on tables with no outstanding deletes (the common
    * case, and always true right after a purging rewrite). */
  def hasLiveTombstones(path: String): Boolean =
    liveManifests(path, hadoopConf())
      .exists(_.entries.exists(_.tombstone))

  /** One listing answering everything a merge-view CONSTRUCTION needs:
    * the LIVE manifest NAME SET at this instant (the snapshot pin) and
    * whether it carries tombstones. The views thread the name set into
    * every scan they build (the `manifests` reader option), so the
    * tombstone decision, the cut scan, and the data scan all plan ONE
    * immutable manifest set — a commit publishing between the view's
    * scans (even one whose reserved sequence is at or below the pin's
    * max, which a seq-only pin would tear on) can never make one side
    * of the read see rows the other missed. */
  private[sources] final case class KSnapshot(names: Seq[String],
      hasTombstones: Boolean) {
    def pinOption: String = names.mkString(",")
  }
  private[sources] def snapshotInfo(path: String): KSnapshot = {
    val live = liveManifests(path, hadoopConf())
    KSnapshot(live.map(_.name), live.exists(_.entries.exists(_.tombstone)))
  }

  /** Fold every committed manifest into ONE `compact-*.manifest`
    * checkpoint and delete the superseded physical files. Bounds the
    * O(#commits) listing cost of reads, tails, and vacuum. Logical
    * manifest names (and their line content) are preserved verbatim
    * as sections, so (a) a tail stream's offset — a set of logical
    * names — stays valid across compaction with no re-delivery and no
    * loss, and (b) a replayed streaming epoch still finds its
    * manifest and no-ops. A commit racing the compaction is simply
    * not embedded and survives as a standalone file. Returns the
    * physical manifest files that were folded in. */
  def compact(path: String): Seq[String] = {
    val conf = hadoopConf()
    val f = fs(path, conf)
    val dir = new Path(path, "_commits")
    if (!f.exists(dir)) return Seq.empty
    val physical = f.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".manifest"))
    if (physical.size <= 1) return Seq.empty
    val current = logicalManifests(path, conf)
    val body = (CompactHeader +: current.flatMap {
      case (n, ls) => s">$n" +: ls
    }).mkString("\n")
    val name = s"compact-${java.util.UUID.randomUUID().toString.take(8)}.manifest"
    writeAtomic(f, new Path(dir, name), body)
    // sequence markers below the current max are spent — the
    // reservation loop only probes ABOVE max, so pruning all but the
    // highest keeps the _commits listing bounded without ever
    // re-issuing a sequence
    val markers = markerSeqs(f, path)
    if (markers.nonEmpty) {
      val top = markers.max
      markers.filter(_ < top).foreach { n =>
        try { f.delete(new Path(dir, s".seq-$n.res"), false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    }
    // delete exactly what we read: a manifest committed after the
    // listing survives standalone; a failed delete stays harmlessly
    // shadowed by its embedded section
    physical.map { p =>
      try { f.delete(p, false); () }
      catch { case scala.util.control.NonFatal(_) => () }
      p.getName
    }
  }

  /** Decode-compatibility: the row-log frame plan depends on field
    * ORDER and TYPES only — the null flag is always written, so
    * declared nullability (and metadata) differences are harmless and
    * must not reject a read or write. */
  private def sameShape(a: StructType, b: StructType): Boolean =
    a.fields.map(f => (f.name, f.dataType)).toSeq ==
      b.fields.map(f => (f.name, f.dataType)).toSeq

  /** Is `a` a leading prefix of `b` (same names and types, in order)?
    * The ONE legal schema-evolution relation: later commits may only
    * APPEND nullable columns, so every historical frame plan is a
    * prefix of the current schema and old files decode forever. */
  private[sources] def isPrefix(a: StructType, b: StructType): Boolean =
    a.length <= b.length &&
      a.fields.map(f => (f.name, f.dataType)).toSeq ==
        b.fields.take(a.length).map(f => (f.name, f.dataType)).toSeq

  /** SCHEMA EVOLUTION, the explicit spelling (ALTER TABLE ... ADD
    * COLUMNS and programmatic callers): widen the committed schema by
    * trailing nullable columns. Reads NULL-fill the new columns on
    * older files (each manifest records the field count its files
    * were framed with); later writes may bring either the widened or
    * any committed-prefix schema. Type changes, renames, reorders,
    * and drops are rejected — they would mis-frame the binary decode
    * of every older file. */
  def addColumns(path: String, fields: Seq[StructField]): Unit = {
    require(fields.nonEmpty, "addColumns needs at least one column")
    val conf = hadoopConf()
    val cur = readSchemaFile(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"KeyedTable at $path has no committed schema to evolve"))
    val dup = fields.map(_.name).intersect(cur.fieldNames.toSeq)
    require(dup.isEmpty, s"columns ${dup.mkString(",")} already exist at $path")
    val widened = StructType(cur.fields ++ fields.map(_.copy(nullable = true)))
    validateSchema(widened)
    ensureSchema(path, widened, conf)
  }

  /** First commit persists the schema; later commits must match its
    * SHAPE — a silent type/order drift would corrupt every older
    * file's decode. Publication is a fully-written unique temp file
    * renamed into place (readers NEVER see partial bytes, and a crash
    * mid-publish leaves only an invisible temp, not a bricked table);
    * the rename is skipped when a schema already exists, and everyone
    * re-reads and must match the winner. On rename-no-overwrite
    * stores (HDFS) first-publish is fully exclusive; on a clobbering
    * local FS two different-schema first writes racing inside this
    * window resolve last-complete-writer-wins and the loser fails its
    * re-check — the manifest commit re-verifies once more. */
  private def ensureSchema(path: String, schema: StructType,
      conf: Configuration): Unit = {
    val f = fs(path, conf)
    val p = new Path(path, "_schema.json")
    if (readSchemaFile(path, conf).isEmpty) {
      val tmp = new Path(path,
        s"._schema.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      // persist all-nullable: the table accumulates APPENDS, and a
      // later commit may legally carry nulls where the first writer's
      // frame happened not to — a non-nullable pin would let Catalyst
      // miscompile reads (count(col) -> count(*), elided null checks)
      // over data that does hold nulls
      val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
      try out.write(nullable.json.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      try { if (!f.exists(p)) f.rename(tmp, p); () }
      finally { try { f.delete(tmp, false); () }
        catch { case scala.util.control.NonFatal(_) => () } }
    }
    val committed = readSchemaFile(path, conf).getOrElse(
      throw new java.io.IOException(s"could not persist schema at $p"))
    if (sameShape(committed, schema) || isPrefix(schema, committed)) return
    // SCHEMA EVOLUTION: the write brings the committed schema plus new
    // trailing columns. Serialize with other evolvers under the
    // maintenance lock (re-checking the winner inside), persist the
    // widened schema all-nullable, and record `baseNcols` (the
    // pre-evolution field count) the FIRST time — it is what manifests
    // stamped before ncols headers existed resolve their frame plans
    // to. Anything that is not a pure trailing-append is rejected: a
    // type change / reorder / drop would mis-frame every older file.
    require(isPrefix(committed, schema),
      s"KeyedTable schema mismatch at $path: table has $committed, " +
        s"write brings $schema — only appending trailing nullable " +
        "columns is a legal evolution")
    withMaintenanceLock(path, conf) {
      val cur = readSchemaFile(path, conf).getOrElse(committed)
      if (!sameShape(cur, schema) && !isPrefix(schema, cur)) {
        require(isPrefix(cur, schema),
          s"KeyedTable schema evolution conflict at $path: table now " +
            s"has $cur, write brings $schema")
        val props = readProps(path, conf)
        if (!props.contains("baseNcols"))
          writeProps(path, conf,
            props + ("baseNcols" -> cur.length.toString))
        val widened = StructType(schema.fields.map(_.copy(nullable = true)))
        writeAtomic(f, p, widened.json)
      }
    }
  }

  private def manifest(path: String, name: String,
      messages: Array[WriterCommitMessage], schema: StructType,
      key: String, buckets: Int, conf: Configuration,
      fixedSeq: Option[Long] = None,
      supersedes: Seq[String] = Seq.empty,
      ttlMs: Option[Long] = None): Unit = {
    // last line of defense for the local-FS first-publish race: never
    // manifest rows whose shape disagrees with the winning schema
    // (prefix-compatible: evolution only appends columns, so a write
    // framed as any committed prefix decodes correctly forever)
    readSchemaFile(path, conf).foreach(c => require(
      sameShape(c, schema) || isPrefix(schema, c),
      s"KeyedTable schema changed under this write at $path"))
    val flat = messages.flatMap {
      case m: KFileMessage => Seq(m)
      // a rolling writer (sorted fold) reports several files per task;
      // the tombstone slot is the row-level write protocol's, never
      // this commit path's
      case d: KDeltaMessage =>
        require(d.tombs.isEmpty,
          "tombstone messages must commit through the row-level path")
        d.data
      case _ => Seq.empty
    }
    val entries = flat.collect {
      case m if m.rows > 0 =>
        KFileEntry(m.file, m.rows, m.bucket, buckets, key,
          Some(KeyStats(m.nulls, m.minEnc, m.maxEnc)), colStats = m.colStats,
          bytes = m.bytes, blocks = m.blocks, bloomCols = m.bloomCols,
          ndv = m.ndv, sums = m.sums)
    }
    commitManifest(path, name, entries, conf, fixedSeq, supersedes, ttlMs,
      ncols = schema.length)
  }

  private def dropStaged(path: String,
      messages: Array[WriterCommitMessage], conf: Configuration): Unit = {
    val f = fs(path, conf)
    def drop(m: KFileMessage): Unit =
      if (m.rows > 0) {
        try { f.delete(new Path(s"$path/data", m.file), false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
    messages.foreach {
      case m: KFileMessage => drop(m)
      case d: KDeltaMessage => (d.data ++ d.tombs).foreach(drop)
      case _ => ()
    }
  }

  private def ensureDirs(path: String, conf: Configuration): Unit = {
    val f = fs(path, conf)
    f.mkdirs(new Path(path, "data"))
    f.mkdirs(new Path(path, "_commits"))
    ()
  }

  /** Reap storage the table no longer serves: data/ files no manifest
    * lists (task-committed but never driver-committed — a driver crash
    * between task and job commit), orphaned `.inprogress` attempts
    * (writer crashed before task commit), and files ONLY superseded
    * manifests reference (their content was folded into a snapshot
    * rewrite — Delta's VACUUM-after-OPTIMIZE shape). Invisible and
    * superseded bytes are CORRECT forever; vacuum is about storage, so
    * it only touches files older than `graceMs`. The grace doubles as
    * the RETENTION window: a tail stream or `VERSION AS OF` read below
    * a rewrite's fence resolves original commits, which stay
    * bit-readable until the grace expires — after that they are gone,
    * the standard retention contract. Returns the deleted names. */
  def vacuum(path: String, graceMs: Long = 24L * 3600 * 1000): Seq[String] = {
    val conf = hadoopConf()
    val f = fs(path, conf)
    val dataDir = new Path(path, "data")
    if (!f.exists(dataDir)) return Seq.empty
    val live = liveManifests(path, conf).flatMap(_.entries.map(_.file)).toSet
    val cutoff = System.currentTimeMillis() - graceMs
    f.listStatus(dataDir).toSeq
      .filter(st => st.isFile && st.getModificationTime < cutoff)
      .filter { st =>
        // a bloom SIDECAR lives and dies with its data file
        val n = st.getPath.getName
        val logical =
          if (n.startsWith(".bloom-")) n.stripPrefix(".bloom-") else n
        !live.contains(logical)
      }
      .map { st => f.delete(st.getPath, false); st.getPath.getName }
  }

  /** Commit DELETION TOMBSTONES for the given key values (catalyst
    * domain). Cassandra's delete path, not a table rewrite: the keys
    * come from the predicate, so NOTHING is scanned — one marker file
    * per write bucket (key populated, every other field null, keeping
    * the file's bucket proof and key stats exactly as a data write
    * would), one manifest commit at the next sequence. The markers
    * outrank every existing version of those keys under
    * last-write-wins; a LATER write of the same key outranks the
    * marker (re-insert after delete works); snapshot rewrites purge
    * markers older than the grace period. Bytes written are O(#keys),
    * independent of table size. */
  private[sources] def deleteKeys(path: String, schema: StructType,
      key: String, keys: Seq[Any], buckets: Int,
      conf: Configuration): Unit = {
    require(schema.fieldNames.contains(key),
      s"key column '$key' not in schema ${schema.fieldNames.mkString(",")}")
    ensureDirs(path, conf)
    ensureSchema(path, schema, conf)
    val msgs = writeTombstoneMarkers(path, schema, schema.fieldIndex(key),
      buckets, keys, "", conf)
    if (msgs.isEmpty) return
    val entries = msgs.map(m => KFileEntry(m.file, m.rows, m.bucket, buckets,
      key, Some(KeyStats(m.nulls, m.minEnc, m.maxEnc)), tombstone = true,
      colStats = m.colStats, bytes = m.bytes))
    commitManifest(path,
      s"delete-${java.util.UUID.randomUUID().toString.take(8)}.manifest",
      entries, conf, ncols = schema.length)
  }

  /** Write the tombstone MARKER FILES for a key set — the executor-
    * callable half of [[deleteKeys]] (the SQL row-level DELETE path
    * writes markers from its writer tasks and commits them with the
    * statement's other effects in one manifest). One marker file per
    * write bucket touched; each row carries the key with every other
    * field null, keeping the bucket proof and zone maps exactly as a
    * data write would. Returns one commit message per file written;
    * the CALLER commits (or aborts) them. */
  private[sources] def writeTombstoneMarkers(path: String,
      schema: StructType, keyIdx: Int, buckets: Int, keys: Seq[Any],
      prefix: String, conf: Configuration): Seq[KFileMessage] = {
    val keyType = schema.fields(keyIdx).dataType
    val f = fs(path, conf)
    val distinct = keys.distinct
    if (distinct.isEmpty) return Seq.empty
    val ord = keyOrdering(keyType)
    def leq(a: Any, b: Any): Boolean = ord(a, b) <= 0
    distinct.groupBy(v => bucketOf(v, keyType, buckets))
      .toSeq.sortBy(_._1).map { case (bucket, vs) =>
        val name = s"${prefix}tomb-$bucket-" +
          s"${java.util.UUID.randomUUID().toString.take(8)}.rows"
        val out = new DataOutputStream(new java.io.BufferedOutputStream(
          f.create(new Path(s"$path/data", name), true)))
        try vs.foreach { v =>
          var i = 0
          while (i < schema.length) {
            if (i == keyIdx) {
              out.writeBoolean(false)
              keyType match {
                case LongType | TimestampType | TimestampNTZType =>
                  out.writeLong(v.asInstanceOf[Long])
                case IntegerType | DateType => out.writeInt(v.asInstanceOf[Int])
                case DoubleType =>
                  out.writeDouble(normZero(v.asInstanceOf[Double]))
                case BooleanType => out.writeBoolean(v.asInstanceOf[Boolean])
                case StringType => {
                  val b = v.asInstanceOf[UTF8String].getBytes
                  out.writeInt(b.length); out.write(b)
                }
                case other => throw new IllegalArgumentException(other.sql)
              }
            } else out.writeBoolean(true) // every non-key field is null
            i += 1
          }
        } finally out.close()
        val mn = vs.reduce((a, b) => if (leq(a, b)) a else b)
        val mx = vs.reduce((a, b) => if (leq(a, b)) b else a)
        val keyStats = KeyStats(0L, encStat(mn), encStat(mx))
        // zone maps for a marker file: the key column carries the real
        // range; every other field is all-null
        val cs = schema.fields.indices.map(i =>
          if (i == keyIdx) keyStats
          else KeyStats(vs.size.toLong, None, None))
        val bytes = try f.getFileStatus(new Path(s"$path/data", name)).getLen
          catch { case scala.util.control.NonFatal(_) => -1L }
        KFileMessage(name, vs.size.toLong, 0L, bucket,
          keyStats.minEnc, keyStats.maxEnc, cs, bytes)
      }
  }

  // ---------- table ----------

  /** `chaosKey`: test-only fault injection (option `chaosWriteKey`) —
    * the row writer throws mid-file on its FIRST attempt right after
    * writing that key's row, so the retry/abort path runs against a
    * genuinely partial staged file IN THE WRITE STAGE (a failing udf
    * in the query lands below the required-distribution exchange, in
    * the map stage, and never exercises the writer at all).
    * `clusteredRead`: plan one read partition per write bucket and
    * report KeyGroupedPartitioning — set by the catalog loader (which
    * can also resolve the bucket transform) and opt-in via option.
    * `commitName`: names the batch manifest by the CALLER's identity
    * instead of the write's query id, making a re-run of the same
    * logical append (a resume re-driving a staged file through the
    * sink) a no-op replay instead of a duplicate — the batch twin of
    * the streaming epoch protocol.
    * `keyCol` / `writePartitions`: the `key` / `writePartitions`
    * options; absent, each resolves through [[declaredContract]]
    * (declared `_props`, else the proven write contract), so reads,
    * deletes and writes of one handle agree on the table's key. */
  private[sources] final class KTable(path: String, schema0: StructType,
      keyCol: Option[String], writePartitions: Option[Int],
      clusteredRead: Boolean = false, chaosKey: Option[Long] = None,
      commitName: Option[String] = None, asOfSeq: Option[Long] = None,
      rewrite: Option[(Long, Seq[String])] = None,
      withVersion: Boolean = false, ttlMs: Option[Long] = None,
      sortOrder: Seq[String] = Seq.empty, maxFileRows: Long = 0L,
      blockRows: Long = DefaultBlockRows, changeFeed: Boolean = false,
      preshaped: Boolean = false)
      extends Table with SupportsRead with SupportsWrite
      with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
      with org.apache.spark.sql.connector.catalog.SupportsDelete
      with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations {
    override def name(): String = s"keyed_table($path)"

    /** `SHOW TBLPROPERTIES` / DESCRIBE surface: the persisted
      * declarations plus the EFFECTIVE write contract — when key or
      * writePartitions were never declared, the values inferred from
      * the committed manifests are shown (what a write would actually
      * use), so an operator reads the real contract, not a blank. */
    override def properties(): java.util.Map[String, String] = {
      val m = new java.util.HashMap[String, String]()
      inferWriteContract(path, hadoopConf()).foreach { case (k, n) =>
        m.put("key", k); m.put("writePartitions", n.toString)
      }
      props.foreach { case (k, v) => m.put(k, v) }
      m
    }

    /** The persisted properties, read once per handle: the key
      * resolution, the full primary key and the legacy frame width
      * all answer from this one read. */
    private lazy val props: Map[String, String] = readProps(path, hadoopConf())

    /** The table's declared primary-key columns: the partition key
      * plus any declared clustering columns. Advertised NON-NULLABLE
      * (a Cassandra primary key cannot be null — and Spark's row-level
      * rewrites require non-nullable row IDs) — but only when the
      * COMMITTED DATA proves it: every live manifest line's key stats
      * must record zero nulls (tombstone markers prove the key slot
      * only — their other fields are null by design). A legacy table
      * that legally holds null-keyed rows keeps a nullable key, so
      * `k IS NULL` is never constant-folded to false over real nulls;
      * the price is that row-level SQL statements refuse on such a
      * table (NULLABLE_ROW_ID — correct: a partition tombstone cannot
      * address a null key). Writes of nullable sources into a proven
      * table pass with a runtime null check (ANSI store assignment),
      * which is also what keeps the proof true going forward.
      *
      * CLUSTERING columns have a stricter bar: tombstone MARKER rows
      * carry the partition key with every other field null — including
      * clustering slots — and the DEFAULT log view (tombstones=include)
      * EMITS those marker rows. So on a table holding any live
      * tombstone manifest, a non-null advert on a clustering column
      * would be a lie the raw-log read disproves (NullPropagation would
      * fold `clust IS NULL` to false over real nulls). Clustering
      * columns are therefore only advertised non-nullable when the live
      * set holds NO tombstone entries; the partition-key column's proof
      * stands regardless (markers populate it by construction). */
    private lazy val primaryKeyCols: Set[String] = {
      val keys = fullPrimaryKey(props, resolvedKey)
      val idxs = keys.map(k => dataSchema.fieldNames.indexOf(k))
      if (idxs.exists(_ < 0)) Set.empty
      else {
        val clustering = idxs.tail
        val entries = liveManifests(path, hadoopConf()).flatMap(_.entries)
        val keyProven = entries.forall(_.stats.exists(_.nulls == 0L))
        val clusteringProven = !entries.exists(_.tombstone) &&
          entries.forall(e => clustering.forall(i =>
            i < e.colStats.length && e.colStats(i).nulls == 0L))
        if (!keyProven) Set.empty
        else if (clusteringProven) keys.toSet
        else Set(keys.head)
      }
    }

    override def schema(): StructType = StructType(schema0.fields.map(f =>
      if (primaryKeyCols.contains(f.name)) f.copy(nullable = false) else f))

    /** The committed (data) schema — the frame plan. With
      * `withVersion` (or `readChangeFeed`) the advertised schema
      * additionally carries synthesized fields; they are never
      * framed. */
    private def dataSchema: StructType =
      if (withVersion) StructType(schema0.fields.filterNot(f =>
        MetaNames(f.name)))
      else if (changeFeed) StructType(schema0.fields.filterNot(f =>
        f.name == CdfChangeType || f.name == CdfCommitVersion))
      else schema0
    override def capabilities(): util.Set[TableCapability] =
      if (changeFeed) util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
      else util.EnumSet.of(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE)

    /** Version/provenance surface, selectable on demand
      * (`df.select("_seq", ...)`): `_seq` the row's commit sequence,
      * `_pos` its position within the commit (file index << 40 | row
      * ordinal — files per commit and rows per row-log file are both
      * far inside those widths), `_tombstone` whether the row is a
      * deletion marker, `_file` the row-log file. (_seq, _pos) is the
      * total version order last-write-wins resolution keys on — the
      * writetime of Cassandra's upsert model, deterministic instead of
      * wall-clock. */
    override def metadataColumns(): Array[
        org.apache.spark.sql.connector.catalog.MetadataColumn] = {
      import org.apache.spark.sql.connector.catalog.MetadataColumn
      if (withVersion)
        return Array.empty // already advertised as real columns
      def mc(n: String, dt: DataType, comment0: String): MetadataColumn =
        new MetadataColumn {
          override def name(): String = n
          override def dataType(): DataType = dt
          override def isNullable: Boolean = false
          override def comment(): String = comment0
        }
      Array(
        mc(MetaSeq, LongType, "commit sequence of the row's manifest"),
        mc(MetaPos, LongType, "position within the commit"),
        mc(MetaTombstone, BooleanType, "deletion-marker row"),
        mc(MetaFile, StringType, "row-log file name"))
    }

    /** Cassandra-model DELETE: key-predicate-only (EqualTo / IN on the
      * key column — exactly what a partition-key delete can express),
      * executed as a TOMBSTONE commit: no scan, no rewrite, one tiny
      * marker file per write bucket, resolved against data versions by
      * last-write-wins and purged by snapshot rewrites after the grace
      * period. Any other predicate is refused (Spark then reports the
      * table cannot delete by that condition), mirroring Cassandra's
      * own restriction rather than hiding a full-table rewrite behind
      * DELETE syntax. */
    override def canDeleteWhere(filters: Array[Filter]): Boolean =
      asOfSeq.isEmpty && deleteKeyLiterals(filters).isDefined

    override def deleteWhere(filters: Array[Filter]): Unit = {
      val keys = deleteKeyLiterals(filters).getOrElse(
        throw new UnsupportedOperationException(
          s"KeyedTable DELETE needs a key-only predicate; got " +
            filters.mkString(", ")))
      deleteKeys(path, dataSchema, resolvedKey, keys, resolvedParts,
        hadoopConf())
    }

    private lazy val contract = declaredContract(path, hadoopConf(), props)

    /** The `key` option, else the declared-or-proven key, else (last
      * resort) the first column. */
    private lazy val resolvedKey: String = keyCol.orElse(contract._1)
      .getOrElse(dataSchema.fieldNames.head)

    /** The `writePartitions` option, else the declared-or-proven
      * modulus, else 8. */
    private lazy val resolvedParts: Int =
      writePartitions.orElse(contract._2).getOrElse(8)

    private def deleteKeyLiterals(filters: Array[Filter]): Option[Seq[Any]] = {
      import org.apache.spark.sql.sources._
      val key = resolvedKey
      val dt = dataSchema.fields(dataSchema.fieldIndex(key)).dataType
      // IsNotNull(key) is implied by any key-value predicate; Spark
      // may pass it alongside — ignore it, then require exactly one
      // value predicate so the conjunction is fully honored
      val rest = filters.toSeq.filter {
        case IsNotNull(a) => a != key
        case _ => true
      }
      rest match {
        case Seq(EqualTo(a, v)) if a == key =>
          toCatalyst(dt, v).map(Seq(_))
        case Seq(In(a, vs)) if a == key && vs.nonEmpty =>
          val conv = vs.toSeq.map(v =>
            if (v == null) None else toCatalyst(dt, v))
          if (conv.forall(_.isDefined)) Some(conv.flatten) else None
        case _ => None
      }
    }

    // read once per table handle, not per planned scan — the common
    // no-user-schema path already paid this read in inferSchema
    private lazy val committedSchema = readSchemaFile(path, hadoopConf())

    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
      // a caller-supplied read schema whose SHAPE (field order/types)
      // differs from the committed one would mis-frame the binary
      // decode into garbage values — fail LOUDLY here instead (the
      // write side has ensureSchema); nullability differences decode
      // identically and pass
      committedSchema.foreach { committed =>
        require(sameShape(committed, dataSchema),
          s"KeyedTable read schema mismatch at $path: table has " +
            s"$committed, read asks for $dataSchema")
      }
      val only = Option(options.get("file"))
      val perTrigger = options.getInt("manifestsPerTrigger", 10)
      if (changeFeed) {
        // STREAMING change data feed: its own micro-batch source — the
        // classification happens per bucket inside the readers; none
        // of the batch scan's option surface composes with it
        require(asOfSeq.isEmpty && !withVersion,
          "readChangeFeed streams the classified log from a plain " +
            "table handle; asOfSeq/withVersion do not compose")
        val keys = fullPrimaryKey(props, resolvedKey)
        require(keys.size == 1,
          s"readChangeFeed supports single-column keys; $path clusters " +
            s"on ${keys.mkString(",")} (a composite table's partition " +
            "tombstones hide RANGES of rows — spell their preimages " +
            "explicitly)")
        return new KCdfScanBuilder(path, dataSchema, keys.head, perTrigger,
          new SerConf(hadoopConf()))
      }
      // time travel also spells as a READER option
      // (spark.read.option("asOfSeq", n).table("graft_keyed.`path`")) —
      // catalog loads cannot thread constructor options; a table-level
      // pin (VERSION AS OF) wins over the reader option. `asOfTsMs`
      // (TIMESTAMP AS OF) resolves through the manifest commit
      // timestamps to the highest sequence committed at or before the
      // instant — Delta's timestamp resolution rule.
      val asOf = asOfSeq
        .orElse(Option(options.get("asOfSeq")).map(_.toLong))
        .orElse(Option(options.get("asOfTsMs")).map(t =>
          resolveTsToSeq(path, t.toLong, hadoopConf())))
      // the merge views' snapshot pin: an explicit LIVE-set listing
      // ("" = pin to the empty table, NOT "unpinned")
      val pinned = Option(options.get("manifests"))
        .map(_.split(",").toSeq.filter(_.nonEmpty).toSet)
      // batch change feed: manifests with changesFromSeq < seq <=
      // changesToSeq, superseded originals included, rewrites excluded
      val changes = (Option(options.get("changesFromSeq")),
          Option(options.get("changesToSeq"))) match {
        case (Some(a), Some(b)) => Some((a.toLong, b.toLong))
        case (None, None) => None
        case _ => throw new IllegalArgumentException(
          "changesFromSeq and changesToSeq must be set together")
      }
      // plan-time split of the log's two populations: "only" plans
      // just the (tiny) tombstone marker files, "skip" just the data
      // files — the manifest flag decides, no byte is read to filter.
      // The composite latest view reads its tombstone-cut side with
      // "only" so the cuts never re-scan the data
      val tombMode = Option(options.get("tombstones")).getOrElse("include")
      require(Set("include", "only", "skip")(tombMode),
        s"tombstones option must be include|only|skip, got $tombMode")
      // view=current: the scan resolves the table's CURRENT STATE
      // merge-on-read (one live row per full primary key, tombstones
      // applied) instead of the raw commit log — the server-side
      // spelling of the latest view, and what the insert-only MERGE
      // rewrite (KeyedTableSqlRules) anti-joins against. Composes with
      // time travel (current state AS OF a version); snapshot-pinned
      // at plan time unless the caller pinned already.
      val view = Option(options.get("view")).getOrElse("log")
      require(Set("log", "current")(view),
        s"view option must be log|current, got $view")
      val resolve =
        if (view != "current") None
        else {
          require(changes.isEmpty,
            "view=current reads resolved rows; a change feed reads events")
          require(tombMode == "include",
            "view=current applies tombstones itself; tombstones=" +
              s"$tombMode contradicts that")
          Some(fullPrimaryKey(props, resolvedKey))
        }
      // auto-pin only the CURRENT view (an as-of read is already a
      // fixed point; pinning today's live names under it would hide
      // superseded originals the historical read must resolve)
      val pin = pinned.orElse(
        if (resolve.isDefined && asOf.isEmpty)
          Some(snapshotInfo(path).names.toSet)
        else None)
      new KScanBuilder(path, dataSchema, schema0, legacyNcols(props, dataSchema),
        only, perTrigger, clusteredRead, asOf, tombMode, pin, changes, resolve)
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
      require(asOfSeq.isEmpty,
        s"KeyedTable at $path was loaded VERSION AS OF ${asOfSeq.get} — " +
          "historical snapshots are read-only")
      require(!withVersion,
        "a withVersion read handle is read-only (version columns are " +
          "reader-synthesized)")
      val schema = info.schema()
      validateSchema(schema)
      // the write schema's first column is the last resort (a new
      // table's handle may carry no committed schema yet)
      val key = keyCol.orElse(contract._1).getOrElse(schema.fieldNames.head)
      require(schema.fieldNames.contains(key),
        s"key column '$key' not in write schema ${schema.fieldNames.mkString(",")}")
      new WriteBuilder
          with org.apache.spark.sql.connector.write.SupportsTruncate {
        private var truncate0 = false
        /** `mode("overwrite")` / INSERT OVERWRITE: the commit atomically
          * SUPERSEDES every manifest live at commit time and publishes
          * the new rows — Cassandra's truncate-then-load, one commit,
          * readers never see an intermediate empty table. */
        override def truncate(): WriteBuilder = { truncate0 = true; this }
        override def build(): Write =
          new KWrite(path, schema, key, resolvedParts, info.queryId(),
            chaosKey, commitName, rewrite, truncate0, ttlMs,
            sortOrder, maxFileRows, blockRows, preshaped)
      }
    }

    /** SQL `TRUNCATE TABLE`: one empty commit superseding every live
      * manifest — history is retained for time travel until vacuum's
      * grace expires (Cassandra's TRUNCATE likewise drops data without
      * per-key tombstones; like there, truncation does not appear in
      * the change feed a tail consumes). */
    override def truncateTable(): Boolean = {
      require(asOfSeq.isEmpty,
        s"KeyedTable at $path was loaded VERSION AS OF ${asOfSeq.get} — " +
          "historical snapshots are read-only")
      val conf = hadoopConf()
      withMaintenanceLock(path, conf) {
        val live = liveManifests(path, conf).map(_.name)
        if (live.nonEmpty) commitManifest(path,
          s"trunc-${java.util.UUID.randomUUID().toString.take(8)}.manifest",
          Seq.empty, conf, None, live)
      }
      true
    }

    /** SQL row-level statements — `MERGE INTO` / `UPDATE` / `DELETE`
      * planned by Spark's own rewrites onto the table's native verbs
      * (DELTA-BASED: the write receives per-row insert/update/delete
      * effects; nothing is copied-on-write):
      *
      *  - inserts and updates land as ordinary upsert appends (the
      *    rows outrank older versions under last-write-wins — exactly
      *    what [[KeyedTableOps.merge]] compiles to);
      *  - deletes land as tombstone markers, O(#deleted keys) bytes;
      *  - all of one statement's effects commit as ONE manifest.
      *
      * The operation's TARGET SCAN resolves the table's CURRENT state
      * (merge-on-read in the reader, per write bucket — Iceberg's
      * equality-delete read model): MERGE matches against one live row
      * per key (tombstoned keys count as absent, so re-inserting a
      * deleted key takes the INSERT branch), and `UPDATE SET v = v+1`
      * reads each key's current value exactly once. The scan pins the
      * live manifest set at operation build, so the statement reads
      * one immutable snapshot. Key-predicate DELETEs never get here —
      * Spark's OptimizeMetadataOnlyDeleteFromTable routes them to
      * [[SupportsDelete]] (pure markers, nothing scanned); this path
      * serves the NON-key predicates that rule cannot. */
    override def newRowLevelOperationBuilder(
        info: RowLevelOperationInfo): RowLevelOperationBuilder = {
      require(asOfSeq.isEmpty,
        s"KeyedTable at $path was loaded VERSION AS OF ${asOfSeq.get} — " +
          "historical snapshots are read-only")
      require(!withVersion,
        "a withVersion read handle is read-only (version columns are " +
          "reader-synthesized)")
      val keys = fullPrimaryKey(props, resolvedKey)
      keys.foreach(k => require(dataSchema.fieldNames.contains(k),
        s"primary-key column '$k' is not a column of $dataSchema"))
      () => new KRowLevelOp(path, dataSchema, keys, resolvedParts,
        legacyNcols(props, dataSchema), clusteredRead, info.command)
    }
  }

  /** One SQL row-level statement over a [[KTable]] — DELTA-based
    * (SupportsDelta): Spark's RewriteMergeIntoTable / RewriteUpdateTable
    * / RewriteDeleteFromTable plan the statement into a join against
    * this operation's scan plus a delta write of per-row effects. The
    * row ID is the table's full primary key (partition key + declared
    * clustering columns) — the unit the storage layer upserts and
    * tombstones by. */
  private final class KRowLevelOp(path: String, dataSchema: StructType,
      keys: Seq[String], writePartitions: Int, legacyNcols: Int,
      clusteredRead: Boolean, cmd: RowLevelOperation.Command)
      extends RowLevelOperation with SupportsDelta {
    // snapshot pin at operation build: every scan this statement plans
    // reads the same immutable manifest set (commits racing the
    // statement resolve before or after it, never half-in)
    private val pinnedLive: Seq[KManifest] =
      liveManifests(path, hadoopConf())
    private val pinned: Set[String] = pinnedLive.map(_.name).toSet
    // the pin's version horizon: commits at or below it are either
    // pinned or content-preserving folds of pinned inputs; a LIVE
    // manifest above it is a statement/append/overwrite that published
    // after this statement read — the optimistic-concurrency intruder
    private val pinnedMaxSeq: Long =
      pinnedLive.map(_.seq).foldLeft(0L)(math.max)
    // commit-time conflict detection is ON unless the session opts out
    // (spark.graft.rowlevel.conflicts=off restores blind-append LWW)
    private val conflicts: Boolean = scala.util.Try(
      org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.rowlevel.conflicts", "detect"))
      .getOrElse("detect") != "off"

    override def command(): RowLevelOperation.Command = cmd
    override def description(): String =
      s"KeyedTable.$cmd[$path, key=${keys.mkString(",")}]"
    override def rowId(): Array[
        org.apache.spark.sql.connector.expressions.NamedReference] =
      keys.map(Expressions.column).toArray

    /** The target scan: the table's CURRENT state, resolved
      * merge-on-read per bucket (see [[KResolvingReaderFactory]]).
      * File pruning under this scan is restricted to PARTITION-KEY
      * predicates — a non-key predicate may hold for a stale version
      * and not the current one (or vice versa), so pruning by it could
      * resolve a pruned key to the wrong version; partition-key
      * predicates keep every version and marker of the surviving keys,
      * so resolution stays exact. */
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new KScanBuilder(path, dataSchema, dataSchema, legacyNcols, None, 10,
        clusteredRead, None, "include", Some(pinned), None,
        resolve = Some(keys))

    override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
      new DeltaWriteBuilder {
        override def build(): DeltaWrite = {
          if (info.schema().nonEmpty) validateSchema(info.schema())
          new KDeltaWrite(path, info.schema(), dataSchema, keys,
            writePartitions, info.queryId(), cmd,
            if (conflicts) Some((pinned, pinnedMaxSeq)) else None)
        }
      }
  }

  // ---------- write path ----------

  private[sources] final case class KFileMessage(file: String, rows: Long,
      nulls: Long, bucket: Int, minEnc: Option[String],
      maxEnc: Option[String],
      colStats: Seq[KeyStats] = Seq.empty,
      bytes: Long = -1L,
      blocks: Boolean = false,
      bloomCols: Seq[Int] = Seq.empty,
      ndv: Seq[Seq[Long]] = Seq.empty,
      sums: Seq[Option[String]] = Seq.empty) extends WriterCommitMessage

  /** One row-level-operation task's effects: the data files its
    * inserts/updates appended (per bucket) plus the tombstone marker
    * files its deletes wrote. Committed together as ONE manifest. */
  private[sources] final case class KDeltaMessage(data: Seq[KFileMessage],
      tombs: Seq[KFileMessage]) extends WriterCommitMessage

  private final class KWrite(path: String, schema: StructType, key: String,
      writePartitions: Int, queryId: String, chaosKey: Option[Long] = None,
      commitName: Option[String] = None,
      rewrite: Option[(Long, Seq[String])] = None,
      truncate: Boolean = false, ttlMs: Option[Long] = None,
      // sorted write: order each task's rows by these columns instead
      // of the key, and roll row-log files every maxFileRows rows —
      // the ZORDER-analogue fold path (rewriteCompact threads the
      // table's declared sortOrder through here), producing per-file
      // zone maps that are narrow, disjoint slices of the sort column
      sortOrder: Seq[String] = Seq.empty, maxFileRows: Long = 0L,
      blockRows: Long = DefaultBlockRows,
      // the caller ALREADY shaped the input (hash-partitioned by key,
      // curve-sorted within tasks — the zorder fold): declare no
      // distribution or ordering so the planner passes it through
      preshaped: Boolean = false)
      extends Write with RequiresDistributionAndOrdering {
    require(!(truncate && rewrite.isDefined),
      "a snapshot rewrite cannot also truncate")
    require(!(ttlMs.isDefined && rewrite.isDefined),
      "a snapshot rewrite re-homes surviving rows; it cannot add a TTL")
    sortOrder.foreach(c => require(schema.fieldNames.contains(c),
      s"sortOrder column '$c' is not in the write schema $schema"))
    private val keyIdx = schema.fieldIndex(key)
    // declared bloom columns resolved against THIS write's schema at
    // plan time (driver) — every write path (load, fold, stream)
    // inherits the declaration through here
    private val bloomCols = bloomColIdxs(path, schema, hadoopConf())
    private def factory(conf: SerConf) = new KWriterFactory(path, schema,
      keyIdx, writePartitions, conf,
      chaosKey.map { k =>
        require(schema.fields(keyIdx).dataType == LongType,
          s"chaosWriteKey requires a LONG key column; '$key' is " +
            schema.fields(keyIdx).dataType.sql)
        (keyIdx, k)
      }, maxFileRows, blockRows, bloomCols)
    // the connector contract, asked of the PLANNER: writes arrive
    // clustered by key (one task owns a key's rows) and key-sorted
    // within the task — batch.grouping.key=partition, Spark-natively.
    // A declared sortOrder replaces the within-task order (clustering
    // by key is untouched): the planner sorts, the writer just rolls
    override def requiredDistribution(): Distribution =
      if (preshaped) Distributions.unspecified()
      else Distributions.clustered(Array(Expressions.column(key)))
    override def requiredOrdering(): Array[SortOrder] =
      if (preshaped) Array.empty
      else (if (sortOrder.nonEmpty) sortOrder else Seq(key)).map(c =>
        Expressions.sort(Expressions.column(c),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        .toArray
    override def requiredNumPartitions(): Int =
      if (preshaped) 0 else writePartitions
    override def description(): String =
      s"KeyedTable[$path, key=$key, writePartitions=$writePartitions]"

    override def toBatch: BatchWrite = new BatchWrite {
      private val conf = new SerConf(hadoopConf())
      ensureDirs(path, conf.value)
      ensureSchema(path, schema, conf.value)
      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DataWriterFactory = factory(conf)
      /** Default manifest identity is the write's query id (every
        * batch write is a distinct append). With `commitName` the
        * CALLER names the logical append, and a re-run — a pipeline
        * resume re-driving a staged file after a crash in its
        * append→checkpoint window — finds the manifest already
        * committed (standalone or compacted), drops its re-staged
        * files, and no-ops: per-file exactly-once for batch loads,
        * the same protocol the streaming epochs use. */
      override def commit(messages: Array[WriterCommitMessage]): Unit =
        rewrite match {
          // SNAPSHOT REWRITE: name derived from the superseded set, so
          // two racing rewrites of the same inputs produce ONE logical
          // manifest (the loser finds it committed and drops its
          // staged files); commits AT the fence sequence — a rewrite
          // adds no new version, so a write racing it always outranks
          // the snapshot, exactly as it outranked the originals.
          // Publication validates UNDER THE MAINTENANCE LOCK that every
          // superseded input is still live: if another superseding
          // commit consumed any of them since this fold listed, the
          // fold's snapshot is stale (it could resurrect a tombstoned
          // key or re-expose overwritten rows) and must no-op
          case Some((fence, superseded)) =>
            withMaintenanceLock(path, conf.value) {
              val live = liveManifests(path, conf.value)
              val liveNames = live.map(_.name).toSet
              val name = rewriteName(superseded)
              // a fold is STALE (must no-op, its snapshot would lose
              // or resurrect rows) when:
              //  - another superseding commit consumed any of its
              //    inputs since it listed, or
              //  - a commit RESERVED before the fence published after
              //    the fold's listing: it is live at seq <= fence but
              //    was never folded, so the snapshot (also at the
              //    fence) would outrank versions it never saw.
              //    Still-live tombstone manifests at/below the fence
              //    are fine — the fold's as-of-fence read applied
              //    them (idempotently, they keep cutting).
              val lateBelowFence = live.exists(m =>
                m.seq >= 0 && m.seq <= fence &&
                  !superseded.contains(m.name) &&
                  m.entries.exists(!_.tombstone))
              if (manifestCommitted(path, name, conf.value)) {
                // replay of the identical fold — VERIFY, don't assume:
                // a name collision between different superseded sets
                // must surface, not silently wedge compaction forever
                val committed = parseManifest(name,
                  manifestLines(path, name, conf.value))
                require(committed.supersedes.sorted == superseded.sorted,
                  s"rewrite manifest name collision at $path: $name " +
                    s"already supersedes ${committed.supersedes.sorted
                      .mkString(",")}, this fold supersedes " +
                    superseded.sorted.mkString(","))
                dropStaged(path, messages, conf.value)
              } else if (!superseded.forall(liveNames) || lateBelowFence)
                dropStaged(path, messages, conf.value)
              else manifest(path, name, messages, schema, key,
                writePartitions, conf.value, Some(fence), superseded)
            }
          case None if truncate =>
            // OVERWRITE: supersede what is live AT COMMIT, with the
            // [list live / publish] pair made atomic by the
            // maintenance lock (a superseding commit racing in between
            // could otherwise stay live and leak pre-overwrite rows).
            // A plain APPEND racing this one needs no lock: it lands
            // after the listing, stays live, and simply outranks the
            // overwrite under last-write-wins — the same resolution it
            // would have won against the originals
            withMaintenanceLock(path, conf.value) {
              manifest(path, s"over-$queryId.manifest", messages, schema,
                key, writePartitions, conf.value, None,
                liveManifests(path, conf.value).map(_.name), ttlMs)
            }
          case None =>
            val name = commitName match {
              case Some(n) => s"named-${sanitize(n)}.manifest"
              case None => s"batch-$queryId.manifest"
            }
            if (commitName.isDefined &&
                manifestCommitted(path, name, conf.value))
              dropStaged(path, messages, conf.value) // replay — visible
            else manifest(path, name, messages, schema, key,
              writePartitions, conf.value, None, Seq.empty, ttlMs)
        }
      override def abort(messages: Array[WriterCommitMessage]): Unit =
        dropStaged(path, messages, conf.value)
    }

    override def toStreaming: StreamingWrite = new StreamingWrite {
      require(!truncate && rewrite.isEmpty,
        "overwrite/rewrite are batch-only on KeyedTable; streams append")
      private val conf = new SerConf(hadoopConf())
      ensureDirs(path, conf.value)
      ensureSchema(path, schema, conf.value)
      override def createStreamingWriterFactory(
          info: PhysicalWriteInfo): StreamingDataWriterFactory = factory(conf)
      /** Exactly-once: the manifest is NAMED by (query id, epoch). A
        * replayed epoch (crash between sink commit and checkpoint
        * commit, then recovery re-runs the batch) carries the SAME
        * stable streaming-query id (recovered from the checkpoint) and
        * finds its manifest present — the re-staged files are dropped
        * and the commit no-ops. The probe is by LOGICAL name
        * (standalone file OR section of a compaction checkpoint), so
        * compacting the table never un-no-ops a replay. Scoping by
        * query id keeps a SECOND stream (its own checkpoint, its own
        * id) appending to the same table from colliding with this
        * one's epoch numbers: epoch-N of another query is a different
        * manifest, never a false "replay" that silently drops its
        * rows. */
      override def commit(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit = {
        val name = s"epoch-$queryId-$epochId.manifest"
        if (manifestCommitted(path, name, conf.value))
          dropStaged(path, messages, conf.value) // replay — already visible
        else manifest(path, name, messages, schema, key, writePartitions,
          conf.value, None, Seq.empty, ttlMs)
      }
      override def abort(epochId: Long,
          messages: Array[WriterCommitMessage]): Unit =
        dropStaged(path, messages, conf.value)
    }
  }

  /** Serializable bridge to executors: the path, the schema, the key
    * slot (for per-file stats), the bucket modulus, and the session
    * Hadoop conf cross the wire. Serves BOTH factory interfaces — the
    * streaming variant just folds the epoch into the file name. */
  private final class KWriterFactory(path: String, schema: StructType,
      keyIdx: Int, buckets: Int, conf: SerConf, chaos: Option[(Int, Long)],
      maxFileRows: Long = 0L, blockRows: Long = DefaultBlockRows,
      bloomCols: Seq[Int] = Seq.empty)
      extends DataWriterFactory with StreamingDataWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DataWriter[InternalRow] =
      new KRowWriter(path, schema, s"part-$partitionId-$taskId", keyIdx,
        buckets, conf, chaos, maxFileRows, blockRows, bloomCols)
    override def createWriter(partitionId: Int, taskId: Long,
        epochId: Long): DataWriter[InternalRow] =
      new KRowWriter(path, schema, s"epoch-$epochId-$partitionId-$taskId",
        keyIdx, buckets, conf, chaos, maxFileRows, blockRows, bloomCols)
  }

  /** One staged row-log file per task attempt. The attempt writes to
    * `data/.<name>.inprogress`; task commit renames it to
    * `data/<name>` and reports it upward — so a file in final
    * position was task-committed, and VISIBLE only if some driver
    * manifest lists it. Task abort deletes the inprogress file.
    *
    * Alongside the bytes, the writer keeps the file's key statistics
    * (rows, nulls, min/max — defensively compared per row rather than
    * trusting the asked-for ordering) and PROVES the file's murmur3
    * bucket: every non-skipped row must hash to the same
    * pmod(murmur3(key, 42), buckets) — the exact function Spark's
    * hashpartitioning uses — or the file reports bucket -1 and the
    * table stops claiming clustered reads. The proof, not the
    * planner's intent, is what read-side grouping trusts: an upstream
    * that satisfied the clustered distribution some other way (range
    * partitioning, single partition) fails the proof instead of
    * corrupting grouped reads. */
  /** Byte counter between the DataOutputStream and the buffer — block
    * footers record byte offsets, and DataOutputStream's own size()
    * is an int (overflows at 2 GB). */
  private final class CountingOS(u: java.io.OutputStream)
      extends java.io.OutputStream {
    var count = 0L
    override def write(b: Int): Unit = { u.write(b); count += 1 }
    override def write(b: Array[Byte], off: Int, len: Int): Unit = {
      u.write(b, off, len); count += len
    }
    override def flush(): Unit = u.flush()
    override def close(): Unit = u.close()
  }

  /** Block-footer trailer magic: a file whose MANIFEST LINE carries
    * the blocks flag ends with [footer bytes][footerLen: long][this]. */
  private val BlockMagic = 0x4752414654424C4BL // "GRAFTBLK"

  /** Default block granularity (rows) for the writer's block footers —
    * overridable per write with the `blockRows` option (0 disables). */
  private[sources] val DefaultBlockRows = 4096L

  /** KMV distinct-sketch parameters: k smallest 32-bit murmur3 hashes
    * per column per file. k=64 puts the NDV estimate within ~12% —
    * join-ORDER decisions need the order of magnitude, not the digit. */
  private[sources] val KmvK = 64
  private[sources] val KmvSeed = 0x6B6D76 // "kmv"

  /** Decode a canonical stat ENCODING back to a (boxed) catalyst
    * value — the inverse of the writer's zone-map recording, for the
    * scan's column-statistics report (CBO's value intervals). */
  private[sources] def decodeStat(dt: DataType, enc: String): Any = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.valueOf(enc.toLong)
    case IntegerType | DateType => java.lang.Integer.valueOf(enc.toInt)
    case DoubleType => java.lang.Double.valueOf(enc.toDouble)
    case BooleanType => java.lang.Boolean.valueOf(enc.toBoolean)
    case StringType => UTF8String.fromBytes(
      java.util.Base64.getDecoder.decode(enc))
    case other => throw new IllegalArgumentException(other.sql)
  }

  /** NDV estimate from a merged ascending KMV sketch: exact below k,
    * else the standard (k-1) * 2^32 / theta for uniform 32-bit hashes
    * (theta = the k-th smallest retained hash). */
  private[sources] def kmvEstimate(merged: java.util.TreeSet[java.lang.Long]): Long =
    if (merged.size < KmvK) merged.size.toLong
    else {
      val theta = merged.last().longValue.toDouble
      if (theta <= 0d) merged.size.toLong
      else ((KmvK - 1).toDouble * 4294967296.0 / theta).toLong
    }

  /** EQUI-HEIGHT HISTOGRAM from the per-file zone maps already in every
    * manifest line — ZERO new write-path cost: each planned file
    * contributes its non-null rows as a uniform density over its
    * recorded [min, max] (a point mass when min == max), the densities
    * sum to a piecewise-linear CDF, and the CDF is cut at equal-mass
    * steps into catalyst's equi-height bins. A SORTED or Z-ORDERED
    * fold writes disjoint narrow slices, so on maintained tables the
    * histogram is sharp — heavy values become point-mass (zero-width)
    * bins, exactly how catalyst's own ANALYZE represents skew — and
    * join/filter estimation sees a key's true mass distribution where
    * bounds+NDV alone must assume uniformity. Unsorted tables degrade
    * to wide overlapping ranges (≈ the uniform assumption), never
    * WRONG, just uninformative: the same honesty rule as every other
    * stat here. numeric/date/timestamp columns only (their stat
    * encoding is the plain number, see [[decodeStat]]). */
  private[sources] def buildFileHistogram(dt: DataType,
      fileStats: Seq[(Long, KeyStats)], totalNdv: Long)
      : Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
    val integral = dt match {
      case LongType | IntegerType | DateType | TimestampType |
           TimestampNTZType => true
      case DoubleType => false
      case _ => return None
    }
    val files = fileStats.flatMap { case (rows, cs) =>
      val nonNull = rows - cs.nulls
      if (nonNull <= 0) None
      else for { lo <- cs.minEnc; hi <- cs.maxEnc }
        yield (nonNull.toDouble, lo.toDouble, hi.toDouble)
    }
    if (files.size < 2) return None // one file: the bounds already say it
    val total = files.map(_._1).sum
    val atoms = scala.collection.mutable.TreeMap.empty[Double, Double]
    val ranges = scala.collection.mutable.ArrayBuffer
      .empty[(Double, Double, Double)] // (lo, hi, mass)
    files.foreach { case (m, lo, hi) =>
      if (hi > lo) ranges += ((lo, hi, m))
      else atoms(lo) = atoms.getOrElse(lo, 0d) + m
    }
    val pts = (ranges.flatMap(r => Seq(r._1, r._2)) ++ atoms.keys)
      .distinct.sorted.toIndexedSeq
    if (pts.size < 2) return None // all mass at one value: min==max
    def rangeMass(a: Double, b: Double): Double =
      ranges.iterator.map { case (lo, hi, m) =>
        val ov = math.min(b, hi) - math.max(a, lo)
        if (ov > 0) m * ov / (hi - lo) else 0d
      }.sum
    val B = 16
    val h = total / B
    final case class Bin(lo: Double, hi: Double, mass: Double)
    val bins = scala.collection.mutable.ArrayBuffer.empty[Bin]
    var cum = 0d
    var prevEdge = pts.head
    var nextCut = h
    def cutAt(x: Double, newCum: Double): Unit = {
      bins += Bin(prevEdge, x, newCum - (nextCut - h))
      prevEdge = x; cum = newCum; nextCut += h
    }
    var i = 0
    while (i < pts.length) {
      val p = pts(i)
      atoms.get(p).foreach { am =>
        var remaining = am
        // a heavy value swallows whole cuts: zero-width bins at p —
        // catalyst's own representation of a skewed value
        while (cum + remaining >= nextCut && bins.size < B - 1) {
          remaining -= nextCut - cum
          cutAt(p, nextCut)
        }
        cum += remaining
      }
      if (i + 1 < pts.length) {
        val q = pts(i + 1)
        // density is CONSTANT between consecutive breakpoints (no file
        // endpoint falls inside), so cuts interpolate linearly
        val segMass = rangeMass(p, q)
        val cumP = cum
        while (segMass > 0 && cumP + segMass >= nextCut &&
            bins.size < B - 1) {
          // clamp: float division can land epsilon past q, which would
          // invert the NEXT bin's (lo, hi)
          cutAt(math.min(q,
            p + (q - p) * ((nextCut - cumP) / segMass)), nextCut)
        }
        cum = cumP + segMass
      }
      i += 1
    }
    bins += Bin(prevEdge, pts.last, total - (nextCut - h))
    // per-bin NDV: proportional to the bin's mass share of the total
    // distinct count, capped by the value span for integral types (a
    // zero-width bin holds exactly one value)
    def binNdv(b: Bin): Long = {
      val prop = math.max(1L, math.round(totalNdv * b.mass / total))
      if (!integral) prop
      else math.max(1L, math.min(prop, math.floor(b.hi - b.lo).toLong + 1L))
    }
    val out = bins.map { b =>
      new org.apache.spark.sql.connector.read.colstats.HistogramBin {
        override def lo(): Double = b.lo
        override def hi(): Double = b.hi
        override def ndv(): Long = binNdv(b)
      }
    }.toArray
    Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
      override def height(): Double = h
      override def bins(): Array[
        org.apache.spark.sql.connector.read.colstats.HistogramBin] = out
    })
  }

  // ---------- per-file bloom filters (declared columns) ----------
  //
  // Zone maps prune RANGES; a high-cardinality EQUALITY probe over
  // UNSORTED data (uuid = '…') matches every file's [min, max] and
  // scans everything. For columns the table DECLARES
  // (KeyedTableOps.declareBloomColumns -> the `bloomColumns` property),
  // every writer task builds a per-file Bloom filter and writes it as
  // a dot-prefixed SIDECAR (`data/.bloom-<file>`, invisible to every
  // manifest listing); the manifest line records only the bloomed
  // ordinals. File pruning consults the sidecars — through a
  // process-level cache, one ranged read per (file, first probe) —
  // AFTER zone maps, only for equality/IN probes on declared columns.
  // Sidecars are ADVISORY: a missing/corrupt one keeps the file
  // planned, never wrong. Scale posture: bloom bytes are
  // O(10 bits/row) — data-proportional, which is exactly why they live
  // BESIDE the data instead of inside the driver-read manifests; the
  // driver reads only the sidecars of files that already survived
  // zone-map pruning, caches them across queries, and vacuum reaps a
  // sidecar with its data file.

  private val BloomSeed1 = 0x5F1A2B3C
  private val BloomSeed2 = 0x9747B28C

  private[sources] def bloomSidecarName(file: String): String =
    s".bloom-$file"

  /** Canonical hash-input bytes for a CATALYST value of `dt` — one
    * spelling shared by the writer (InternalRow values) and the pruner
    * (pushed-filter literals after toCatalyst), so membership tests
    * are exact. None for types blooms do not serve. */
  private[sources] def bloomBytes(dt: DataType, v: Any): Option[Array[Byte]] = {
    def longBytes(l: Long): Array[Byte] = {
      val b = new Array[Byte](8)
      var i = 0
      while (i < 8) { b(i) = (l >>> (56 - 8 * i)).toByte; i += 1 }
      b
    }
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        Some(longBytes(v.asInstanceOf[Long]))
      case IntegerType | DateType =>
        Some(longBytes(v.asInstanceOf[Int].toLong))
      case DoubleType => Some(longBytes(java.lang.Double
        .doubleToLongBits(normZero(v.asInstanceOf[Double]))))
      case BooleanType =>
        Some(Array(if (v.asInstanceOf[Boolean]) 1.toByte else 0.toByte))
      case StringType => Some(v.asInstanceOf[UTF8String].getBytes)
      case _ => None
    }
  }

  private def bloomHash(bytes: Array[Byte], seed: Int): Int =
    org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(bytes,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
      bytes.length, seed)

  /** Classic Bloom filter with double hashing (Kirsch–Mitzenmacher:
    * k indexes from two murmur3 passes). `nbits` is a power of two. */
  private[sources] final case class KBloom(nbits: Int, k: Int,
      count: Long, words: Array[Long]) {
    def mightContain(bytes: Array[Byte]): Boolean = {
      val h1 = bloomHash(bytes, BloomSeed1)
      val h2 = bloomHash(bytes, BloomSeed2)
      var i = 0
      while (i < k) {
        val bit = (h1 + i * h2) & (nbits - 1)
        if ((words(bit >>> 6) & (1L << (bit & 63))) == 0L) return false
        i += 1
      }
      true
    }
  }

  private[sources] final class BloomBuilder(val nbits: Int, val k: Int) {
    private val words = new Array[Long](nbits >>> 6)
    private var count = 0L
    def add(bytes: Array[Byte]): Unit = {
      val h1 = bloomHash(bytes, BloomSeed1)
      val h2 = bloomHash(bytes, BloomSeed2)
      var i = 0
      while (i < k) {
        val bit = (h1 + i * h2) & (nbits - 1)
        words(bit >>> 6) |= 1L << (bit & 63)
        i += 1
      }
      count += 1L
    }
    def result: KBloom = KBloom(nbits, k, count, words)
  }

  /** Sidecar body: one header line, then per bloomed ordinal
    * `idx\tnbits\tk\tcount\tbase64(words)`. */
  private[sources] def bloomSidecarBody(blooms: Seq[(Int, KBloom)]): String = {
    val lines = blooms.map { case (i, b) =>
      val buf = java.nio.ByteBuffer.allocate(b.words.length * 8)
      b.words.foreach(buf.putLong)
      Seq(i.toString, b.nbits.toString, b.k.toString, b.count.toString,
        java.util.Base64.getEncoder.encodeToString(buf.array()))
        .mkString("\t")
    }
    ("graft-bloom-v1" +: lines).mkString("\n")
  }

  private def parseBloomSidecar(text: String): Map[Int, KBloom] = {
    val lines = text.split("\n").toSeq
    require(lines.headOption.contains("graft-bloom-v1"),
      "not a graft bloom sidecar")
    lines.drop(1).filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val bytes = java.util.Base64.getDecoder.decode(f(4))
      val buf = java.nio.ByteBuffer.wrap(bytes)
      val words = new Array[Long](bytes.length / 8)
      var i = 0
      while (i < words.length) { words(i) = buf.getLong(); i += 1 }
      f(0).toInt -> KBloom(f(1).toInt, f(2).toInt, f(3).toLong, words)
    }.toMap
  }

  // process-level sidecar cache: pruning consults a file's blooms once
  // per JVM however many queries probe it (crude full-clear bound — a
  // planner-side cache, not a data path)
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[Map[Int, KBloom]]]()

  private[sources] def loadBlooms(path: String, file: String,
      conf: Configuration): Option[Map[Int, KBloom]] = {
    val key = s"$path#$file"
    val hit = bloomCache.get(key)
    if (hit != null) return hit
    val loaded = try {
      val f = fs(path, conf)
      val p = new Path(s"$path/data", bloomSidecarName(file))
      if (!f.exists(p)) None else Some(parseBloomSidecar(readText(f, p)))
    } catch { case scala.util.control.NonFatal(_) => None }
    if (bloomCache.size > 8192) bloomCache.clear()
    bloomCache.put(key, loaded)
    loaded
  }

  /** Declared bloom columns resolved to ordinals of `schema` (names
    * the schema lacks are ignored — an evolved-away declaration must
    * not fail writes). */
  private[sources] def bloomColIdxs(path: String, schema: StructType,
      conf: Configuration): Seq[Int] =
    readProps(path, conf).get("bloomColumns").toSeq
      .flatMap(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .map(n => schema.fieldNames.indexOf(n)).filter(_ >= 0)
      .distinct.sorted

  // scan metrics (top-level: Spark instantiates them reflectively)
  private[sources] final class DecodedRowsMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "decodedRows"
    override def description(): String = "row-log rows decoded"
  }
  private[sources] final class BlockPrunedRowsMetric
      extends org.apache.spark.sql.connector.metric.CustomSumMetric {
    override def name(): String = "blockPrunedRows"
    override def description(): String =
      "rows skipped by block-footer pruning"
  }

  private final class KRowWriter(path: String, schema: StructType,
      base: String, keyIdx: Int, buckets: Int, conf: SerConf,
      chaos: Option[(Int, Long)] = None,
      // roll to a NEW row-log file every maxFileRows rows (0 = never):
      // with a declared sort order a fold's task receives its bucket
      // sorted by the sort columns, so each rolled slice covers a
      // narrow, disjoint range — FILE-level zone maps get tight enough
      // for non-key range probes to skip most of the bucket
      maxFileRows: Long = 0L,
      // record per-block zone maps every blockRows rows (0 = never)
      // and append them as a footer when a file holds 2+ blocks:
      // readers then SEEK past non-matching blocks — sub-file pruning
      // for files too large for file-level zones alone
      blockRows: Long = 0L,
      // ordinals of DECLARED bloom columns: each finished file writes
      // a `.bloom-<file>` sidecar with one filter per ordinal (see the
      // bloom section in the companion object)
      bloomCols: Seq[Int] = Seq.empty)
      extends DataWriter[InternalRow] {
    private var name =
      s"$base-${java.util.UUID.randomUUID().toString.take(8)}.rows"
    private val f = fs(path, conf.value)
    private var inprogress = new Path(s"$path/data", s".$name.inprogress")
    private var out: DataOutputStream = _
    private var counted: CountingOS = _
    private var rows = 0L
    private var bucketTag = -2 // -2 unset; -1 disproven; else the bucket
    private val keyType = schema.fields(keyIdx).dataType
    // files already rolled and task-committed by THIS attempt (their
    // rename happened; the manifest decides visibility, so an abort
    // after a roll leaves only invisible bytes for vacuum)
    private val finished = scala.collection.mutable.Buffer.empty[KFileMessage]
    // rolled slices stay under their dot-prefixed inprogress names
    // until TASK COMMIT (renamed all at once in commit()) — renaming
    // mid-task would widen the vacuum-race window from
    // task-commit-to-job-commit to the whole task duration
    private val pendingRenames =
      scala.collection.mutable.Buffer.empty[(Path, Path)]
    // per-file bloom builders for the declared ordinals. Bits sized
    // for ~10 bits/row at the expected file size (maxFileRows when the
    // write rolls, else a 64k-row default), power-of-two for the
    // masked double-hash; bounded [2^13, 2^23] so a sidecar never
    // exceeds 1 MiB raw. Overflowing the expectation degrades the
    // false-positive rate, never correctness.
    private val bloomBits: Int = {
      val expect = if (maxFileRows > 0L) maxFileRows else 1L << 16
      var m = 1 << 13
      while (m < 10L * expect && m < (1 << 23)) m <<= 1
      m
    }
    private val validBloomCols =
      bloomCols.filter(i => i >= 0 && i < schema.length)
    private def newBlooms(): Seq[(Int, BloomBuilder)] =
      validBloomCols.map(i => i -> new BloomBuilder(bloomBits, 7))
    private var blooms: Seq[(Int, BloomBuilder)] = newBlooms()

    // per-file per-column KMV distinct sketches: the KmvK smallest
    // murmur3 hashes of each column's non-null values — O(k) state, a
    // hash + one compare per value once full (type-specialized, no
    // allocation on the hot path), mergeable by union at read time.
    // The scan's column statistics report NDV to CBO from these.
    private val kmvHashers: Array[(InternalRow, Int) => Long] =
      schema.fields.map { fd =>
        import org.apache.spark.unsafe.hash.Murmur3_x86_32.{hashLong, hashUnsafeBytes}
        fd.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            (r: InternalRow, i: Int) =>
              hashLong(r.getLong(i), KmvSeed) & 0xFFFFFFFFL
          case IntegerType | DateType => (r: InternalRow, i: Int) =>
            hashLong(r.getInt(i).toLong, KmvSeed) & 0xFFFFFFFFL
          case DoubleType => (r: InternalRow, i: Int) => hashLong(
            java.lang.Double.doubleToLongBits(normZero(r.getDouble(i))),
            KmvSeed) & 0xFFFFFFFFL
          case BooleanType => (r: InternalRow, i: Int) =>
            hashLong(if (r.getBoolean(i)) 1L else 0L,
              KmvSeed) & 0xFFFFFFFFL
          case StringType => (r: InternalRow, i: Int) => {
            val u = r.getUTF8String(i)
            hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
              u.numBytes, KmvSeed) & 0xFFFFFFFFL
          }
          case _ => (_: InternalRow, _: Int) => -1L
        }
      }
    private def newKmvs(): Array[java.util.TreeSet[java.lang.Long]] =
      Array.fill(schema.length)(new java.util.TreeSet[java.lang.Long]())
    private var kmvs = newKmvs()
    private def kmvUpdate(i: Int, row: InternalRow): Unit = {
      val h = kmvHashers(i)(row, i)
      if (h >= 0L) {
        val set = kmvs(i)
        if (set.size < KmvK) { set.add(h); () }
        else if (h < set.last()) {
          if (set.add(h)) { set.pollLast(); () }
        }
      }
    }

    // per-file block index: (byte offset, start ordinal, rows, stats)
    private val blocks =
      scala.collection.mutable.Buffer.empty[(Long, Long, Long, Seq[KeyStats])]
    private var blockStartOff = 0L
    private var blockStartOrd = 0L
    private var rowsInBlock = 0L

    // ALL-COLUMN zone maps: per-column nulls / min / max tracked as
    // the bytes stream out (the key column's slot doubles as the
    // legacy key stats). TYPE-SPECIALIZED trackers keep the hot path
    // allocation-free — primitive min/max fields, one virtual call
    // per non-null field, never a boxed compare (the generic
    // Array[Any]+ordering spelling boxed every value of every column
    // of every row). Rows are reused by the scan pipeline, so a value
    // RETAINED across write() calls must be copied out of the row —
    // strings compare against the transient UTF8String first and
    // clone only when they become the new bound. Doubles are
    // ZERO-NORMALIZED (-0.0 -> 0.0, same as Spark's
    // NormalizeFloatingNumbers for shuffle/join keys): SQL says
    // -0.0 == 0.0, so stats and bucket proofs recorded in raw IEEE
    // order would wrongly prune a file whose only matching rows are
    // the other zero.
    private sealed abstract class ColTracker {
      var nulls = 0L
      def update(r: InternalRow): Unit
      def stats: KeyStats
      /** Fold ANOTHER tracker's bounds into this one (file stats =
        * fold of the per-block trackers — the hot path updates block
        * trackers only, one virtual call per field, and pays the fold
        * once per block). `o` is always the same concrete type. */
      def absorb(o: ColTracker): Unit
      /** Per-file SUM over non-null values (numeric trackers only):
        * what lets a global SUM fold from the manifest like
        * count/min/max. None = not summable, or the long accumulator
        * overflowed (refuse honestly, never record a wrapped sum). */
      def sumEnc: Option[String] = None
    }
    private final class LongCol(i: Int) extends ColTracker {
      private var has = false; private var mn = 0L; private var mx = 0L
      private var sm = 0L; private var smOk = true
      def update(r: InternalRow): Unit = {
        val v = r.getLong(i)
        if (!has) { mn = v; mx = v; has = true }
        else { if (v < mn) mn = v; if (v > mx) mx = v }
        if (smOk) try sm = Math.addExact(sm, v)
          catch { case _: ArithmeticException => smOk = false }
      }
      def absorb(o: ColTracker): Unit = {
        val t = o.asInstanceOf[LongCol]
        nulls += t.nulls
        if (t.has) {
          if (!has) { mn = t.mn; mx = t.mx; has = true }
          else { if (t.mn < mn) mn = t.mn; if (t.mx > mx) mx = t.mx }
        }
        if (smOk && t.smOk) try sm = Math.addExact(sm, t.sm)
          catch { case _: ArithmeticException => smOk = false }
        else smOk = false
      }
      def stats: KeyStats = KeyStats(nulls,
        if (has) Some(mn.toString) else None,
        if (has) Some(mx.toString) else None)
      override def sumEnc: Option[String] =
        if (smOk) Some(sm.toString) else None
    }
    private final class IntCol(i: Int) extends ColTracker {
      private var has = false; private var mn = 0; private var mx = 0
      private var sm = 0L; private var smOk = true
      def update(r: InternalRow): Unit = {
        val v = r.getInt(i)
        if (!has) { mn = v; mx = v; has = true }
        else { if (v < mn) mn = v; if (v > mx) mx = v }
        if (smOk) try sm = Math.addExact(sm, v.toLong)
          catch { case _: ArithmeticException => smOk = false }
      }
      def absorb(o: ColTracker): Unit = {
        val t = o.asInstanceOf[IntCol]
        nulls += t.nulls
        if (t.has) {
          if (!has) { mn = t.mn; mx = t.mx; has = true }
          else { if (t.mn < mn) mn = t.mn; if (t.mx > mx) mx = t.mx }
        }
        if (smOk && t.smOk) try sm = Math.addExact(sm, t.sm)
          catch { case _: ArithmeticException => smOk = false }
        else smOk = false
      }
      def stats: KeyStats = KeyStats(nulls,
        if (has) Some(mn.toString) else None,
        if (has) Some(mx.toString) else None)
      override def sumEnc: Option[String] =
        if (smOk) Some(sm.toString) else None
    }
    private final class DoubleCol(i: Int) extends ColTracker {
      private var has = false; private var mn = 0.0; private var mx = 0.0
      private var sm = 0.0
      def update(r: InternalRow): Unit = {
        val v = normZero(r.getDouble(i))
        if (!has) { mn = v; mx = v; has = true }
        else {
          if (java.lang.Double.compare(v, mn) < 0) mn = v
          if (java.lang.Double.compare(v, mx) > 0) mx = v
        }
        sm += v
      }
      def absorb(o: ColTracker): Unit = {
        val t = o.asInstanceOf[DoubleCol]
        nulls += t.nulls
        if (t.has) {
          if (!has) { mn = t.mn; mx = t.mx; has = true }
          else {
            if (java.lang.Double.compare(t.mn, mn) < 0) mn = t.mn
            if (java.lang.Double.compare(t.mx, mx) > 0) mx = t.mx
          }
        }
        sm += t.sm
      }
      def stats: KeyStats = KeyStats(nulls,
        if (has) Some(mn.toString) else None,
        if (has) Some(mx.toString) else None)
      override def sumEnc: Option[String] = Some(sm.toString)
    }
    private final class BoolCol(i: Int) extends ColTracker {
      private var has = false
      private var mn = true; private var mx = false
      def update(r: InternalRow): Unit = {
        val v = r.getBoolean(i)
        has = true
        if (!v) mn = false
        if (v) mx = true
      }
      def absorb(o: ColTracker): Unit = {
        val t = o.asInstanceOf[BoolCol]
        nulls += t.nulls
        if (t.has) { has = true; if (!t.mn) mn = false; if (t.mx) mx = true }
      }
      def stats: KeyStats = KeyStats(nulls,
        if (has) Some(mn.toString) else None,
        if (has) Some(mx.toString) else None)
    }
    private final class StringCol(i: Int) extends ColTracker {
      private var mn: UTF8String = null
      private var mx: UTF8String = null
      def update(r: InternalRow): Unit = {
        val v = r.getUTF8String(i)
        if (mn == null || v.compareTo(mn) < 0) mn = v.clone()
        if (mx == null || v.compareTo(mx) > 0) mx = v.clone()
      }
      def absorb(o: ColTracker): Unit = {
        val t = o.asInstanceOf[StringCol]
        nulls += t.nulls
        if (t.mn != null && (mn == null || t.mn.compareTo(mn) < 0)) mn = t.mn
        if (t.mx != null && (mx == null || t.mx.compareTo(mx) > 0)) mx = t.mx
      }
      def stats: KeyStats = KeyStats(nulls, encStat(mn), encStat(mx))
    }
    private def makeTrackers(): Array[ColTracker] =
      schema.fields.zipWithIndex.map { case (fd, i) =>
        fd.dataType match {
          case LongType | TimestampType | TimestampNTZType => new LongCol(i)
          case IntegerType | DateType => new IntCol(i)
          case DoubleType => new DoubleCol(i)
          case BooleanType => new BoolCol(i)
          case StringType => new StringCol(i)
          case other => throw new IllegalArgumentException(other.sql)
        }
      }
    // hot path updates THESE (per-block when blockRows > 0, else
    // per-file) — one virtual call per non-null field; file-level
    // stats fold in via absorb() once per block
    private var trackers: Array[ColTracker] = makeTrackers()
    private var fileTrackers: Array[ColTracker] = makeTrackers()

    /** Close the current block: fold its trackers into the file stats
      * and (when block footers are on) snapshot its line of the block
      * index. No-op on an empty block. */
    private def endBlock(recordBlock: Boolean): Unit = {
      if (rowsInBlock == 0) return
      if (recordBlock)
        blocks += ((blockStartOff, blockStartOrd, rowsInBlock,
          schema.indices.map(i => trackers(i).stats)))
      var i = 0
      while (i < trackers.length) {
        fileTrackers(i).absorb(trackers(i)); i += 1
      }
      trackers = makeTrackers()
      blockStartOff = if (counted != null) counted.count else 0L
      blockStartOrd += rowsInBlock
      rowsInBlock = 0L
    }

    // key value for the bucket proof only — never retained, so
    // strings stay the row's transient UTF8String
    private def keyRaw(row: InternalRow): Any = keyType match {
      case LongType | TimestampType | TimestampNTZType =>
        row.getLong(keyIdx)
      case IntegerType | DateType => row.getInt(keyIdx)
      case DoubleType => normZero(row.getDouble(keyIdx))
      case BooleanType => row.getBoolean(keyIdx)
      case StringType => row.getUTF8String(keyIdx)
      case other => throw new IllegalArgumentException(other.sql)
    }

    private val fieldWriters: Array[(DataOutputStream, InternalRow, Int) => Unit] =
      schema.fields.zipWithIndex.map { case (fd, _) =>
        fd.dataType match {
          case LongType | TimestampType | TimestampNTZType =>
            (o: DataOutputStream, r: InternalRow, i: Int) =>
              o.writeLong(r.getLong(i))
          case IntegerType | DateType =>
            (o: DataOutputStream, r: InternalRow, i: Int) =>
              o.writeInt(r.getInt(i))
          case DoubleType => (o: DataOutputStream, r: InternalRow, i: Int) =>
            o.writeDouble(r.getDouble(i))
          case BooleanType => (o: DataOutputStream, r: InternalRow, i: Int) =>
            o.writeBoolean(r.getBoolean(i))
          case StringType => (o: DataOutputStream, r: InternalRow, i: Int) => {
            val b = r.getUTF8String(i).getBytes
            o.writeInt(b.length); o.write(b)
          }
          case other => throw new IllegalArgumentException(other.sql)
        }
      }

    override def write(row: InternalRow): Unit = {
      if (out == null) {
        counted = new CountingOS(
          new java.io.BufferedOutputStream(f.create(inprogress, true), 1 << 16))
        out = new DataOutputStream(counted)
      }
      var i = 0
      while (i < fieldWriters.length) {
        val isNull = row.isNullAt(i)
        out.writeBoolean(isNull)
        if (!isNull) {
          fieldWriters(i)(out, row, i)
          trackers(i).update(row)
          kmvUpdate(i, row)
        }
        else trackers(i).nulls += 1L
        i += 1
      }
      if (blooms.nonEmpty) {
        var bi = 0
        while (bi < blooms.length) {
          val (ci, builder) = blooms(bi)
          if (!row.isNullAt(ci))
            bloomBytes(schema(ci).dataType, row.get(ci, schema(ci).dataType))
              .foreach(builder.add)
          bi += 1
        }
      }
      rows += 1L
      rowsInBlock += 1L
      if (blockRows > 0 && rowsInBlock >= blockRows)
        endBlock(recordBlock = true)
      val kNull = row.isNullAt(keyIdx)
      val kVal: Any = if (kNull) null else keyRaw(row)
      // bucket proof: nulls hash like hashpartitioning hashes them
      // (murmur3 of null leaves the seed), so all-null files prove a
      // bucket too
      val b = bucketOf(kVal, keyType, buckets)
      if (bucketTag == -2) bucketTag = b
      else if (bucketTag != -1 && bucketTag != b) bucketTag = -1
      // test-only fault injection: die MID-FILE on the first attempt
      // after the poisoned key's row is already in the stream — the
      // retry must leave this partial file invisible forever
      chaos.foreach { case (ki, poisoned) =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 &&
            !row.isNullAt(ki) && row.getLong(ki) == poisoned) {
          out.flush()
          throw new RuntimeException(
            s"graft-chaos: injected writer failure at key $poisoned")
        }
      }
      if (maxFileRows > 0 && rows >= maxFileRows) finishFile()
    }

    /** Close the current slice: queue its rename for task commit,
      * record its message, reset per-file state for the next slice. A
      * zero-row tail still records a message (the manifest filters
      * rows > 0), keeping the single-file path identical to the
      * pre-rolling behavior. The rename itself is DEFERRED to
      * [[commit]] so a rolled slice stays invisible (dot-prefixed) for
      * the whole task — a concurrent vacuum can therefore never delete
      * a final-named file this task's manifest will commit, however
      * small its grace period. */
    private def finishFile(): Unit = {
      endBlock(recordBlock = blockRows > 0)
      var bytes = -1L
      var blocksFlag = false
      if (out != null) {
        // BLOCK FOOTER (2+ blocks only — a single block IS the file
        // stats): index lines, then [len][magic]; the data region ends
        // where the first block index line says the footer starts
        if (blocks.size >= 2) {
          val body = blocks.map { case (off, ord, n, cs) =>
            s"$off:$ord:$n:${colStatsField(cs)}"
          }.mkString("\n").getBytes(StandardCharsets.UTF_8)
          out.write(body)
          out.writeLong(body.length.toLong)
          out.writeLong(BlockMagic)
          blocksFlag = true
        }
        out.close()
        out = null
        counted = null
        pendingRenames += ((inprogress, new Path(s"$path/data", name)))
        bytes = try f.getFileStatus(inprogress).getLen
          catch { case scala.util.control.NonFatal(_) => -1L }
      }
      // bloom sidecars: dot-prefixed (invisible to listings), written
      // under the file's FINAL name — advisory data, so the vacuum
      // race that matters for row-log files does not apply (a reaped
      // sidecar just stops pruning); an aborted task's sidecars are
      // strays vacuum reaps with the data
      val wroteBlooms = rows > 0L && blooms.nonEmpty && {
        try {
          val o = f.create(
            new Path(s"$path/data", bloomSidecarName(name)), true)
          try o.write(bloomSidecarBody(blooms.map { case (i, b) =>
            i -> b.result }).getBytes(StandardCharsets.UTF_8))
          finally o.close()
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      }
      val cs = schema.indices.map(i => fileTrackers(i).stats)
      val ndv =
        if (rows == 0L) Seq.empty[Seq[Long]]
        else kmvs.toSeq.map { set =>
          val out2 = new Array[Long](set.size())
          val it = set.iterator()
          var j = 0
          while (it.hasNext) { out2(j) = it.next(); j += 1 }
          out2.toSeq
        }
      finished += KFileMessage(name, rows, cs(keyIdx).nulls,
        if (bucketTag < 0) -1 else bucketTag,
        cs(keyIdx).minEnc, cs(keyIdx).maxEnc, cs, bytes, blocksFlag,
        if (wroteBlooms) blooms.map(_._1) else Seq.empty, ndv,
        sums = schema.indices.map(i => fileTrackers(i).sumEnc))
      name = s"$base-${java.util.UUID.randomUUID().toString.take(8)}.rows"
      inprogress = new Path(s"$path/data", s".$name.inprogress")
      rows = 0L
      bucketTag = -2
      trackers = makeTrackers()
      fileTrackers = makeTrackers()
      blooms = newBlooms()
      kmvs = newKmvs()
      blocks.clear()
      blockStartOff = 0L
      blockStartOrd = 0L
    }

    override def commit(): WriterCommitMessage = {
      finishFile()
      pendingRenames.foreach { case (src, dst) =>
        if (!f.rename(src, dst))
          throw new java.io.IOException(
            s"task commit rename failed: ${dst.getName}")
      }
      pendingRenames.clear()
      if (finished.size == 1) finished.head
      else KDeltaMessage(finished.toSeq, Seq.empty)
    }

    override def abort(): Unit = {
      if (out != null) out.close()
      (pendingRenames.map(_._1) :+ inprogress).foreach { p =>
        try { f.delete(p, false); () }
        catch { case scala.util.control.NonFatal(_) => () }
      }
      // nothing this task wrote ever reached a final name: rolled
      // slices died under their dot-prefixed inprogress names
    }

    override def close(): Unit = ()
  }

  // ---------- row-level (delta) write path ----------

  /** The write half of a SQL row-level statement. Effects compile to
    * the table's native verbs — insert/update = upsert append, delete
    * = tombstone marker — and the whole statement commits as ONE
    * manifest at one sequence. ORDER INSIDE THE COMMIT: tombstone
    * entries first, data entries after, so a row the statement WRITES
    * outranks a key-vacating delete the same statement made (an
    * UPDATE that changes a row's key deletes the old key and inserts
    * the new one; a sibling source row may re-insert the vacated key
    * in the same statement — SQL's effect-set semantics keep that key
    * present).
    *
    * Distribution: clustered on the partition key and key-sorted, the
    * same contract the ordinary write plans — insert/update rows then
    * land one bucket per task (files keep their bucket proofs and the
    * table keeps clustered reads). Delete effects carry the key in the
    * ROW-ID projection, not the data row, so a pure-DELETE statement's
    * rows cluster by the id key; mixed MERGE deletes may cross
    * buckets, which the writer absorbs by writing one marker file per
    * bucket it sees. */
  private final class KDeltaWrite(path: String, rowSchema: StructType,
      tableSchema: StructType, keys: Seq[String], writePartitions: Int,
      queryId: String, cmd: RowLevelOperation.Command,
      // OPTIMISTIC CONCURRENCY: the operation's pinned live-set and
      // version horizon. When set, commit validates (under the
      // maintenance lock, atomically with publication) that no commit
      // OVERLAPPING this statement's written keys published after the
      // pin — two concurrent read-modify-write statements over the
      // same keys would otherwise both commit and LWW would interleave
      // their effects (a lost update: both read v1, last manifest wins
      // wholesale). The loser aborts with a retryable
      // [[ConcurrentCommitException]]; disjoint-key concurrency passes
      // (bucket tags and key zone maps prove disjointness). None =
      // detection off: the pre-OCC blind-append behavior.
      occ: Option[(Set[String], Long)])
      extends DeltaWrite with RequiresDistributionAndOrdering {
    private val pk = keys.head
    override def requiredDistribution(): Distribution =
      Distributions.clustered(Array(Expressions.column(pk)))
    override def requiredOrdering(): Array[SortOrder] =
      Array(Expressions.sort(Expressions.column(pk),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
    override def requiredNumPartitions(): Int = writePartitions
    override def description(): String =
      s"KeyedTableDelta[$cmd, $path, key=${keys.mkString(",")}]"

    override def toBatch: DeltaBatchWrite = new DeltaBatchWrite {
      private val conf = new SerConf(hadoopConf())
      ensureDirs(path, conf.value)
      // a DELETE statement's write carries no data rows — its schema
      // must not evolve the table; inserts/updates bring the full row
      // schema and pass the same evolution gate the ordinary write does
      if (rowSchema.nonEmpty) ensureSchema(path, rowSchema, conf.value)
      // the statement's effect rows honor the table's bloom
      // declaration like any other write
      private val deltaBloomCols =
        if (rowSchema.isEmpty) Seq.empty[Int]
        else bloomColIdxs(path, rowSchema, conf.value)

      override def createBatchWriterFactory(
          info: PhysicalWriteInfo): DeltaWriterFactory =
        new KDeltaWriterFactory(path, rowSchema, tableSchema, keys,
          writePartitions, conf, deltaBloomCols)

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        readSchemaFile(path, conf.value).foreach(c => require(
          rowSchema.isEmpty || sameShape(c, rowSchema) ||
            isPrefix(rowSchema, c),
          s"KeyedTable schema changed under this write at $path"))
        val ms = messages.collect { case m: KDeltaMessage => m }
        val data = ms.flatMap(_.data).filter(_.rows > 0)
        val tombs = ms.flatMap(_.tombs).filter(_.rows > 0)
        def entry(m: KFileMessage, tomb: Boolean): KFileEntry =
          KFileEntry(m.file, m.rows, m.bucket, writePartitions, pk,
            Some(KeyStats(m.nulls, m.minEnc, m.maxEnc)), tombstone = tomb,
            colStats = m.colStats, bytes = m.bytes, blocks = m.blocks,
            bloomCols = m.bloomCols, ndv = m.ndv, sums = m.sums)
        // tombstones first (lower _pos): a data row written by this
        // statement outranks its own delete of the same key
        val entries = tombs.map(entry(_, tomb = true)) ++
          data.map(entry(_, tomb = false))
        if (entries.isEmpty) return
        def publish(): Unit = commitManifest(path,
          s"rlo-${cmd.toString.toLowerCase}-${sanitize(queryId)}.manifest",
          entries, conf.value,
          ncols = (if (rowSchema.nonEmpty) rowSchema else tableSchema).length)
        occ match {
          case None => publish()
          case Some((pinnedNames, pinnedMaxSeq)) =>
            // [validate / publish] made atomic by the maintenance lock
            // — concurrent row-level statements (and folds/overwrites)
            // serialize here; NATIVE blind appends stay lock-free by
            // design (they never read, so they cannot lose an update —
            // Cassandra's upsert model; under LWW they resolve exactly
            // as they would against the pre-statement versions)
            withMaintenanceLock(path, conf.value) {
              val intruders = liveManifests(path, conf.value).filter(m =>
                !pinnedNames(m.name) && (m.seq < 0 || m.seq > pinnedMaxSeq))
              val files = data ++ tombs
              val clash = intruders.find(
                _.entries.exists(e => mayOverlap(e, files)))
              clash.foreach { m =>
                throw new ConcurrentCommitException(
                  s"concurrent commit ${m.name} (seq ${m.seq}) published " +
                    s"rows overlapping this $cmd statement's keys after " +
                    s"its snapshot was pinned at $path — committing would " +
                    "lose its update under last-write-wins. The statement " +
                    "read a stale snapshot; retry it (its re-read then " +
                    "sees the winner's rows).")
              }
              publish()
            }
        }
      }

      /** Can `e` (a commit that raced this statement) hold any key this
        * statement wrote? Conservative: only PROVEN disjointness — by
        * write bucket (same key column and modulus, both tags proven)
        * or by key zone map (both ranges recorded, comparably typed) —
        * lets the commit pass; anything unprovable conflicts. */
      private def mayOverlap(e: KFileEntry,
          files: Seq[KFileMessage]): Boolean = {
        if (e.rows == 0) return false
        val keyDt = tableSchema.fields(tableSchema.fieldIndex(pk)).dataType
        val sameKeySpace = e.key == pk
        val disjointByBucket = sameKeySpace &&
          e.buckets == writePartitions && e.bucket >= 0 &&
          files.forall(_.bucket >= 0) &&
          !files.exists(_.bucket == e.bucket)
        if (disjointByBucket) return false
        // statement scope [sLo, sHi]: unknown (None) if ANY written
        // file lacks key stats — unknown never proves disjointness
        val scopeLo = if (files.exists(_.minEnc.isEmpty)) None
          else reduceEnc(keyDt, files.flatMap(_.minEnc), min = true)
        val scopeHi = if (files.exists(_.maxEnc.isEmpty)) None
          else reduceEnc(keyDt, files.flatMap(_.maxEnc), min = false)
        val disjointByRange = sameKeySpace && (for {
          st <- e.stats
          eLo <- st.minEnc; eHi <- st.maxEnc
          sLo <- scopeLo; sHi <- scopeHi
          cHiLo <- cmpEncEnc(keyDt, eHi, sLo)
          cLoHi <- cmpEncEnc(keyDt, eLo, sHi)
        } yield cHiLo < 0 || cLoHi > 0).getOrElse(false)
        !disjointByRange
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit = {
        val f = fs(path, conf.value)
        messages.foreach {
          case m: KDeltaMessage => (m.data ++ m.tombs).foreach { x =>
            try { f.delete(new Path(s"$path/data", x.file), false); () }
            catch { case scala.util.control.NonFatal(_) => () }
          }
          case _ => ()
        }
      }
    }
  }

  private final class KDeltaWriterFactory(path: String,
      rowSchema: StructType, tableSchema: StructType, keys: Seq[String],
      buckets: Int, conf: SerConf, bloomCols: Seq[Int] = Seq.empty)
      extends DeltaWriterFactory {
    override def createWriter(partitionId: Int,
        taskId: Long): DeltaWriter[InternalRow] =
      new KDeltaRowWriter(path, rowSchema, tableSchema, keys, buckets,
        s"rlo-$partitionId-$taskId", conf, bloomCols)
  }

  /** Per-task writer of row-level effects. Inserts/updates stream into
    * one row-log file PER BUCKET the task sees (the clustered write
    * distribution makes that one file in the common case, so the files
    * keep their bucket proofs); deletes accumulate a key set —
    * O(#deleted keys) memory, the same bound the statement's commit
    * pays in marker bytes — flushed to per-bucket tombstone files at
    * task commit. A deleted key is tombstoned at PARTITION granularity
    * (Cassandra's model), so composite-key tables refuse row-level
    * deletes and key-changing updates: a partition marker would hide
    * sibling clustering rows. */
  private final class KDeltaRowWriter(path: String, rowSchema: StructType,
      tableSchema: StructType, keys: Seq[String], buckets: Int,
      base: String, conf: SerConf, bloomCols: Seq[Int] = Seq.empty)
      extends DeltaWriter[InternalRow] {
    private val keyTypes: Seq[DataType] =
      keys.map(k => tableSchema.fields(tableSchema.fieldIndex(k)).dataType)
    private val keyType = keyTypes.head
    // the row projection's key slots (inserts/updates); -1 when this
    // statement writes no data rows (pure DELETE)
    private val rowKeyIdxs: Seq[Int] =
      keys.map(k => rowSchema.fieldNames.indexOf(k))
    private val rowKeyIdx = rowKeyIdxs.head
    private val writers =
      scala.collection.mutable.HashMap.empty[Int, KRowWriter]
    private val deletes = scala.collection.mutable.LinkedHashSet.empty[Any]

    // key value out of a row slot, CATALYST domain, safe to RETAIN
    // (UnsafeRow projections reuse buffers — strings must be cloned)
    private def keyAt(row: InternalRow, idx: Int, dt: DataType): Any =
      if (row.isNullAt(idx)) null
      else dt match {
        case LongType | TimestampType | TimestampNTZType => row.getLong(idx)
        case IntegerType | DateType => row.getInt(idx)
        case DoubleType => normZero(row.getDouble(idx))
        case BooleanType => row.getBoolean(idx)
        case StringType => row.getUTF8String(idx).clone()
        case other => throw new IllegalArgumentException(other.sql)
      }

    private def sameVal(a: Any, b: Any): Boolean =
      if (a == null || b == null) a == null && b == null else a == b

    override def insert(row: InternalRow): Unit = {
      require(rowKeyIdx >= 0,
        s"row-level write at $path received a data row but its " +
          s"projection $rowSchema lacks the key column ${keys.head}")
      val k = keyAt(row, rowKeyIdx, keyType)
      val b = bucketOf(k, keyType, buckets)
      writers.getOrElseUpdate(b, new KRowWriter(path, rowSchema,
        s"$base-b$b", rowKeyIdx, buckets, conf,
        bloomCols = bloomCols)).write(row)
    }

    /** UPDATE effect: the new row is an upsert append. A changed
      * PARTITION key is DELETE(old) + INSERT(new) — single-key tables
      * only; on a composite table any key-column change is refused
      * (the delete half would be a partition marker hiding sibling
      * clustering rows). The id row carries the ORIGINAL key values in
      * [[KRowLevelOp.rowId]] order. */
    override def update(meta: InternalRow, id: InternalRow,
        row: InternalRow): Unit = {
      // the id row carries the ORIGINAL key values in rowId order —
      // compare EVERY key column (a changed clustering column is a key
      // change too: the old full-key row would survive as a ghost)
      val changed = keys.indices.filter { i =>
        !sameVal(keyAt(id, i, keyTypes(i)),
          keyAt(row, rowKeyIdxs(i), keyTypes(i)))
      }
      if (changed.nonEmpty) {
        require(keys.size == 1,
          s"UPDATE changing primary-key column(s) " +
            s"${changed.map(keys).mkString(",")} on composite-key table " +
            s"$path is refused: the old row's delete would be a " +
            "partition-level tombstone hiding sibling clustering rows — " +
            "DELETE and re-INSERT explicitly")
        val oldK = keyAt(id, 0, keyType)
        if (oldK != null) { deletes += oldK; () }
      }
      insert(row)
    }

    override def delete(meta: InternalRow, id: InternalRow): Unit = {
      require(keys.size == 1,
        s"row-level DELETE on composite-key table $path is refused: " +
          "tombstones delete whole partitions (range tombstones), which " +
          "would hide sibling clustering rows — use SQL DELETE on the " +
          "partition key explicitly")
      val k = keyAt(id, 0, keyType)
      require(k != null,
        s"row-level DELETE at $path matched a NULL-keyed row — a " +
          "partition tombstone cannot address it")
      deletes += k
      ()
    }

    override def commit(): WriterCommitMessage = {
      val data = writers.toSeq.sortBy(_._1)
        .map(_._2.commit()).collect { case m: KFileMessage => m }
      // markers frame with the SAME schema as this statement's data
      // files (one ncols per manifest): the statement's row projection
      // when it writes rows, the committed schema on a pure DELETE
      val frame = if (rowSchema.nonEmpty) rowSchema else tableSchema
      val tombs = writeTombstoneMarkers(path, frame,
        frame.fieldIndex(keys.head), buckets, deletes.toSeq,
        s"$base-", conf.value)
      KDeltaMessage(data, tombs)
    }

    override def abort(): Unit = writers.values.foreach(_.abort())
    override def close(): Unit = ()
  }

  // ---------- read path ----------

  /** Filter shapes usable for manifest-stats file pruning. EVERY
    * filter stays residual (file stats prune files, they never filter
    * rows), so pruning can only ever be conservative — a wrongly-kept
    * file costs a read, a wrongly-claimed push would cost rows. */
  private def prunable(fl: Filter): Boolean = attrOf(fl).isDefined

  private def attrOf(fl: Filter): Option[String] = {
    import org.apache.spark.sql.sources._
    fl match {
      case EqualTo(a, _) => Some(a)
      case EqualNullSafe(a, _) => Some(a)
      case GreaterThan(a, _) => Some(a)
      case GreaterThanOrEqual(a, _) => Some(a)
      case LessThan(a, _) => Some(a)
      case LessThanOrEqual(a, _) => Some(a)
      case In(a, _) => Some(a)
      case IsNull(a) => Some(a)
      case IsNotNull(a) => Some(a)
      case _ => None
    }
  }

  /** Sign of (encoded stat value) vs (filter literal) in the key's
    * domain; None when the literal can't be compared there — the
    * caller then keeps the file (pruning must never be wrong, only
    * useful). String order is unsigned-byte over UTF-8, matching the
    * UTF8String order the writer recorded min/max in. */
  /** Compare two canonical stat ENCODINGS of the same data type (the
    * [[KeyStats]] min/max spelling — numeric toString / Base64 UTF-8
    * bytes). None on types the stats never record (then the caller
    * must stay conservative). */
  private def cmpEncEnc(dt: DataType, a: String, b: String): Option[Int] =
    dt match {
      case LongType | IntegerType | TimestampType | TimestampNTZType =>
        Some(java.lang.Long.compare(a.toLong, b.toLong))
      case DateType => Some(java.lang.Integer.compare(a.toInt, b.toInt))
      case DoubleType => Some(java.lang.Double.compare(
        normZero(a.toDouble), normZero(b.toDouble)))
      case BooleanType =>
        Some(java.lang.Boolean.compare(a.toBoolean, b.toBoolean))
      case StringType =>
        val x = java.util.Base64.getDecoder.decode(a)
        val y = java.util.Base64.getDecoder.decode(b)
        val n = math.min(x.length, y.length)
        var i = 0
        var r = 0
        while (i < n && r == 0) {
          r = java.lang.Integer.compare(x(i) & 0xff, y(i) & 0xff)
          i += 1
        }
        Some(if (r != 0) r else java.lang.Integer.compare(x.length, y.length))
      case _ => None
    }

  /** Fold encodings to their min (or max) under [[cmpEncEnc]]; None on
    * an empty set or an uncomparable type. */
  private def reduceEnc(dt: DataType, encs: Seq[String],
      min: Boolean): Option[String] =
    // comparability is a property of the TYPE alone — probe it once
    if (encs.isEmpty || cmpEncEnc(dt, encs.head, encs.head).isEmpty) None
    else Some(encs.reduce((a, b) =>
      if ((cmpEncEnc(dt, a, b).get <= 0) == min) a else b))

  private def cmpEnc(dt: DataType, e: String, v: Any): Option[Int] = {
    def asLong(x: Any): Option[Long] = x match {
      case n: java.lang.Long => Some(n.longValue)
      case n: java.lang.Integer => Some(n.longValue)
      case n: java.lang.Short => Some(n.longValue)
      case n: java.lang.Byte => Some(n.longValue)
      case _ => None
    }
    dt match {
      case LongType | IntegerType =>
        asLong(v).map(l => java.lang.Long.compare(e.toLong, l))
      case TimestampType | TimestampNTZType =>
        tsMicros(dt, v).map(l => java.lang.Long.compare(e.toLong, l))
      case DateType =>
        dateDays(v).map(d => java.lang.Integer.compare(e.toInt, d))
      case DoubleType => v match {
        case n: java.lang.Double => Some(java.lang.Double.compare(
          normZero(e.toDouble), normZero(n.doubleValue)))
        case n: java.lang.Float => Some(java.lang.Double.compare(
          normZero(e.toDouble), normZero(n.doubleValue)))
        case _ => None
      }
      case BooleanType => v match {
        case b: java.lang.Boolean =>
          Some(java.lang.Boolean.compare(e.toBoolean, b.booleanValue))
        case _ => None
      }
      case StringType => v match {
        case s: String =>
          val a = java.util.Base64.getDecoder.decode(e)
          val b = s.getBytes(StandardCharsets.UTF_8)
          val n = math.min(a.length, b.length)
          var i = 0
          var r = 0
          while (i < n && r == 0) {
            r = java.lang.Integer.compare(a(i) & 0xff, b(i) & 0xff)
            i += 1
          }
          Some(if (r != 0) r else java.lang.Integer.compare(a.length, b.length))
        case _ => None
      }
      case _ => None
    }
  }

  /** Temporal filter literal → Catalyst micros. Spark hands external
    * objects (java.sql.Timestamp, or the java.time types under the
    * java8 datetime API); TIMESTAMP_NTZ literals arrive as
    * LocalDateTime. All convert exactly through Spark's own
    * DateTimeUtils, the same conversions the row encoder applied when
    * the values were written. */
  private def tsMicros(dt: DataType, v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case t: java.sql.Timestamp => Some(DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant => Some(DateTimeUtils.instantToMicros(i))
      case l: java.time.LocalDateTime if dt == TimestampNTZType =>
        Some(DateTimeUtils.localDateTimeToMicros(l))
      case _ => None
    }
  }

  private def dateDays(v: Any): Option[Int] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case d: java.sql.Date => Some(DateTimeUtils.fromJavaDate(d))
      case l: java.time.LocalDate => Some(l.toEpochDay.toInt)
      case _ => None
    }
  }

  /** The filter literal in the key's catalyst domain (what the hash
    * function expects), or None when it doesn't convert exactly.
    * Shared with KeyedTableOps.merge, whose collected delete keys are
    * the same external java objects filter literals arrive as. */
  private[sources] def toCatalyst(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (LongType, n: java.lang.Long) => Some(n.longValue)
    case (LongType, n: java.lang.Integer) => Some(n.longValue)
    case (LongType, n: java.lang.Short) => Some(n.longValue)
    case (LongType, n: java.lang.Byte) => Some(n.longValue)
    case (IntegerType, n: java.lang.Integer) => Some(n.intValue)
    case (IntegerType, n: java.lang.Short) => Some(n.intValue)
    case (IntegerType, n: java.lang.Byte) => Some(n.intValue)
    case (DoubleType, n: java.lang.Double) => Some(normZero(n.doubleValue))
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue)
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (TimestampType | TimestampNTZType, _) => tsMicros(dt, v)
    case (DateType, _) => dateDays(v)
    case _ => None
  }

  /** THE canonical stat encoding (manifest min/max): numeric/boolean
    * toString, string Base64 of the raw UTF-8 bytes (so the recorded
    * order is UTF8String's binary order). One definition — the row
    * writer and the tombstone writer both record through it, and
    * [[cmpEnc]] prunes against it; a second hand-kept copy could
    * silently desynchronize pruning from what writes recorded. */
  private[sources] def encStat(v: Any): Option[String] = Option(v).map {
    case s: UTF8String =>
      java.util.Base64.getEncoder.encodeToString(s.getBytes)
    case other => other.toString
  }

  /** THE canonical key comparator per supported type — shared by the
    * row writer's min/max tracking and the tombstone writer. */
  private[sources] def keyOrdering(dt: DataType): (Any, Any) => Int =
    dt match {
      case LongType | TimestampType | TimestampNTZType =>
        (a, b) => java.lang.Long.compare(
          a.asInstanceOf[Long], b.asInstanceOf[Long])
      case IntegerType | DateType => (a, b) => java.lang.Integer.compare(
        a.asInstanceOf[Int], b.asInstanceOf[Int])
      case DoubleType => (a, b) => java.lang.Double.compare(
        a.asInstanceOf[Double], b.asInstanceOf[Double])
      case BooleanType => (a, b) => java.lang.Boolean.compare(
        a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
      case StringType => (a, b) =>
        a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
      case other => throw new IllegalArgumentException(other.sql)
    }

  /** -0.0 -> 0.0 (SQL equality treats them as one value; raw IEEE
    * ordering/hashing would split them). NaN passes through —
    * Double.compare and doubleToLongBits already canonicalize it. */
  private[sources] def normZero(d: Double): Double =
    if (d == 0.0d) 0.0d else d

  /** A key as SQL grouping emits it (Spark's NormalizeFloatingNumbers):
    * -0.0 is 0.0 and every NaN the canonical NaN. Tables hold no FLOAT
    * columns (`validateSchema`), so DOUBLE is the only floating key. */
  private[sources] def normFloating(v: Any): Any = v match {
    case d: Double => if (d.isNaN) Double.NaN else normZero(d)
    case other => other
  }

  /** A key's SQL-grouping identity as a map key: the bits of the
    * normalized double (a boxed NaN never equals itself under `==`). */
  private[sources] def groupingKey(v: Any): Any = normFloating(v) match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case other => other
  }

  private[sources] def bucketOf(v: Any, dt: DataType, buckets: Int): Int = {
    val nv = v match {
      case d: java.lang.Double => java.lang.Double.valueOf(normZero(d))
      case d: Double => normZero(d)
      case other => other
    }
    val h = org.apache.spark.sql.catalyst.expressions
      .Murmur3HashFunction.hash(nv, dt, 42L).toInt
    ((h % buckets) + buckets) % buckets
  }

  /** Can file `e` possibly hold a row matching `fl`? Conservative:
    * unknown shapes/types/columns keep the file. The predicate's
    * column resolves through the table schema to the file's ZONE MAP
    * slot (per-column nulls/min/max — positional over the file's
    * frame prefix, so evolution-era files line up), falling back to
    * the legacy key-only stats; files with neither are always kept.
    * KEY equality/IN predicates additionally route by BUCKET when the
    * file proved one — the exact pruning a partition-key predicate
    * gets from Cassandra token routing, and far sharper than range
    * overlap on hash-clustered files (each commit's files cover
    * interleaved key ranges, but a key hashes into exactly one file
    * per commit). Range predicates prune by the recorded min/max —
    * tight when loads arrive in ranges of that column (the
    * incremental-load shape), and on ANY column, which is what makes
    * the reference's own non-key config predicates (json:53-58 via
    * py:118-120) prune a loaded table's files. */
  private def mayMatch(e: KFileEntry, schema: StructType,
      fl: Filter): Boolean = {
    val attr = attrOf(fl).getOrElse(return true)
    val idx = schema.fieldNames.indexOf(attr)
    if (idx < 0) return true // metadata column / unknown attribute
    val dt = schema.fields(idx).dataType
    val isKey = attr == e.key
    val st: KeyStats =
      if (idx < e.colStats.length) e.colStats(idx)
      else if (isKey) e.stats.orNull
      else null
    if (st == null) return true
    def inBucket(v: Any): Boolean =
      !isKey || e.bucket < 0 || e.buckets <= 0 ||
        toCatalyst(dt, v).forall(cv => bucketOf(cv, dt, e.buckets) == e.bucket)
    statAdmits(st, dt, fl, inBucket)
  }

  /** Can rows under these (nulls, min, max) stats possibly satisfy the
    * filter? The shared core of file-level pruning ([[mayMatch]], with
    * the bucket proof composed in) and BLOCK-level pruning (bucket
    * checks don't apply — a block holds the same keys as its file). */
  private def statAdmits(st: KeyStats, dt: DataType, fl: Filter,
      inBucket: Any => Boolean): Boolean = {
    import org.apache.spark.sql.sources._
    val hasNonNull = st.minEnc.isDefined
    def geMin(v: Any) = st.minEnc.flatMap(cmpEnc(dt, _, v)).forall(_ <= 0)
    def leMax(v: Any) = st.maxEnc.flatMap(cmpEnc(dt, _, v)).forall(_ >= 0)
    fl match {
      case IsNull(_) => st.nulls > 0
      case IsNotNull(_) => hasNonNull
      case EqualTo(_, v) => hasNonNull && geMin(v) && leMax(v) && inBucket(v)
      case EqualNullSafe(_, null) => st.nulls > 0
      case EqualNullSafe(_, v) =>
        hasNonNull && geMin(v) && leMax(v) && inBucket(v)
      case GreaterThan(_, v) =>
        hasNonNull && st.maxEnc.flatMap(cmpEnc(dt, _, v)).forall(_ > 0)
      case GreaterThanOrEqual(_, v) => hasNonNull && leMax(v)
      case LessThan(_, v) =>
        hasNonNull && st.minEnc.flatMap(cmpEnc(dt, _, v)).forall(_ < 0)
      case LessThanOrEqual(_, v) => hasNonNull && geMin(v)
      case In(_, vs) => hasNonNull &&
        vs.exists(v => v != null && geMin(v) && leMax(v) && inBucket(v))
      case _ => true
    }
  }

  /** Block-level [[statAdmits]]: positional stats over the FILE's
    * frame; anything the stats can't answer (unknown attribute, a
    * column the frame predates) keeps the block. */
  private def blockAdmits(colStats: Seq[KeyStats], schema: StructType,
      fl: Filter): Boolean = {
    val attr = attrOf(fl).getOrElse(return true)
    val idx = schema.fieldNames.indexOf(attr)
    if (idx < 0 || idx >= colStats.length) return true
    statAdmits(colStats(idx), schema.fields(idx).dataType, fl, _ => true)
  }

  /** One planned row-log file plus the version coordinates its rows
    * carry: the manifest's commit sequence and the file's index within
    * that manifest (row ordinal completes the (seq, pos) order at read
    * time). */
  private[sources] final case class KSplit(entry: KFileEntry, seq: Long,
      fileIdx: Int,
      // the field count the file was framed with (-1 = pre-evolution
      // manifest; resolves to baseNcols / the full schema at read)
      ncols: Int = -1)

  /** The live splits a scan plans from: one per file of every LIVE
    * manifest (superseded ones excluded; `asOf` time travel applies),
    * in (seq, fileIdx) coordinates. An explicit `pinned` name set
    * (the merge views' snapshot pin) overrides the live listing
    * entirely: supersedes were applied when the pin was listed, and
    * TTL expiry is deliberately NOT re-evaluated — the scans of one
    * snapshot-consistent view must agree on the set to the row. */
  private def liveSplits(path: String, conf: Configuration,
      asOf: Option[Long], pinned: Option[Set[String]] = None): Seq[KSplit] = {
    val ms = pinned match {
      case Some(names) => manifests(path, conf).filter(m => names(m.name))
      case None => liveManifests(path, conf, asOf)
    }
    ms.flatMap { m =>
      m.entries.zipWithIndex.map { case (e, i) => KSplit(e, m.seq, i, m.ncols) }
    }
  }

  /** Frame width for pre-evolution manifests (no #ncols header): the
    * `baseNcols` property recorded at the first evolution, else the
    * full schema (a never-evolved table). */
  private def legacyNcols(props: Map[String, String], full: StructType): Int =
    props.get("baseNcols")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(full.length)

  /** `tableSchema` is the committed DATA schema (the frame plan);
    * `advertised` is what the table handle exposes — identical except
    * under `withVersion`, where the version fields ride along and the
    * default (un-pruned, e.g. streaming) read schema must include
    * them. */
  private final class KScanBuilder(path: String, tableSchema: StructType,
      advertised: StructType, legacyNcols: Int, only: Option[String],
      perTrigger: Int, clusteredRead: Boolean, asOfSeq: Option[Long],
      tombMode: String = "include",
      pinned: Option[Set[String]] = None,
      changes: Option[(Long, Long)] = None,
      // CURRENT-STATE RESOLUTION (row-level operation scans): the full
      // primary key; the scan then resolves last-write-wins +
      // tombstones per bucket in the reader and emits live rows only.
      // Limit/aggregate pushdown are refused (they would answer over
      // raw versions) and file pruning narrows to the partition key
      resolve: Option[Seq[String]] = None)
      extends ScanBuilder with SupportsPushDownFilters
      with SupportsPushDownRequiredColumns
      with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
      with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
    private var required: StructType = advertised
    private var pruningFilters: Array[Filter] = Array.empty
    private var pushedAgg: Option[Seq[KAggSpec]] = None
    private var limit: Option[Int] = None
    // a resolving scan's pinned partition key (Catalyst domain)
    private var pointKey: Option[Any] = None

    /** PARTIAL limit pushdown: a LIMIT-k read without an ordering may
      * return ANY k rows, so the scan plans only enough files (row
      * counts are already on the manifest lines) to cover k instead of
      * every committed file — a LIMIT 10 probe of a million-file table
      * plans one file. Always PARTIAL (Spark keeps its own Limit for
      * exactness); refused when any planned file predates row counts,
      * and never applied to clustered-read groups (the reported
      * KeyGroupedPartitioning must keep its full group set). Residual
      * predicates compose: stats-pruned files first, then the row
      * budget — a file may not yield k MATCHING rows, so with filters
      * present the budget is filters-might-drop-rows conservative:
      * pushdown is refused and every stats-surviving file plans. */
    override def pushLimit(l: Int): Boolean = {
      if (resolve.isEmpty && pruningFilters.isEmpty && l >= 0) {
        limit = Some(l); true
      } else false
    }
    override def isPartiallyPushed: Boolean = true

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      import org.apache.spark.sql.sources.{EqualTo, IsNotNull}
      pruningFilters = resolve match {
        // current-state scans prune by the PARTITION KEY only: every
        // version and marker of a key shares its key value, so key
        // pruning keeps resolution exact; a non-key predicate may hold
        // for a stale version only and would prune the current one away
        case Some(ks) => filters.filter(prunable)
          .filter(fl => attrOf(fl).contains(ks.head))
        case None => filters.filter(prunable)
      }
      // A resolving scan pinned by `pk = v` reads on the driver
      // ([[KPointScan]]) and keeps only v's versions and tombstone
      // cuts, so it applies that filter and `pk IS NOT NULL` exactly:
      // both leave the residual. Every other filter stays Spark's to
      // evaluate: stats prune FILES only.
      val pin = resolve.flatMap(ks => tableSchema.find(_.name == ks.head))
        .flatMap { pk =>
          filters.iterator.map {
            case eq @ EqualTo(a, v) if a == pk.name =>
              toCatalyst(pk.dataType, v).map(eq -> _)
            case _ => None
          }.collectFirst { case Some(p) => p }
        }
      pointKey = pin.map(_._2)
      pin.fold(filters) { case (eq, _) =>
        filters.filterNot(fl => fl == eq || fl == IsNotNull(eq.attribute))
      }
    }
    override def pushedFilters(): Array[Filter] = pruningFilters
    override def pruneColumns(requiredSchema: StructType): Unit =
      // once an aggregate is pushed the scan's output IS the agg
      // schema; a later pruning call must not clobber it
      if (pushedAgg.isEmpty) required = requiredSchema

    /** COMPLETE aggregate pushdown from manifest METADATA: every
      * manifest line carries the file's row count plus per-column
      * zone maps (nulls, min, max), so global count(*) / count(col) /
      * min(col) / max(col) over ANY column is a manifest read — zero
      * row-log bytes, however many rows are committed (the same
      * footer-metadata trick the pipeline's progress counts use).
      * The recorded min/max are actual data values (the writer
      * tracked them row by row), so the fold is exact, not a bound.
      * Evolution-aware: a file whose frame predates the column
      * contributes rows-all-null (count skips them, min/max ignore
      * the file). Refused whenever the answer would need actual rows:
      * any residual predicate, GROUP BY, distinct, a legacy (v1)
      * manifest line without stats, or a pre-zone-map line when a
      * non-key column is asked. */
    override def supportCompletePushDown(
        agg: org.apache.spark.sql.connector.expressions.aggregate
          .Aggregation): Boolean = translateAgg(agg).isDefined

    override def pushAggregation(
        agg: org.apache.spark.sql.connector.expressions.aggregate
          .Aggregation): Boolean = translateAgg(agg) match {
      case s @ Some(_) => pushedAgg = s; true
      case None => false
    }

    /** The splits an aggregate push would fold, with resolved frame
      * widths — None when any is stat-less or the key contract is
      * mixed (the pushdown then falls back to Spark's aggregate). */
    private lazy val statsSplits: Option[Seq[KSplit]] =
      if (changes.isDefined) None // a change feed reads ROWS
      else {
        val splits = liveSplits(path, hadoopConf(), asOfSeq, pinned)
          .filter(sp => tombSelect(sp.entry))
          .map(sp => if (sp.ncols >= 0) sp else sp.copy(ncols = legacyNcols))
        val chosen = only match {
          case Some(f) => splits.filter(_.entry.file == f)
          case None => splits
        }
        val keys = chosen.map(_.entry.key).distinct
        if (chosen.forall(sp => sp.entry.rows >= 0 &&
            sp.entry.stats.isDefined) &&
            keys.size <= 1 && keys.forall(_.nonEmpty))
          Some(chosen)
        else None
      }

    /** Zone-map stats for column `idx` of a split: the recorded slot,
      * the legacy key stats when the line predates zone maps, an
      * all-null synthetic when the file's frame predates the column,
      * or None (refuse) when nothing covers it. */
    private def colStatsOf(sp: KSplit, idx: Int,
        key: String): Option[KeyStats] =
      if (idx < sp.entry.colStats.length) Some(sp.entry.colStats(idx))
      else if (idx >= sp.ncols && sp.entry.colStats.nonEmpty)
        Some(KeyStats(sp.entry.rows, None, None)) // column postdates file
      else if (tableSchema.fieldNames(idx) == key) sp.entry.stats
      else None

    private def translateAgg(
        agg: org.apache.spark.sql.connector.expressions.aggregate
          .Aggregation): Option[Seq[KAggSpec]] = {
      import org.apache.spark.sql.connector.expressions.NamedReference
      import org.apache.spark.sql.connector.expressions.aggregate._
      // a current-state scan's answer is over RESOLVED rows; manifest
      // stats describe raw versions — never fold them
      if (resolve.isDefined) return None
      if (pruningFilters.nonEmpty || agg.groupByExpressions.nonEmpty)
        return None
      val splits = statsSplits.getOrElse(return None)
      val key = splits.headOption.map(_.entry.key).getOrElse("")
      def fieldIdx(e: org.apache.spark.sql.connector.expressions.Expression) =
        e match {
          case nr: NamedReference if nr.fieldNames.length == 1 =>
            Some(tableSchema.fieldNames.indexOf(nr.fieldNames()(0)))
              .filter(_ >= 0)
          case _ => None
        }
      // every split must carry stats for every referenced column, or
      // the whole aggregation stays Spark's
      def covered(idx: Int): Option[Int] =
        if (splits.forall(sp => colStatsOf(sp, idx, key).isDefined))
          Some(idx)
        else None
      val specs = agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(KCountStar)
        case c: Count if !c.isDistinct =>
          fieldIdx(c.column).flatMap(covered).map(KCountCol)
        case m: Min => fieldIdx(m.column).flatMap(covered)
          .map(i => KMinCol(i, tableSchema.fields(i).dataType))
        case m: Max => fieldIdx(m.column).flatMap(covered)
          .map(i => KMaxCol(i, tableSchema.fields(i).dataType))
        case s: Sum if !s.isDistinct =>
          // SUM folds from the per-file sums the writer tracked —
          // every planned split must record the column's sum (a line
          // predating the field, or a long accumulator that
          // overflowed, refuses the whole push) alongside its zone
          // maps (the nulls decide SQL's empty-input NULL)
          fieldIdx(s.column).flatMap { i =>
            val dt = tableSchema.fields(i).dataType
            val summable = dt == LongType || dt == IntegerType ||
              dt == DoubleType
            val ok = summable && splits.forall { sp =>
              (i < sp.entry.sums.length && sp.entry.sums(i).isDefined &&
                colStatsOf(sp, i, key).isDefined) ||
                (i >= sp.ncols && sp.entry.colStats.nonEmpty) ||
                sp.entry.rows == 0
            }
            if (ok) Some(KSumCol(i,
              if (dt == DoubleType) DoubleType else LongType))
            else None
          }
        case _ => None
      }
      if (specs.nonEmpty && specs.forall(_.isDefined)) Some(specs.flatten)
      else None
    }

    override def build(): Scan = pushedAgg match {
      case Some(specs) =>
        val splits = statsSplits.get
        val key = splits.headOption.map(_.entry.key).getOrElse("")
        new KAggScan(path, splits, specs,
          idx => sp => colStatsOf(sp, idx, key))
      case None =>
        val scan = new KScan(path, tableSchema, required,
          pruningFilters, only, perTrigger, clusteredRead, asOfSeq,
          tombMode, pinned, changes, limit, new SerConf(hadoopConf()),
          legacyNcols, resolve, pointKey)
        if (pointKey.isDefined) new KPointScan(scan) else scan
    }

    private def tombSelect(e: KFileEntry): Boolean = tombMode match {
      case "only" => e.tombstone
      case "skip" => !e.tombstone
      case _ => true
    }
  }

  private sealed trait KAggSpec {
    def name: String
    def dataType: DataType
    def nullable: Boolean
  }
  private case object KCountStar extends KAggSpec {
    val name = "agg_count"
    val dataType: DataType = LongType
    val nullable = false
  }
  private final case class KCountCol(idx: Int) extends KAggSpec {
    val name = s"agg_count_$idx"
    val dataType: DataType = LongType
    val nullable = false
  }
  private final case class KMinCol(idx: Int, dataType: DataType)
      extends KAggSpec {
    val name = s"agg_min_$idx"
    val nullable = true
  }
  private final case class KMaxCol(idx: Int, dataType: DataType)
      extends KAggSpec {
    val name = s"agg_max_$idx"
    val nullable = true
  }
  private final case class KSumCol(idx: Int, dataType: DataType)
      extends KAggSpec {
    val name = s"agg_sum_$idx"
    val nullable = true
  }

  /** The manifest-answered aggregate scan: ONE partition carrying the
    * final row, folded from per-file zone maps on the driver. */
  private final class KAggScan(path: String, splits: Seq[KSplit],
      specs: Seq[KAggSpec], statsFor: Int => KSplit => Option[KeyStats])
      extends Scan with Batch {
    override def readSchema(): StructType =
      StructType(specs.map(s => StructField(s.name, s.dataType, s.nullable)))
    override def description(): String =
      s"KeyedTable[$path, pushedAggregates=${specs.map(_.name).mkString(",")}" +
        s" from ${splits.size} manifest entries]"
    override def toBatch: Batch = this
    override def planInputPartitions(): Array[InputPartition] =
      Array(KFilesPartition(path, Seq.empty))
    override def createReaderFactory(): PartitionReaderFactory = {
      def decode(dt: DataType, enc: String): Any = dt match {
        case LongType | TimestampType | TimestampNTZType =>
          java.lang.Long.valueOf(enc.toLong)
        case IntegerType | DateType => java.lang.Integer.valueOf(enc.toInt)
        case DoubleType => java.lang.Double.valueOf(enc.toDouble)
        case BooleanType => java.lang.Boolean.valueOf(enc.toBoolean)
        case StringType => UTF8String.fromBytes(
          java.util.Base64.getDecoder.decode(enc))
        case other => throw new IllegalArgumentException(other.sql)
      }
      def fold(idx: Int, dt: DataType,
          pick: KeyStats => Option[String], sign: Int): Any = {
        val vals = splits.flatMap(sp => statsFor(idx)(sp).flatMap(pick))
          .map(decode(dt, _))
        if (vals.isEmpty) null
        else vals.reduce { (a, b) =>
          val c = dt match {
            case StringType =>
              a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
            case _ => a.asInstanceOf[Comparable[Any]].compareTo(b)
          }
          if (sign * c <= 0) a else b
        }
      }
      val row: Array[Any] = specs.map {
        case KCountStar =>
          java.lang.Long.valueOf(splits.map(_.entry.rows).sum)
        case KCountCol(idx) => java.lang.Long.valueOf(splits.map(sp =>
          sp.entry.rows - statsFor(idx)(sp).map(_.nulls).getOrElse(0L)).sum)
        case KMinCol(idx, dt) => fold(idx, dt, _.minEnc, 1)
        case KMaxCol(idx, dt) => fold(idx, dt, _.maxEnc, -1)
        case KSumCol(idx, dt) =>
          // only files holding at least one non-null value contribute
          // (SQL: sum over zero non-null inputs is NULL, not 0)
          val contribs = splits.flatMap { sp =>
            val nonNull = statsFor(idx)(sp)
              .map(cs => sp.entry.rows - cs.nulls).getOrElse(0L)
            if (nonNull <= 0L) None else sp.entry.sums.lift(idx).flatten
          }
          if (contribs.isEmpty) null
          else if (dt == DoubleType)
            java.lang.Double.valueOf(contribs.map(_.toDouble).sum)
          else {
            val total = contribs.map(BigInt(_)).sum
            if (!total.isValidLong &&
                org.apache.spark.sql.internal.SQLConf.get.ansiEnabled)
              throw new ArithmeticException(
                "long overflow folding pushed SUM from manifest stats")
            java.lang.Long.valueOf(total.toLong) // non-ANSI: wraps, as sum does
          }
      }.toArray
      new PartitionReaderFactory {
        override def createReader(
            p: InputPartition): PartitionReader[InternalRow] =
          new PartitionReader[InternalRow] {
            private var done = false
            override def next(): Boolean = { val r = !done; done = true; r }
            override def get(): InternalRow =
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(row.clone())
            override def close(): Unit = ()
          }
      }
    }
  }

  /** A planned read split: one or more committed row-log files with
    * their version coordinates (one group per write bucket under
    * clustered reads, else one file). Reports its bucket as the
    * partition key when grouped. */
  private final case class KFilesPartition(path: String,
      splits: Seq[KSplit], bucket: Int = -1)
      extends InputPartition with HasPartitionKey {
    override def partitionKey(): InternalRow =
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](bucket))
  }

  private final class KScan(path: String, tableSchema: StructType,
      required: StructType, filters: Array[Filter], only: Option[String],
      manifestsPerTrigger: Int, clusteredRead: Boolean,
      asOfSeq: Option[Long], tombMode: String,
      pinned: Option[Set[String]], changes: Option[(Long, Long)],
      limitRows: Option[Int], conf: SerConf, legacyNcols: Int,
      resolve: Option[Seq[String]] = None, pointKey: Option[Any] = None)
      extends Scan with Batch with SupportsReportPartitioning
      with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {

    /** HONEST statistics for the planner, from manifest metadata: the
      * PRUNED read's exact row count and on-disk bytes (every new
      * manifest line records both), so Catalyst's join planning sees
      * a point lookup or a filtered read as the small relation it is
      * and broadcasts it — a stat-less V2 scan defaults to "unknown",
      * which forces sort-merge joins however tiny the pruned read.
      * Files from lines that predate byte recording estimate from an
      * 8-bytes-per-field floor; unknown row counts report empty
      * statistics (never a guess the planner would trust). */
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics = {
      val splits = limited(planned)
      val known = splits.forall(_.entry.rows >= 0)
      // PER-COLUMN statistics of exactly the pruned read, for the
      // cost-based optimizer: NDV from the union-merged per-file KMV
      // sketches, null counts from the zone-map lines. A column is
      // reported only when EVERY planned data split recorded it —
      // partial evidence would understate NDV and mislead join
      // reordering worse than no estimate.
      val colStats: java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
        val dataSplits = splits.filter(s => !s.entry.tombstone)
        if (known && dataSplits.nonEmpty) {
          tableSchema.fieldNames.zipWithIndex.foreach { case (n, ci) =>
            val covered = dataSplits.forall(s =>
              ci < s.entry.ndv.length && s.entry.ndv(ci).nonEmpty ||
                s.entry.rows == 0)
            if (covered) {
              val merged = new java.util.TreeSet[java.lang.Long]()
              dataSplits.foreach(s => if (ci < s.entry.ndv.length)
                s.entry.ndv(ci).foreach { h =>
                  if (merged.size < KmvK) { merged.add(h); () }
                  else if (h < merged.last()) {
                    if (merged.add(h)) { merged.pollLast(); () }
                  }
                })
              val distinct = kmvEstimate(merged)
              val nulls = dataSplits.map(s =>
                if (ci < s.entry.colStats.length)
                  s.entry.colStats(ci).nulls else 0L).sum
              // merged zone-map min/max: CBO's join estimation
              // intersects the keys' VALUE INTERVALS — without bounds
              // it treats them as disjoint and estimates ZERO rows,
              // which misorders everything. Non-string types only (a
              // boxed UTF8String would not round-trip Spark's
              // interval arithmetic).
              val dt = tableSchema.fields(ci).dataType
              val bounds: Option[(Any, Any)] =
                if (dt == StringType) None
                else {
                  val withRows = dataSplits.filter(_.entry.rows != 0)
                  val los = withRows.map(s =>
                    if (ci < s.entry.colStats.length)
                      s.entry.colStats(ci).minEnc else None)
                  val his = withRows.map(s =>
                    if (ci < s.entry.colStats.length)
                      s.entry.colStats(ci).maxEnc else None)
                  if (withRows.nonEmpty && los.forall(_.isDefined) &&
                      his.forall(_.isDefined))
                    for {
                      lo <- reduceEnc(dt, los.flatten, min = true)
                      hi <- reduceEnc(dt, his.flatten, min = false)
                    } yield (decodeStat(dt, lo), decodeStat(dt, hi))
                  else None
                }
              // EQUI-HEIGHT HISTOGRAM derived from the same per-file
              // zone maps (no new write cost): sharp after a sorted /
              // z-ordered fold, the uniform assumption otherwise.
              // Reported only when the plain bounds are (same evidence
              // rule); session kill switch for A/B
              val histEnabled = scala.util.Try(
                org.apache.spark.sql.SparkSession.active.conf
                  .get("spark.graft.histogram.enabled", "true"))
                .getOrElse("true") == "true"
              val hist =
                if (bounds.isEmpty || !histEnabled) None
                else buildFileHistogram(dt,
                  dataSplits.filter(_.entry.rows > 0).map(s => (s.entry.rows,
                    if (ci < s.entry.colStats.length) s.entry.colStats(ci)
                    else KeyStats(0L, None, None))),
                  math.max(distinct, 1L))
              m.put(Expressions.column(n),
                new org.apache.spark.sql.connector.read.colstats
                    .ColumnStatistics {
                  override def distinctCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(math.max(distinct, 1L))
                  override def nullCount(): java.util.OptionalLong =
                    java.util.OptionalLong.of(nulls)
                  override def min(): java.util.Optional[Object] =
                    bounds.map(b => java.util.Optional.of(
                      b._1.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def max(): java.util.Optional[Object] =
                    bounds.map(b => java.util.Optional.of(
                      b._2.asInstanceOf[Object]))
                      .getOrElse(java.util.Optional.empty[Object]())
                  override def histogram(): java.util.Optional[
                      org.apache.spark.sql.connector.read.colstats.Histogram] =
                    hist.map(java.util.Optional.of(_)).getOrElse(
                      java.util.Optional.empty())
                })
            }
          }
        }
        m
      }
      new org.apache.spark.sql.connector.read.Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          if (!known) java.util.OptionalLong.empty()
          else java.util.OptionalLong.of(splits.map { s =>
            if (s.entry.bytes >= 0) s.entry.bytes
            else s.entry.rows * math.max(8L, 8L * tableSchema.length)
          }.sum)
        override def numRows(): java.util.OptionalLong =
          if (!known) java.util.OptionalLong.empty()
          else java.util.OptionalLong.of(splits.map(_.entry.rows).sum)
        override def columnStats(): java.util.Map[
            org.apache.spark.sql.connector.expressions.NamedReference,
            org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
          colStats
      }
    }

    private lazy val all: Seq[KSplit] = {
      val base = changes match {
        case Some((from, to)) =>
          // batch CHANGE FEED: every committed manifest in (from, to]
          // — superseded originals included (the events happened),
          // snapshot rewrites excluded (dataChange=false, the same
          // rule the tail stream applies)
          manifests(path, conf.value)
            .filter(m => m.seq > from && m.seq <= to &&
              !m.name.startsWith("rewrite-"))
            .flatMap(m => m.entries.zipWithIndex.map {
              case (e, i) => KSplit(e, m.seq, i, m.ncols) })
        case None => liveSplits(path, conf.value, asOfSeq, pinned)
      }
      val splits = base.filter { sp =>
        tombMode match {
          case "only" => sp.entry.tombstone
          case "skip" => !sp.entry.tombstone
          case _ => true
        }
      }
      only match {
        case Some(f) =>
          require(splits.exists(_.entry.file == f),
            s"file $f is not committed in $path (${splits.size} committed)")
          splits.filter(_.entry.file == f)
        case None => splits
      }
    }

    /** Runtime (DPP-style) filters — delivered mid-execution from a
      * completed build side (e.g. the IN-set of a joined dimension's
      * keys) and folded into the same stats/bucket pruning the static
      * predicates use. Like them, runtime filters only drop FILES;
      * Spark still evaluates the join itself. */
    @volatile private var runtimeFilters: Array[Filter] = Array.empty

    override def filterAttributes(): Array[
        org.apache.spark.sql.connector.expressions.NamedReference] = {
      val keys = all.map(_.entry.key).distinct
      // the reported attribute must be resolvable against the SCAN'S
      // OUTPUT — a column-pruned read that dropped the key cannot
      // accept runtime filters on it (Spark's DPP resolves the
      // reference against readSchema and fails loudly otherwise)
      if (keys.size == 1 && keys.head.nonEmpty &&
          required.fieldNames.contains(keys.head) &&
          all.forall(_.entry.stats.isDefined))
        Array(Expressions.column(keys.head))
      else Array.empty
    }
    override def filter(fs: Array[Filter]): Unit =
      runtimeFilters = fs.filter(prunable)

    /** Manifest-stats file pruning under the STATIC pushed predicates,
      * then BLOOM pruning for equality probes on declared columns.
      * Runtime filters apply a second stage below — kept separate
      * because clustered-read GROUPS are fixed at plan time: a runtime
      * filter may empty a group's file list but must never change the
      * group set Spark already planned around. */
    private lazy val staticPlanned: Seq[KSplit] = {
      val zoned = all.filter(s => filters.forall(fl =>
        mayMatch(s.entry, tableSchema, fl)))
      if (bloomProbes.isEmpty) zoned
      else zoned.filter(s => bloomSurvives(s.entry))
    }

    /** Bloom-prunable probes from the pushed filters: (ordinal, the
      * canonical hash bytes of each literal an equality/IN predicate
      * pins). The pushed set is a conjunction, so a file whose sidecar
      * rejects EVERY literal of ANY probe cannot match. NULL literals
      * drop out (x = NULL / x IN (NULL) never match a non-null row,
      * and blooms only index non-null values). */
    private lazy val bloomProbes: Seq[(Int, Seq[Array[Byte]])] = {
      import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, In}
      filters.toSeq.flatMap {
        case EqualTo(a, v) if v != null => Some((a, Seq(v)))
        case EqualNullSafe(a, v) if v != null => Some((a, Seq(v)))
        case In(a, vs) if vs != null && vs.exists(_ != null) =>
          Some((a, vs.toSeq.filter(_ != null)))
        case _ => None
      }.flatMap { case (a, vs) =>
        val idx = tableSchema.fieldNames.indexOf(a)
        if (idx < 0) None
        else {
          val dt = tableSchema.fields(idx).dataType
          val conv = vs.map(v =>
            toCatalyst(dt, v).flatMap(cv => bloomBytes(dt, cv)))
          // every literal must convert, or the probe stands down
          if (conv.forall(_.isDefined)) Some((idx, conv.flatten))
          else None
        }
      }
    }

    /** Does the file's sidecar ADMIT the probe set? Missing sidecar /
      * undeclared column / unreadable bytes all keep the file —
      * advisory pruning is only ever allowed to say "definitely
      * absent". */
    private def bloomSurvives(e: KFileEntry): Boolean =
      bloomProbes.forall { case (idx, literals) =>
        if (!e.bloomCols.contains(idx)) true
        else loadBlooms(path, e.file, conf.value) match {
          case Some(blooms) =>
            // honesty guard: a filter that absorbed more than
            // nbits/8 values runs under 8 bits/element — its
            // false-positive rate makes "might contain" vacuous, so
            // treat the file as bloom-less instead of paying the
            // probe (happens when files grow past the maxFileRows
            // expectation the bits were sized for)
            blooms.get(idx).forall(b =>
              b.count * 8 > b.nbits || literals.exists(b.mightContain))
          case None => true
        }
      }

    private def survivesRuntime(s: KSplit): Boolean =
      runtimeFilters.forall(fl => mayMatch(s.entry, tableSchema, fl))

    private def planned: Seq[KSplit] =
      staticPlanned.filter(survivesRuntime)

    /** The pushed-limit file budget: enough files (by manifest row
      * counts) to cover k rows, in plan order — a LIMIT without an
      * ordering may return ANY k rows, and Spark's own Limit on top
      * keeps exactness (partial push). Refused at build time whenever
      * filters are present; here it additionally stands down if any
      * planned file predates row counts. Clustered-read groups never
      * pass through this (the group set is the partitioning report). */
    private def limited(splits: Seq[KSplit]): Seq[KSplit] =
      limitRows match {
        case Some(k) if splits.forall(_.entry.rows >= 0) =>
          val out = Seq.newBuilder[KSplit]
          var acc = 0L
          val it = splits.iterator
          while (it.hasNext && acc < k) {
            val s = it.next()
            out += s
            acc += math.max(0L, s.entry.rows)
          }
          out.result()
        case _ => splits
      }

    /** The ONE uniform-write-contract predicate, shared by the KGP
      * report (grouping) and the resolve-scan's partitioning: every
      * planned file proved a bucket under one (key, modulus). A
      * resolving scan folds `resolve.head`'s versions, so its contract
      * must bucket on that column (another column's buckets split them). */
    private lazy val uniformContract: Option[(String, Int)] = {
      val keys = staticPlanned.map(_.entry.key).distinct
      val moduli = staticPlanned.map(_.entry.buckets).distinct
      if (staticPlanned.nonEmpty && keys.size == 1 && keys.head.nonEmpty &&
          resolve.forall(_.head == keys.head) &&
          moduli.size == 1 && moduli.head > 0 &&
          staticPlanned.forall(_.entry.bucket >= 0))
        Some((keys.head, moduli.head))
      else None
    }

    /** Clustered-read grouping: one partition per write bucket. Gated on
      * the v2-bucketing switch — when Spark would ignore the report,
      * per-file partitions keep the higher read parallelism. */
    private lazy val grouping: Option[(String, Int, Seq[(Int, Seq[KSplit])])] =
      if (!clusteredRead ||
          !org.apache.spark.sql.internal.SQLConf.get.v2BucketingEnabled) None
      else uniformContract.map { case (key, n) =>
        (key, n, staticPlanned.groupBy(_.entry.bucket).toSeq.sortBy(_._1))
      }

    override def readSchema(): StructType = required
    override def description(): String = {
      val pruned =
        if (filters.nonEmpty) s", files=${staticPlanned.size}/${all.size}" else ""
      val clustered = grouping
        .map { case (k, n, g) => s", clustered=bucket($n,$k)×${g.size}" }
        .getOrElse("")
      s"KeyedTable[$path${only.map(f => s", file=$f").getOrElse("")}" +
        s"${asOfSeq.map(v => s", asOf=$v").getOrElse("")}" +
        s", cols=${required.fieldNames.mkString(",")}" +
        s"${if (filters.nonEmpty) s", pruneBy=${filters.mkString(";")}" else ""}" +
        s"${limitRows.map(k => s", pushedLimit=$k").getOrElse("")}" +
        pruned + clustered + "]"
    }
    override def toBatch: Batch = this

    /** Current-state resolution needs every file of a bucket in ONE
      * read partition (the reader folds the bucket's versions). With a
      * uniform proven write contract that is one partition per bucket
      * — same parallelism as a clustered read, independent of the
      * session's v2-bucketing switch; without one (mixed moduli,
      * unproven files) resolution falls back to a single partition
      * over everything — correct, and loud in the plan description. */
    private lazy val resolveGroups: Seq[(Int, Seq[KSplit])] =
      if (uniformContract.isDefined)
        staticPlanned.groupBy(_.entry.bucket).toSeq.sortBy(_._1)
      else Seq((-1, staticPlanned))

    override def planInputPartitions(): Array[InputPartition] =
      (grouping, resolve) match {
        case (Some((_, _, groups)), _) =>
          // group set fixed at plan time; runtime filters prune files
          // WITHIN groups (an emptied group reads zero rows) so the
          // reported KeyGroupedPartitioning stays exactly preserved
          groups.map { case (b, ss) =>
            KFilesPartition(path, ss.filter(survivesRuntime), b)
          }.toArray[InputPartition]
        case (None, Some(_)) =>
          resolveGroups.map { case (b, ss) =>
            KFilesPartition(path, ss.filter(survivesRuntime), b)
          }.toArray[InputPartition]
        case (None, None) =>
          limited(planned).map(s => KFilesPartition(path, Seq(s)))
            .toArray[InputPartition]
      }

    override def outputPartitioning(): Partitioning = grouping match {
      case Some((key, n, groups)) =>
        new KeyGroupedPartitioning(Array(Expressions.bucket(n, key)),
          groups.size)
      case None => new UnknownPartitioning(
        if (resolve.isDefined) resolveGroups.size else limited(planned).size)
    }

    override def createReaderFactory(): PartitionReaderFactory =
      resolve match {
        case Some(keys) => new KResolvingReaderFactory(tableSchema,
          required, keys, conf, legacyNcols, filters, pointKey)
        case None => new KReaderFactory(tableSchema, required, conf,
          legacyNcols, filters)
      }

    /** Reader-side observability: how many row-log rows were actually
      * DECODED vs skipped via block footers — the sub-file pruning's
      * receipt, aggregated into the SQL UI like any scan metric.
      * Top-level metric classes: Spark re-instantiates them
      * reflectively (zero-arg constructor) when it aggregates. */
    override def supportedCustomMetrics(): Array[
        org.apache.spark.sql.connector.metric.CustomMetric] =
      Array(new DecodedRowsMetric, new BlockPrunedRowsMetric)
    override def toMicroBatchStream(
        checkpointLocation: String): org.apache.spark.sql.connector
          .read.streaming.MicroBatchStream = {
      // the current view is a BATCH resolution (merge-on-read over a
      // pinned snapshot); a stream tails the LOG — silently streaming
      // raw versions under a view=current request would hand the
      // consumer superseded rows and marker rows as data
      require(resolve.isEmpty,
        "view=current is a batch view; tail the log (the default) and " +
          "resolve downstream, or read batches of the current view")
      new KTailStream(path, tableSchema, required, manifestsPerTrigger, conf)
    }
  }

  /** A resolving scan pinned to ONE partition key, answered on the
    * driver while Spark plans it: Spark plans a `LocalTableScanExec`,
    * and collecting that runs no job — a Cassandra coordinator merging
    * one partition's versions, not a batch job. Key pruning leaves the
    * scan at most one read partition (the key's write bucket under a
    * uniform contract, else the single fallback group), so the driver
    * does exactly the work of the one task it replaces and no
    * parallelism is lost. The statistics stay the pruned scan's, so a
    * point read joined to another relation still broadcasts. */
  private final class KPointScan(scan: KScan)
      extends org.apache.spark.sql.connector.read.LocalScan
      with org.apache.spark.sql.connector.read.SupportsReportStatistics {
    override def readSchema(): StructType = scan.readSchema()
    override def description(): String = scan.description()
    override def estimateStatistics()
        : org.apache.spark.sql.connector.read.Statistics =
      scan.estimateStatistics()
    override def rows(): Array[InternalRow] = {
      val factory = scan.createReaderFactory()
      scan.planInputPartitions().flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r).takeWhile(_.next()).map(_.get().copy()).toArray
        finally r.close()
      }
    }
  }

  /** TAIL the table as a micro-batch stream — the "keys just loaded,
    * stream them onward" half of a migration (the batch mover lands
    * commits; downstream consumes them incrementally). The OFFSET is
    * the set of consumed LOGICAL manifest names: manifests are
    * immutable and only ever added (compaction re-homes them into
    * checkpoint sections but never renames or rewrites them), so a
    * batch's delta (end-set minus start-set) is pure recomputation on
    * replay — restart-safe with no side state, and stable across
    * compaction. Admission control paces a trigger at
    * `manifestsPerTrigger` commits (one manifest = one upstream
    * commit — the natural unit; a capped trigger picks the
    * name-sorted prefix of the outstanding set, deterministic given
    * the offsets that bound it). Under Trigger.AvailableNow the
    * manifest set is SNAPSHOTTED at prepare time and the run is
    * bounded to it — commits landing mid-run wait for the next run,
    * per the AvailableNow contract. Offset JSON is the sorted name
    * list — O(#commits) control-plane metadata; `compact()` bounds
    * the LISTING cost, the offset text itself stays proportional to
    * consumed commits. */
  private final class KTailStream(path: String, tableSchema: StructType,
      required: StructType, manifestsPerTrigger: Int, conf: SerConf)
      extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit, ReadMaxFiles}

    private case class TailOffset(names: Seq[String]) extends V2Offset {
      // canonical (sorted, comma-joined): Offset equality is json
      // equality, so the same set must always serialize identically.
      // NEVER newline-join here — the checkpoint's OffsetSeqLog is
      // line-based (one line per SOURCE), so an embedded newline makes
      // one offset parse as several sources on restart
      override def json(): String = names.sorted.mkString(",")
    }
    private def parse(o: V2Offset): Set[String] =
      o.asInstanceOf[TailOffset].names.toSet

    /** Snapshot REWRITE manifests carry no new data (they re-home
      * already-delivered rows at the fence sequence — dataChange=false
      * in Delta's terms), so the tail never lists, delivers, or
      * offsets them: an in-flight tail keeps consuming the ORIGINAL
      * commits (content preserved, bytes retained for the grace
      * window) with no duplicate and no loss, and a fresh tail replays
      * the full upsert/delete history — the change feed, which is what
      * a log tail means on an upsert table. */
    private def listManifests(): Seq[String] =
      logicalNames(path, conf.value).filterNot(_.startsWith("rewrite-"))

    /** The AvailableNow bound: logical manifests present when the run
      * prepared. None outside AvailableNow (continuous/processing-time
      * triggers admit live commits, as they should). */
    @volatile private var availableNowCap: Option[Seq[String]] = None

    override def initialOffset(): V2Offset = TailOffset(Seq.empty)
    override def deserializeOffset(json: String): V2Offset =
      TailOffset(json.split(",").toSeq.filter(_.nonEmpty))
    override def getDefaultReadLimit: ReadLimit =
      ReadLimit.maxFiles(manifestsPerTrigger)
    override def latestOffset(): V2Offset =
      throw new UnsupportedOperationException(
        "admission-controlled source: latestOffset(start, limit)")
    override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
      val seen = parse(start)
      val visible = availableNowCap.getOrElse(listManifests())
      val outstanding = visible.filterNot(seen)
      val take = limit match {
        case m: ReadMaxFiles => m.maxFiles()
        case _ => outstanding.size
      }
      TailOffset((seen ++ outstanding.take(take)).toSeq)
    }
    override def reportLatestOffset(): V2Offset =
      TailOffset(availableNowCap.getOrElse(listManifests()))
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Some(listManifests())
    override def planInputPartitions(start: V2Offset,
        end: V2Offset): Array[InputPartition] = {
      val delta = (parse(end) -- parse(start)).toSeq.sorted
      // per-name resolution: the delta's standalone manifests are read
      // directly; only compacted-away names fall back to checkpoint
      // sections — a batch never pays for the whole commit history
      delta.flatMap { name =>
        val m = parseManifest(name, manifestLines(path, name, conf.value))
        m.entries.zipWithIndex.map { case (e, i) =>
          KFilesPartition(path, Seq(KSplit(e, m.seq, i, m.ncols)))
        }
      }.toArray[InputPartition]
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new KReaderFactory(tableSchema, required, conf,
        legacyNcols(readProps(path, conf.value), tableSchema))
    override def commit(end: V2Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** The streaming change-data-feed source's scan plumbing — batch
    * reads refuse (the batch spelling is `changesFromSeq`/`changesToSeq`
    * or [[KeyedTableOps.changeDataFeed]]). */
  private final class KCdfScanBuilder(path: String, dataSchema: StructType,
      pk: String, perTrigger: Int, conf: SerConf) extends ScanBuilder {
    override def build(): Scan = new Scan {
      override def readSchema(): StructType =
        StructType(dataSchema.fields ++ cdfFields)
      override def description(): String =
        s"KeyedTableChangeFeed[$path, key=$pk]"
      override def toBatch: Batch = throw new UnsupportedOperationException(
        "readChangeFeed is a streaming read; batch change feeds spell " +
          "as KeyedTableOps.changeDataFeed(from, to)")
      override def toMicroBatchStream(checkpointLocation: String)
          : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
        new KCdfStream(path, dataSchema, pk, perTrigger, conf)
    }
  }

  /** Streaming CHANGE DATA FEED over the keyed table — Delta's
    * `readChangeFeed` spelling: each micro-batch delivers the commits'
    * change events classified `insert` / `update_preimage` /
    * `update_postimage` / `delete` with their `_commit_version`, the
    * exact rows [[KeyedTableOps.changeDataFeed]] computes for the same
    * slice. Where the batch feed pays one lag-window SHUFFLE of the
    * slice, this source classifies WITHOUT any exchange: a micro-batch
    * plans one bucket-complete partition per write bucket holding the
    * bucket's slice files plus its preimage-state files, and the
    * reader resolves and classifies locally — per-key state and slice
    * co-locate by construction because both were written clustered.
    *
    * OFFSET = (stateSeq, consumed logical manifest names). Names make
    * replay pure recomputation (same contract as the raw tail);
    * `stateSeq` is the version horizon the NEXT batch's preimage state
    * resolves as-of — recorded in the offset so a restart re-derives
    * an interrupted batch bit-identically. Preimage state reads the
    * LIVE as-of listing (snapshot folds keep it the table's compacted
    * size, not its log size, the same retention contract as Delta's
    * CDF); memory per partition is O(slice keys), never O(bucket keys)
    * — state rows for keys outside the batch's slice are dropped on
    * sight. Commits are admitted in SEQUENCE order so classification
    * state advances monotonically; a straggler commit (reserved low,
    * published late) classifies against newer state and contributes
    * only what last-write-wins says it changed: nothing. */
  private final class KCdfStream(path: String, dataSchema: StructType,
      pk: String, manifestsPerTrigger: Int, conf: SerConf)
      extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
      with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
      with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
    import org.apache.spark.sql.connector.read.streaming.{Offset => V2Offset, ReadLimit, ReadMaxFiles}

    private case class CdfOffset(stateSeq: Long, names: Seq[String])
        extends V2Offset {
      // canonical single line (the OffsetSeqLog is line-based)
      override def json(): String =
        s"$stateSeq;${names.sorted.mkString(",")}"
    }
    private def parse(o: V2Offset): CdfOffset = o.asInstanceOf[CdfOffset]

    /** Deliverable commits: every logical manifest except snapshot
      * rewrites (dataChange=false — they re-home delivered rows). */
    private def listAll(): Seq[KManifest] =
      manifests(path, conf.value).filterNot(_.name.startsWith("rewrite-"))

    @volatile private var availableNowCap: Option[Seq[KManifest]] = None

    override def initialOffset(): V2Offset = CdfOffset(0L, Seq.empty)
    override def deserializeOffset(json: String): V2Offset = {
      val i = json.indexOf(';')
      CdfOffset(json.take(i).toLong,
        json.drop(i + 1).split(",").toSeq.filter(_.nonEmpty))
    }
    override def getDefaultReadLimit: ReadLimit =
      ReadLimit.maxFiles(manifestsPerTrigger)
    override def latestOffset(): V2Offset =
      throw new UnsupportedOperationException(
        "admission-controlled source: latestOffset(start, limit)")
    override def latestOffset(start: V2Offset, limit: ReadLimit): V2Offset = {
      val s = parse(start)
      val seen = s.names.toSet
      val visible = availableNowCap.getOrElse(listAll())
      // SEQUENCE-ordered admission (see class doc)
      val outstanding = visible.filterNot(m => seen(m.name)).sortBy(_.seq)
      val take = limit match {
        case m: ReadMaxFiles => m.maxFiles()
        case _ => outstanding.size
      }
      val admitted = outstanding.take(take)
      CdfOffset(admitted.map(_.seq).foldLeft(s.stateSeq)(math.max),
        (seen ++ admitted.map(_.name)).toSeq)
    }
    override def reportLatestOffset(): V2Offset = {
      val visible = availableNowCap.getOrElse(listAll())
      CdfOffset(visible.map(_.seq).foldLeft(0L)(math.max),
        visible.map(_.name))
    }
    override def prepareForTriggerAvailableNow(): Unit =
      availableNowCap = Some(listAll())

    override def planInputPartitions(start: V2Offset,
        end: V2Offset): Array[InputPartition] = {
      val s = parse(start)
      val deltaNames = parse(end).names.toSet -- s.names.toSet
      val slice = manifests(path, conf.value)
        .filter(m => deltaNames(m.name)).sortBy(_.seq)
        .flatMap(m => m.entries.zipWithIndex.map {
          case (e, i) => KSplit(e, m.seq, i, m.ncols) })
      if (slice.isEmpty) return Array.empty
      // preimage state as-of the START offset's horizon: the resolved
      // current view's inputs, one bounded listing however long the
      // log (folds supersede history)
      val state =
        if (s.stateSeq <= 0L) Seq.empty[KSplit]
        else liveSplits(path, conf.value, Some(s.stateSeq))
      val entries = slice ++ state
      val keyCols = entries.map(_.entry.key).distinct
      val moduli = entries.map(_.entry.buckets).distinct
      val uniform = keyCols.size == 1 && keyCols.head.nonEmpty &&
        moduli.size == 1 && moduli.head > 0 &&
        entries.forall(_.entry.bucket >= 0)
      if (uniform) {
        val sliceB = slice.groupBy(_.entry.bucket)
        val stateB = state.groupBy(_.entry.bucket)
        // buckets with no slice event need no partition: their state
        // cannot produce a change row
        sliceB.keySet.toSeq.sorted.map { b =>
          KCdfPartition(path, stateB.getOrElse(b, Seq.empty), sliceB(b))
        }.toArray[InputPartition]
      } else Array(KCdfPartition(path, state, slice))
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new KCdfReaderFactory(dataSchema, pk, conf,
        legacyNcols(readProps(path, conf.value), dataSchema))
    override def commit(end: V2Offset): Unit = ()
    override def stop(): Unit = ()
  }

  /** One CDF micro-batch read unit: a bucket's slice files (the
    * batch's change events, in (seq, fileIdx) order) plus its preimage
    * state files (the live as-of listing the classification resolves
    * against). */
  private final case class KCdfPartition(path: String,
      state: Seq[KSplit], slice: Seq[KSplit]) extends InputPartition

  /** Classifies one bucket's change events against its resolved
    * preimage state — the executor-side half of [[KCdfStream]]. Reads
    * the slice first (its natural read order IS version order: splits
    * sorted by (seq, fileIdx), rows by ordinal), keeps only the
    * slice's KEYS from the state files, then replays the events in
    * version order emitting 0–2 classified rows each. */
  private final class KCdfReaderFactory(dataSchema: StructType,
      pk: String, conf: SerConf, legacy: Int)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[KCdfPartition]
      val extended = StructType(dataSchema.fields ++
        Seq(MetaSeq, MetaPos, MetaTombstone).map(n =>
          versionFields.find(_.name == n).get))
      val dataLen = dataSchema.length
      val seqIdx = dataLen
      val posIdx = dataLen + 1
      val tombIdx = dataLen + 2
      val pkIdx = dataSchema.fieldIndex(pk)
      val pkType = dataSchema.fields(pkIdx).dataType
      def keyOf(r: InternalRow): Any =
        if (r.isNullAt(pkIdx)) null else groupingKey(r.get(pkIdx, pkType))
      def later(s: Long, p0: Long, s1: Long, p1: Long): Boolean =
        s > s1 || (s == s1 && p0 > p1)
      def inner(splits: Seq[KSplit]): PartitionReader[InternalRow] =
        new KReaderFactory(dataSchema, extended, conf, legacy)
          .createReader(KFilesPartition(p.path, splits))

      new PartitionReader[InternalRow] {
        private var out: Iterator[InternalRow] = _
        private var cur: InternalRow = _

        private def emit(src: InternalRow, ct: String,
            version: Long): InternalRow = {
          val vals = new Array[Any](dataLen + 2)
          var i = 0
          while (i < dataLen) {
            vals(i) = src.get(i, dataSchema(i).dataType); i += 1
          }
          vals(dataLen) = UTF8String.fromString(ct)
          vals(dataLen + 1) = version
          new org.apache.spark.sql.catalyst.expressions
            .GenericInternalRow(vals)
        }

        private def classified(): Iterator[InternalRow] = {
          // 1. the batch's events, buffered in version order
          val buf = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
          val sl = inner(p.slice)
          try while (sl.next()) buf += sl.get().copy() finally sl.close()
          if (buf.isEmpty) return Iterator.empty
          val sliceKeys = buf.iterator.map(keyOf).toSet
          // 2. preimage state, resolved last-write-wins, slice keys
          //    only: key -> (live?, version, values)
          val state = scala.collection.mutable.HashMap
            .empty[Any, (Boolean, Long, Long, InternalRow)]
          if (p.state.nonEmpty) {
            val st = inner(p.state)
            try while (st.next()) {
              val r = st.get()
              val k = keyOf(r)
              if (sliceKeys.contains(k)) {
                val sq = r.getLong(seqIdx)
                val ps = r.getLong(posIdx)
                val keep = state.get(k) match {
                  case Some((_, s0, p0, _)) => later(sq, ps, s0, p0)
                  case None => true
                }
                if (keep) {
                  val tomb = r.getBoolean(tombIdx)
                  state(k) = (!tomb, sq, ps, if (tomb) null else r.copy())
                }
              }
            } finally st.close()
          }
          // 3. replay the events against the state
          buf.iterator.flatMap { r =>
            val k = keyOf(r)
            val sq = r.getLong(seqIdx)
            val ps = r.getLong(posIdx)
            val prev = state.get(k)
            if (prev.exists { case (_, s0, p0, _) =>
                !later(sq, ps, s0, p0) })
              Iterator.empty // straggler below the state horizon: no-op
            else if (r.getBoolean(tombIdx)) {
              val events = prev match {
                case Some((true, _, _, old)) =>
                  Iterator.single(emit(old, "delete", sq))
                case _ => Iterator.empty
              }
              state(k) = (false, sq, ps, null)
              events
            } else {
              val events = prev match {
                case Some((true, _, _, old)) => Iterator(
                  emit(old, "update_preimage", sq),
                  emit(r, "update_postimage", sq))
                case _ => Iterator.single(emit(r, "insert", sq))
              }
              state(k) = (true, sq, ps, r)
              events
            }
          }
        }

        override def next(): Boolean = {
          if (out == null) out = classified()
          if (out.hasNext) { cur = out.next(); true } else false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
      }
    }
  }

  /** Decodes the length-framed row-log. `full` is the frame plan (the
    * committed schema shape — every field's flag+value is walked);
    * `required` is what gets MATERIALIZED: skipped fixed-width fields
    * are discarded reads, skipped strings are skipped bytes that
    * never allocate. `required` may also name METADATA columns
    * (_seq/_pos/_tombstone/_file) — filled from the split's version
    * coordinates, no extra bytes read. A partition may chain several
    * files (clustered reads group a bucket's files); EOF at a row
    * boundary rolls to the next file. */
  private final class KReaderFactory(full: StructType,
      required: StructType, conf: SerConf, legacyNcols: Int,
      filters: Array[Filter] = Array.empty)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] = {
      val p = partition.asInstanceOf[KFilesPartition]
      new PartitionReader[InternalRow] {
        private val f = fs(p.path, conf.value)
        private var fileIdx = -1
        private var raw: org.apache.hadoop.fs.FSDataInputStream = _
        private var in: DataInputStream = _
        private val row = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(required.length)

        // segments of the CURRENT file still to read: (byte offset,
        // start ordinal, row count); count -1 = EOF-bounded (a file
        // with no block footer reads sequentially to its end)
        private var segs: List[(Long, Long, Long)] = Nil
        private var rowsLeft = -1L

        // task metrics: rows actually decoded vs rows the block
        // footers let the reader SKIP without touching their bytes
        private var decoded = 0L
        private var prunedByBlocks = 0L
        override def currentMetricsValues(): Array[
            org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
          def m(n: String, v: Long) =
            new org.apache.spark.sql.connector.metric.CustomTaskMetric {
              override def name(): String = n
              override def value(): Long = v
            }
          Array(m("decodedRows", decoded),
            m("blockPrunedRows", prunedByBlocks))
        }

        // per full-schema field: the required-row slot it lands in
        // (-1 = walk the frame, materialize nothing)
        private val outSlot: Array[Int] = full.fields.map(fd =>
          required.fieldNames.indexOf(fd.name))

        // metadata slots (-1 = not requested); seq/tombstone/file are
        // constant per split, pos advances per row
        private val seqSlot = required.fieldNames.indexOf(MetaSeq)
        private val posSlot = required.fieldNames.indexOf(MetaPos)
        private val tombSlot = required.fieldNames.indexOf(MetaTombstone)
        private val fileSlot = required.fieldNames.indexOf(MetaFile)
        private var posBase = 0L
        private var ordinal = 0L

        private def skipFully(n: Int): Unit = {
          var left = n.toLong
          while (left > 0) {
            val s = in.skip(left)
            if (s <= 0) { in.readByte(); left -= 1 } // forces EOF check
            else left -= s
          }
        }

        private val fieldReaders: Array[DataInputStream => Any] =
          full.fields.map { fd =>
            fd.dataType match {
              case LongType | TimestampType | TimestampNTZType =>
                (i: DataInputStream) => java.lang.Long.valueOf(i.readLong())
              case IntegerType | DateType =>
                (i: DataInputStream) => java.lang.Integer.valueOf(i.readInt())
              case DoubleType => (i: DataInputStream) => java.lang.Double.valueOf(i.readDouble())
              case BooleanType => (i: DataInputStream) => java.lang.Boolean.valueOf(i.readBoolean())
              case StringType => (i: DataInputStream) => {
                val n = i.readInt()
                val b = new Array[Byte](n)
                i.readFully(b)
                UTF8String.fromBytes(b)
              }
              case other => throw new IllegalArgumentException(other.sql)
            }
          }

        private val fieldSkippers: Array[() => Unit] =
          full.fields.map { fd =>
            fd.dataType match {
              case LongType | DoubleType | TimestampType |
                   TimestampNTZType => () => skipFully(8)
              case IntegerType | DateType => () => skipFully(4)
              case BooleanType => () => skipFully(1)
              case StringType => () => skipFully(in.readInt())
              case other => throw new IllegalArgumentException(other.sql)
            }
          }

        // fields the CURRENT file was framed with (schema-evolution
        // prefix); required slots beyond it are NULL-filled per file
        private var frame = full.length

        /** Parse a block-footer file's index and keep only the blocks
          * the pushed filters admit, coalescing ADJACENT survivors so
          * a contiguous run costs one seek. Filters only ever prune —
          * they stay residual, Spark re-evaluates them per row. */
        private def plannedSegs(entry: KFileEntry,
            fileLen: Long): List[(Long, Long, Long)] = {
          raw.seek(fileLen - 16)
          val tail = new DataInputStream(raw)
          val flen = tail.readLong()
          val magic = tail.readLong()
          require(magic == BlockMagic && flen > 0 && flen <= fileLen - 16,
            s"corrupt block footer in ${entry.file}: len=$flen magic=$magic")
          raw.seek(fileLen - 16 - flen)
          val body = new Array[Byte](flen.toInt)
          new DataInputStream(raw).readFully(body)
          val blocks = new String(body, StandardCharsets.UTF_8)
            .split("\n").toList.filter(_.nonEmpty).map { l =>
              val q = l.split(":", 4)
              (q(0).toLong, q(1).toLong, q(2).toLong, parseColStats(q(3)))
            }
          val (kept, dropped) = blocks.partition(b =>
            filters.forall(fl => blockAdmits(b._4, full, fl)))
          prunedByBlocks += dropped.map(_._3).sum
          // coalesce adjacent survivors (adjacent = consecutive
          // ordinals) into single row-counted segments
          kept.foldLeft(List.empty[(Long, Long, Long)]) {
            case ((off, ord, n) :: rest, b) if ord + n == b._2 =>
              (off, ord, n + b._3) :: rest
            case (acc, b) => (b._1, b._2, b._3) :: acc
          }.reverse
        }

        private def nextFile(): Boolean = {
          closeStreams()
          fileIdx += 1
          if (fileIdx >= p.splits.size) false
          else {
            val s = p.splits(fileIdx)
            raw = f.open(new Path(s"${p.path}/data", s.entry.file))
            if (seqSlot >= 0) row.update(seqSlot, s.seq)
            if (tombSlot >= 0) row.update(tombSlot, s.entry.tombstone)
            if (fileSlot >= 0)
              row.update(fileSlot, UTF8String.fromString(s.entry.file))
            posBase = s.fileIdx.toLong << 40
            // a file framed WIDER than this scan's schema means the
            // handle predates a schema evolution a later commit used:
            // decoding its prefix would desync the byte stream into
            // garbage rows — fail loudly, like the write-side shape
            // checks (re-load the table to pick up the new schema)
            require(s.ncols <= full.length,
              s"file ${s.entry.file} was framed with ${s.ncols} columns " +
                s"but this scan knows ${full.length} — the table evolved " +
                "after this handle was created; re-load it")
            frame = if (s.ncols >= 0) s.ncols else legacyNcols
            // columns the file predates stay null for every row of it
            var j = frame
            while (j < outSlot.length) {
              val slot = outSlot(j)
              if (slot >= 0) row.update(slot, null)
              j += 1
            }
            segs =
              if (!s.entry.blocks) List((0L, 0L, -1L))
              else {
                val len =
                  if (s.entry.bytes >= 0) s.entry.bytes
                  else f.getFileStatus(
                    new Path(s"${p.path}/data", s.entry.file)).getLen
                plannedSegs(s.entry, len)
              }
            nextSeg() || nextFile()
          }
        }

        private def nextSeg(): Boolean = segs match {
          case (off, ord, n) :: rest =>
            segs = rest
            raw.seek(off)
            // fresh buffer after every seek — a previous wrapper may
            // have read ahead past the segment boundary
            in = new DataInputStream(
              new java.io.BufferedInputStream(raw, 1 << 16))
            ordinal = ord
            rowsLeft = n
            true
          case Nil => false
        }

        private def closeStreams(): Unit = {
          if (raw != null) { raw.close(); raw = null }
          in = null
        }

        override def next(): Boolean = {
          while (true) {
            if (in == null && !nextFile()) return false
            if (rowsLeft == 0L) {
              if (!nextSeg() && !nextFile()) return false
            } else {
              // length-framed rows have no separator. EOF-bounded
              // segments (no footer) end at a clean row boundary;
              // row-counted segments must never hit EOF mid-count
              val first = try in.read()
                catch { case _: java.io.EOFException => -1 }
              if (first < 0) {
                require(rowsLeft < 0L,
                  s"row-log ended with $rowsLeft counted rows unread")
                closeStreams()
              } else {
                var i = 0
                while (i < frame) {
                  val isNull = if (i == 0) first == 1 else in.readBoolean()
                  val slot = outSlot(i)
                  if (isNull) { if (slot >= 0) row.update(slot, null) }
                  else if (slot >= 0) row.update(slot, fieldReaders(i)(in))
                  else fieldSkippers(i)()
                  i += 1
                }
                if (posSlot >= 0) row.update(posSlot, posBase | ordinal)
                ordinal += 1L
                if (rowsLeft > 0L) rowsLeft -= 1L
                decoded += 1L
                return true
              }
            }
          }
          false
        }
        override def get(): InternalRow = row
        override def close(): Unit = closeStreams()
      }
    }
  }

  /** MERGE-ON-READ for `view=current` scans ([[KeyedTableOps.latest]],
    * row-level operations): resolves the
    * table's CURRENT state inside the reader, per write bucket —
    * the same read-side model Iceberg applies equality deletes with.
    * Each partition holds EVERY file of one bucket (the scan plans
    * bucket-complete groups), so resolution is local:
    *
    *  - one pass over the bucket's rows keeps the highest
    *    (_seq, _pos) NON-tombstone version per FULL primary key, and
    *    the highest tombstone version per PARTITION key (the range-
    *    tombstone cut);
    *  - at emit, a winner survives iff its version outranks its
    *    partition's cut — exactly [[KeyedTableOps.latestOver]]'s
    *    semantics, imperatively, because a leaf scan cannot express
    *    the aggregate.
    *
    * MEMORY: the winner map holds one row per LIVE key of the bucket
    * — the bucket's compacted size, not its log size. That is the
    * same state [[KeyedTableOps.latestOver]]'s hash aggregate would
    * hold, un-spillable here; size write buckets so a bucket's
    * live keys fit an executor (the write contract already scales
    * `writePartitions` with the table). Inner-reader rows are safe to
    * retain: the decode allocates fresh values per row and
    * `row.copy()` captures them; winners copy ONLY on replacement, so
    * a fully-sorted bucket copies each key once. */
  private final class KResolvingReaderFactory(full: StructType,
      required: StructType, keys: Seq[String], conf: SerConf,
      legacyNcols: Int, filters: Array[Filter] = Array.empty,
      // a point read's partition key: only its versions and cuts are kept
      pointKey: Option[Any] = None)
      extends PartitionReaderFactory {
    override def createReader(
        partition: InputPartition): PartitionReader[InternalRow] = {
      // the INTERNAL read schema: the requested columns, plus whatever
      // key/version columns resolution needs that were not requested
      val need = keys.filterNot(required.fieldNames.contains)
        .map(k => full.fields(full.fieldIndex(k))) ++
        Seq(MetaSeq, MetaPos, MetaTombstone)
          .filterNot(required.fieldNames.contains)
          .map(n => versionFields.find(_.name == n).get)
      val extended = StructType(required.fields ++ need)
      val inner = new KReaderFactory(full, extended, conf, legacyNcols,
        filters).createReader(partition)
      val keyIdxs = keys.map(k => extended.fieldNames.indexOf(k)).toArray
      val keyTypes = keys.map(k =>
        full.fields(full.fieldIndex(k)).dataType).toArray
      val pkIdx = keyIdxs.head
      val pkType = keyTypes.head
      val seqIdx = extended.fieldNames.indexOf(MetaSeq)
      val posIdx = extended.fieldNames.indexOf(MetaPos)
      val tombIdx = extended.fieldNames.indexOf(MetaTombstone)
      val width = required.length
      // keys compare and emit as the declarative view's aggregate
      // groups them: the two zeros and every NaN are one key each
      val keyOut = required.fieldNames.map(keys.contains)
      def keyVal(r: InternalRow, i: Int, dt: DataType): Any =
        if (r.isNullAt(i)) null else groupingKey(r.get(i, dt))
      val point = pointKey.map(groupingKey)

      new PartitionReader[InternalRow] {
        private var it: Iterator[InternalRow] = _
        private var cur: InternalRow = _

        private def later(s: Long, p: Long, s0: Long, p0: Long): Boolean =
          s > s0 || (s == s0 && p > p0)

        private def resolved(): Iterator[InternalRow] = {
          // full key -> (seq, pos, row); partition key -> tombstone cut
          val winners = scala.collection.mutable.HashMap
            .empty[Seq[Any], (Long, Long, InternalRow)]
          val cuts = scala.collection.mutable.HashMap
            .empty[Any, (Long, Long)]
          try {
            while (inner.next()) {
              val r = inner.get()
              val s = r.getLong(seqIdx)
              val p = r.getLong(posIdx)
              if (point.exists(_ != keyVal(r, pkIdx, pkType))) ()
              else if (r.getBoolean(tombIdx)) {
                val pk = keyVal(r, pkIdx, pkType)
                val keep = cuts.get(pk) match {
                  case Some((s0, p0)) => later(s, p, s0, p0)
                  case None => true
                }
                if (keep) cuts(pk) = (s, p)
              } else {
                val kv = new Array[Any](keyIdxs.length)
                var i = 0
                while (i < keyIdxs.length) {
                  kv(i) = keyVal(r, keyIdxs(i), keyTypes(i)); i += 1
                }
                val k = kv.toSeq
                val keep = winners.get(k) match {
                  case Some((s0, p0, _)) => later(s, p, s0, p0)
                  case None => true
                }
                if (keep) winners(k) = (s, p, r.copy())
              }
            }
          } finally inner.close()
          winners.iterator.collect {
            case (k, (s, p, row)) if cuts.get(k.head).forall {
              case (cs, cp) => later(s, p, cs, cp)
            } =>
              // trim the internal columns back off: Spark reads this
              // scan at readSchema() width
              val out = new Array[Any](width)
              var i = 0
              while (i < width) {
                val v = row.get(i, required(i).dataType)
                out(i) = if (keyOut(i)) normFloating(v) else v
                i += 1
              }
              new org.apache.spark.sql.catalyst.expressions
                .GenericInternalRow(out)
          }
        }

        override def next(): Boolean = {
          if (it == null) it = resolved()
          if (it.hasNext) { cur = it.next(); true } else false
        }
        override def get(): InternalRow = cur
        override def close(): Unit = ()
        override def currentMetricsValues(): Array[
            org.apache.spark.sql.connector.metric.CustomTaskMetric] =
          inner.currentMetricsValues()
      }
    }
  }
}
