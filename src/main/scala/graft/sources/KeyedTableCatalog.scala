package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util

/** Path-addressed V2 catalog for [[KeyedTable]]s — the piece that
  * turns the sink's write-side clustering into a read-side plan
  * property. Spark resolves a scan-reported
  * `KeyGroupedPartitioning(bucket(N, key))` only through the loading
  * catalog's FunctionCatalog (a path-based `format(...).load(...)`
  * relation has none, so its report is silently dropped); this
  * catalog supplies both halves:
  *
  *  - `loadTable` maps the identifier's name verbatim to a table
  *    path (`spark.table("graft_keyed.`/path/to/t`")`) and loads it
  *    with clustered reads enabled — one read partition per proven
  *    write bucket, so a key-grouped aggregate or storage-partitioned
  *    join downstream plans NO Exchange (the clustering the write
  *    already paid for is reused, the declarative analogue of reading
  *    Cassandra token ranges aligned to partition keys).
  *  - `loadFunction("bucket")` binds pmod(murmur3(key, 42), n) — the
  *    EXACT function Spark's hashpartitioning applies and the one the
  *    writer proves each file against, so a partition's reported
  *    bucket and the function's verdict can never disagree.
  *
  * Register once per session:
  * `spark.sql.catalog.graft_keyed = graft.sources.KeyedTableCatalog`.
  */
class KeyedTableCatalog extends TableCatalog with FunctionCatalog
    with ProcedureCatalog {
  private var name0: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = name0 = name
  override def name(): String = name0

  override def loadTable(ident: Identifier): Table =
    metadataTable(ident).getOrElse(resolve(ident, asOfSeq = None))

  /** METADATA TABLES — the table's own commit log and live file set as
    * queryable relations (Iceberg's `db.table.history` spelling):
    * `SELECT * FROM graft_keyed.`/path`.history` / `...`.files`.
    * The rows are the SAME driver-read manifest listing every scan
    * plan already pays for — bounded metadata by the format's design
    * (compaction folds the log), never a data scan — served as a
    * LocalScan. A real table stored at a path literally named
    * `history`/`files` still wins: the metadata reading only applies
    * when the name does not resolve as a table and the namespace
    * head does. */
  private def metadataTable(ident: Identifier): Option[Table] = {
    val meta = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (ident.namespace().length != 1 ||
        !KeyedTableCatalog.MetadataNames(meta)) return None
    val base = ident.namespace()(0)
    val conf = KeyedTable.hadoopConf()
    if (KeyedTable.readSchemaFile(ident.name(), conf).isDefined) return None
    if (KeyedTable.readSchemaFile(base, conf).isEmpty) return None
    Some(new KeyedTableCatalog.MetadataTable(base, meta))
  }

  /** Time travel: `SELECT ... FROM graft_keyed.`/path` VERSION AS OF n`
    * reads the table as of commit sequence `n` — only manifests with
    * seq <= n are visible, and a snapshot rewrite above the fence does
    * not hide the original commits (retained until vacuum's grace
    * expires). Historical loads are read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val seq = try version.toLong catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(
        s"KeyedTable versions are commit sequences; got '$version'") }
    resolve(ident, asOfSeq = Some(seq))
  }

  /** `TIMESTAMP AS OF t`: Spark hands the instant in MICROseconds;
    * it resolves through the manifest commit timestamps to the
    * highest sequence committed at or before it (Delta's rule), then
    * reads like `VERSION AS OF` — an instant before the first commit
    * reads the empty table. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val seq = KeyedTable.resolveTsToSeq(ident.name(),
      Math.floorDiv(timestampMicros, 1000L), KeyedTable.hadoopConf())
    resolve(ident, asOfSeq = Some(seq))
  }

  /** ONE resolution for current and versioned loads — a table property
    * or inferred contract must mean the same thing on both. A table
    * created by a sink write carries no `_props`: the handle INFERS its
    * write contract from the live manifests (every entry records key +
    * modulus, see [[KeyedTable.declaredContract]]) so a catalog INSERT
    * INTO clusters like the writes before it — guessed defaults would
    * mix moduli/keys across commits and silently break clustered reads
    * forever. */
  private def resolve(ident: Identifier, asOfSeq: Option[Long]): Table = {
    val path = ident.name()
    val schema = KeyedTable.readSchemaFile(path, KeyedTable.hadoopConf())
      .getOrElse(throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident))
    new KeyedTable.KTable(path, schema, keyCol = None, writePartitions = None,
      clusteredRead = true, asOfSeq = asOfSeq)
  }

  // the namespace is the filesystem: the identifier's name IS the
  // table path, so enumeration is not meaningful
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  /** SQL DDL: `CREATE TABLE graft_keyed.`/path/to/t` (k BIGINT, ...)
    * TBLPROPERTIES ('key'='k', 'writePartitions'='8')` — persists the
    * (all-nullable) schema plus the write contract, so later
    * `INSERT INTO` / `SELECT` statements and the V2KeyedTableSink
    * agree on key clustering without re-declaring it. */
  override def createTable(ident: Identifier, columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    require(partitions.isEmpty,
      "KeyedTable clusters by its key column; PARTITIONED BY is not supported")
    val path = ident.name()
    val conf = KeyedTable.hadoopConf()
    if (KeyedTable.readSchemaFile(path, conf).isDefined)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    val schema = org.apache.spark.sql.types.StructType(
      columns.map(c => org.apache.spark.sql.types
        .StructField(c.name(), c.dataType(), nullable = true)))
    val key = Option(properties.get("key")).getOrElse(schema.fieldNames.head)
    require(schema.fieldNames.contains(key),
      s"TBLPROPERTIES key '$key' is not a column of $schema")
    // validate at CREATE, not at first use: a malformed value written
    // here would make every later load of the table throw
    val parts = Option(properties.get("writePartitions")).map { v =>
      val n = try v.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"TBLPROPERTIES writePartitions='$v' is not an integer") }
      require(n > 0, s"TBLPROPERTIES writePartitions=$n must be positive")
      v
    }
    // full primary key: TBLPROPERTIES('clustering'='a,b') declares the
    // clustering columns so latest views and rewrites resolve per full
    // key tuple, never folding a composite table to one row per
    // partition key
    val clustering = Option(properties.get("clustering")).map { v =>
      val cols = KeyedTableOps.parseClustering(v)
      cols.foreach(c => require(schema.fieldNames.contains(c),
        s"TBLPROPERTIES clustering column '$c' is not a column of $schema"))
      require(!cols.contains(key),
        s"clustering columns $cols must not repeat the key '$key'")
      cols.mkString(",")
    }
    // merge discipline (lww | counter) — validated here so a typo'd
    // value can never silently run a corrupting LWW fold on a counter
    // table later
    val merge = Option(properties.get("merge")).map { v =>
      require(Set("lww", "counter")(v),
        s"TBLPROPERTIES merge='$v' must be lww|counter")
      v
    }
    KeyedTable.initTable(path, schema, conf)
    val props = Seq("key" -> key) ++ parts.map("writePartitions" -> _) ++
      clustering.map("clustering" -> _) ++ merge.map("merge" -> _)
    KeyedTable.writeProps(path, conf, props.toMap)
    loadTable(ident)
  }

  /** SCHEMA + CONTRACT EVOLUTION through SQL:
    *
    *  - `ALTER TABLE graft_keyed.`/p` ADD COLUMNS (x BIGINT, ...)`
    *    appends nullable columns; reads NULL-fill them on files
    *    committed before the change.
    *  - `ALTER TABLE ... SET TBLPROPERTIES('sortOrder'='a,b' |
    *    'zorder(a,b)', 'bloomColumns'='h', 'clustering'='c',
    *    'writePartitions'='8', 'merge'='lww|counter')` routes each
    *    declaration through the SAME validated declare* operation the
    *    programmatic surface uses — SQL and API spellings can never
    *    drift. `UNSET TBLPROPERTIES` removes the optional
    *    declarations (sortOrder / bloomColumns).
    *
    * Every other alteration (type change, rename, drop, reposition,
    * changing the key) is rejected — it would mis-frame the binary
    * decode of existing files or silently re-route buckets (bucket
    * evolution spells `CALL graft_keyed.rebucket(...)`, which folds). */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val path = ident.name()
    val conf = KeyedTable.hadoopConf()
    val adds = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "KeyedTable columns are flat; nested ADD COLUMNS is not supported")
        require(a.position() == null,
          "KeyedTable evolution appends columns; FIRST/AFTER is not supported")
        adds += org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      case sp: TableChange.SetProperty =>
        setDeclaredProperty(path, conf, sp.property, sp.value)
      case rp: TableChange.RemoveProperty =>
        require(Set("sortOrder", "bloomColumns")(rp.property),
          s"UNSET TBLPROPERTIES supports the optional declarations " +
            s"sortOrder/bloomColumns; '${rp.property}' is load-bearing")
        KeyedTable.updateProps(path, conf)(_ - rp.property)
      case other => throw new UnsupportedOperationException(
        s"KeyedTable supports ADD COLUMNS and SET/UNSET TBLPROPERTIES " +
          s"only; got $other")
    }
    val fields = adds.result()
    if (fields.nonEmpty) KeyedTable.addColumns(path, fields)
    loadTable(ident)
  }

  private def setDeclaredProperty(path: String,
      conf: org.apache.hadoop.conf.Configuration,
      key: String, value: String): Unit = key match {
    case "sortOrder" if value.startsWith("zorder(") && value.endsWith(")") =>
      KeyedTableOps.declareZOrder(path, KeyedTableOps.parseClustering(
        value.stripPrefix("zorder(").stripSuffix(")")))
    case "sortOrder" =>
      KeyedTableOps.declareSortOrder(path,
        KeyedTableOps.parseClustering(value))
    case "bloomColumns" =>
      KeyedTableOps.declareBloomColumns(path,
        KeyedTableOps.parseClustering(value))
    case "clustering" =>
      KeyedTableOps.declareClustering(path,
        KeyedTableOps.parseClustering(value))
    case "writePartitions" =>
      val n = try value.toInt catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"writePartitions='$value' is not an integer") }
      require(n > 0, s"writePartitions=$n must be positive")
      KeyedTable.updateProps(path, conf)(_ + ("writePartitions" -> value))
    case "merge" =>
      require(Set("lww", "counter")(value),
        s"merge='$value' must be lww|counter")
      KeyedTable.updateProps(path, conf)(_ + ("merge" -> value))
    case other => throw new IllegalArgumentException(
      s"unknown or immutable table property '$other' (the key column " +
        "is immutable; bucket-count changes spell " +
        "CALL graft_keyed.rebucket(path, n), which folds the live set " +
        "to the new modulus)")
  }

  /** SQL MAINTENANCE through Spark 4's native `CALL` statement:
    * `CALL graft_keyed.compact('/p')`,
    * `CALL graft_keyed.vacuum('/p', 0)`,
    * `CALL graft_keyed.rebucket('/p', 16)` — each delegates to the
    * SAME [[KeyedTableOps]] operation the programmatic surface uses
    * and returns its receipt as a one-row result. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    KeyedTableCatalog.procedures.keys.toArray
      .map(n => Identifier.of(Array.empty, n))
  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    KeyedTableCatalog.procedures.getOrElse(ident.name(),
      throw new IllegalArgumentException(
        s"unknown procedure '${ident.name()}' — this catalog offers " +
          KeyedTableCatalog.procedures.keys.mkString(", ")))

  /** DROP TABLE removes the table directory — schema, manifests,
    * row-logs. Path-addressed, so this is the storage lifecycle call,
    * not a catalog-entry removal. */
  override def dropTable(ident: Identifier): Boolean =
    KeyedTable.dropTableDir(ident.name(), KeyedTable.hadoopConf())

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException("KeyedTable paths are immutable")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    Array(Identifier.of(Array.empty, "bucket"))
  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.name == "bucket") KeyedTableCatalog.BucketFn
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(name0, ident.name)
}

/** Session wiring for clustered KeyedTable reads: the catalog under
  * `graft_keyed`, and Spark's v2-bucketing switch (the gate under
  * which reported KeyGroupedPartitioning is honored — and under which
  * the scan plans bucket-grouped partitions instead of per-file ones). */
object KeyedTableRegistry {
  val CatalogName = "graft_keyed"

  /** Registers the catalog and nothing else. Idempotent. A declared
    * memo (see [[graft.SessionConf]]): Spark loads a catalog once per
    * session and keeps it, so its registration is kept too. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.conf.set(s"spark.sql.catalog.$CatalogName",
      classOf[KeyedTableCatalog].getName)

  /** `body` with the catalog registered and v2 bucketing on for `body`
    * only — the one place the bucketing switch is set. */
  def withKeyedCatalog[A](spark: org.apache.spark.sql.SparkSession)(
      body: => A): A =
    graft.SessionConf.withConfs(spark,
        Map("spark.sql.sources.v2.bucketing.enabled" -> Some("true"))) {
      register(spark)
      body
    }
}

object KeyedTableCatalog {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}

  private[sources] val MetadataNames = Set("history", "files")

  private val HistorySchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("ts_ms", LongType, nullable = true),
    StructField("operation", StringType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = true),
    StructField("supersedes", IntegerType, nullable = false),
    StructField("live", BooleanType, nullable = false)))

  private val FilesSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("buckets", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = true),
    StructField("tombstone", BooleanType, nullable = false),
    StructField("blocks", BooleanType, nullable = false),
    StructField("bloom_cols", IntegerType, nullable = false),
    // the key zone the planner prunes by, rendered for the operator
    StructField("min_key", StringType, nullable = true),
    StructField("max_key", StringType, nullable = true)))

  /** Manifest name prefix -> the user-facing operation label. The
    * write-path spellings (batch/named/epoch) all mean "append". */
  private def operationOf(name: String): String =
    name.takeWhile(_ != '-') match {
      case "batch" | "named" | "epoch" => "append"
      case "over" => "overwrite"
      case "delete" => "delete"
      case "trunc" => "truncate"
      case "rewrite" | "compact" => "rewrite"
      case "rlo" => // rlo-<command>-<queryId>: keep the statement kind
        name.split("-").take(2).mkString("-")
      case other => other
    }

  /** One metadata relation over the table at `path` — rows computed
    * driver-side from the manifest listing at SCAN BUILD time (each
    * query sees the log as of its own planning, like any other
    * metadata read). */
  private[sources] final class MetadataTable(path: String, meta: String)
      extends Table with SupportsRead {
    override def name(): String = s"$path.$meta"
    override def schema(): StructType =
      if (meta == "history") HistorySchema else FilesSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(
        options: CaseInsensitiveStringMap): ScanBuilder = {
      val conf = KeyedTable.hadoopConf()
      val all = KeyedTable.manifests(path, conf)
        .filter(_.seq >= 0).sortBy(m => (m.seq, m.name))
      val liveNames = KeyedTable.liveManifests(path, conf).map(_.name).toSet
      def sumOrNull(vs: Seq[Long]): Any =
        if (vs.exists(_ < 0)) null else (vs.sum: java.lang.Long)
      val computed: Array[InternalRow] =
        if (meta == "history") all.map { m =>
          new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](m.seq,
              org.apache.spark.unsafe.types.UTF8String.fromString(m.name),
              if (m.ts < 0) null else (m.ts: java.lang.Long),
              org.apache.spark.unsafe.types.UTF8String
                .fromString(operationOf(m.name)),
              m.entries.size,
              sumOrNull(m.entries.map(_.rows)),
              sumOrNull(m.entries.map(_.bytes)),
              m.supersedes.size,
              liveNames(m.name))): InternalRow
        }.toArray
        else {
          val schemaOpt = KeyedTable.readSchemaFile(path, conf)
          def keyRender(key: String, enc: Option[String]): Any =
            (for {
              sch <- schemaOpt
              fd <- sch.fields.find(_.name == key)
              e <- enc
            } yield org.apache.spark.unsafe.types.UTF8String.fromString(
              String.valueOf(KeyedTable.decodeStat(fd.dataType, e)))).orNull
          all.filter(m => liveNames(m.name)).flatMap { m =>
            m.entries.map { e =>
              new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
                Array[Any](m.seq,
                  org.apache.spark.unsafe.types.UTF8String.fromString(e.file),
                  e.bucket, e.buckets,
                  if (e.rows < 0) null else (e.rows: java.lang.Long),
                  if (e.bytes < 0) null else (e.bytes: java.lang.Long),
                  e.tombstone, e.blocks, e.bloomCols.size,
                  keyRender(e.key, e.stats.flatMap(_.minEnc)),
                  keyRender(e.key, e.stats.flatMap(_.maxEnc)))): InternalRow
            }
          }.toArray
        }
      val schema0 = schema()
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = computed
        override def readSchema(): StructType = schema0
        override def description(): String = s"graft metadata $path.$meta"
      }
      () => scan
    }
  }

  /** One maintenance procedure: fixed parameters, a one-row receipt
    * schema, and a driver-side body over the validated args. */
  private final class MaintenanceProc(procName: String, desc: String,
      params: Array[ProcedureParameter], receipt: StructType,
      body: InternalRow => Array[Any])
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = desc
    override def bind(input: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val row = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(body(input))
      val scan: Scan = new LocalScan {
        override def rows(): Array[InternalRow] = Array(row)
        override def readSchema(): StructType = receipt
        override def description(): String = s"graft.$procName receipt"
      }
      java.util.Collections.singletonList(scan).iterator()
    }
  }

  private def in(n: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(n, dt).build()
  private def inD(n: String, dt: DataType,
      default: String): ProcedureParameter =
    ProcedureParameter.in(n, dt).defaultValue(default).build()
  private def utf8(s: String) =
    org.apache.spark.unsafe.types.UTF8String.fromString(s)
  private def spark = org.apache.spark.sql.SparkSession.active

  private[sources] val procedures: Map[String, UnboundProcedure] = Map(
    "compact" -> new MaintenanceProc("compact",
      "fold the live log into one clustered snapshot " +
        "(KeyedTableOps.rewriteCompact)",
      Array(in("path", StringType),
        inD("target_file_rows", LongType, "0"),
        inD("tombstone_grace_ms", LongType, (24L * 3600 * 1000).toString)),
      StructType(Seq(StructField("snapshot", StringType, nullable = true))),
      input => Array(KeyedTableOps.rewriteCompact(spark,
        input.getUTF8String(0).toString,
        tombstoneGraceMs = input.getLong(2),
        targetFileRows = input.getLong(1)).map(utf8).orNull)),
    "vacuum" -> new MaintenanceProc("vacuum",
      "reap unreferenced storage older than the grace period " +
        "(KeyedTable.vacuum)",
      Array(in("path", StringType),
        inD("grace_ms", LongType, (24L * 3600 * 1000).toString)),
      StructType(Seq(StructField("reaped", LongType, nullable = false))),
      input => Array(KeyedTable.vacuum(
        input.getUTF8String(0).toString,
        input.getLong(1)).size.toLong: java.lang.Long)),
    "rebucket" -> new MaintenanceProc("rebucket",
      "re-cluster the table at a new bucket count " +
        "(KeyedTableOps.rebucket)",
      Array(in("path", StringType), in("buckets", IntegerType),
        inD("tombstone_grace_ms", LongType, (24L * 3600 * 1000).toString)),
      StructType(Seq(StructField("snapshot", StringType, nullable = true))),
      input => Array(KeyedTableOps.rebucket(spark,
        input.getUTF8String(0).toString, input.getInt(1),
        input.getLong(2)).map(utf8).orNull)),
    "rollback" -> new MaintenanceProc("rollback",
      "restore the table's current state to a past commit sequence " +
        "as one new commit (KeyedTableOps.rollback)",
      Array(in("path", StringType), in("seq", LongType)),
      StructType(Seq(
        StructField("restored_to", LongType, nullable = false),
        StructField("committed_seq", LongType, nullable = false))),
      input => {
        val toSeq = input.getLong(1)
        Array(toSeq: java.lang.Long,
          KeyedTableOps.rollback(spark,
            input.getUTF8String(0).toString, toSeq): java.lang.Long)
      }),
    "rollback_ts" -> new MaintenanceProc("rollback_ts",
      "restore the table's current state to its state at an instant " +
        "(epoch millis; Delta's TIMESTAMP AS OF resolution rule) " +
        "(KeyedTableOps.rollbackToTs)",
      Array(in("path", StringType), in("ts_ms", LongType)),
      StructType(Seq(
        StructField("committed_seq", LongType, nullable = false))),
      input => Array(KeyedTableOps.rollbackToTs(spark,
        input.getUTF8String(0).toString,
        input.getLong(1)): java.lang.Long)))

  /** pmod(murmur3(key, 42), n) — byte-compatible with Spark's
    * hashpartitioning AND with the per-file bucket proof in
    * [[KeyedTable]]'s writer. Bound per key type; null keys hash to
    * the seed, exactly as the shuffle does. */
  object BucketFn extends UnboundFunction {
    override def name(): String = "bucket"
    override def description(): String =
      "bucket(n, key) = pmod(murmur3(key, 42), n)"
    override def bind(input: StructType): BoundFunction = {
      require(input.length == 2, s"bucket expects (numBuckets, key): $input")
      val dt = input(1).dataType
      new ScalarFunction[Integer] {
        override def inputTypes(): Array[DataType] =
          Array(input(0).dataType, dt)
        override def resultType(): DataType = IntegerType
        override def name(): String = "bucket"
        override def canonicalName(): String =
          s"graft.bucket(${dt.catalogString})"
        override def isResultNullable: Boolean = false
        // the ONE shared definition (KeyedTable.bucketOf) — the
        // writer's per-file proof and this function must never be
        // able to disagree
        override def produceResult(row: InternalRow): Integer = {
          val n = row.getInt(0)
          val v = if (row.isNullAt(1)) null else row.get(1, dt)
          KeyedTable.bucketOf(v, dt, n)
        }
      }
    }
  }
}
