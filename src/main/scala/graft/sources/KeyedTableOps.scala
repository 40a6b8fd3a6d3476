package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The CASSANDRA DATA MODEL over [[KeyedTable]]'s commit log — the
  * semantics the reference's target store gives every write
  * (verizon_table_migration_Rakesh_filters.py:347-353 appends into
  * Cassandra, where an INSERT **is** an upsert resolved per primary
  * key by write time, DELETE writes a tombstone, and compaction folds
  * SSTables): re-expressed Spark-first instead of inside a storage
  * engine.
  *
  *  - **Upsert = append + last-write-wins read.** Writes stay pure
  *    appends (the fastest thing a distributed sink can do — no
  *    read-modify-write, no locks); [[latest]] resolves the current
  *    row per key inside the reader, one bucket per read partition,
  *    keeping the highest `(_seq, _pos)` — the table's deterministic
  *    writetime (commit sequence, position in commit — metadata
  *    columns, no bytes added to rows). It plans NO Exchange on the
  *    path route and the catalog route alike. [[latestOver]] is the
  *    same rule as a declarative `max_by` aggregate.
  *  - **DELETE = tombstone commit** ([[KeyedTable.KTable]]'s
  *    `SupportsDelete`): key-predicate-only, O(#keys) bytes written,
  *    nothing scanned; resolved by the same last-write-wins order, so
  *    a later re-insert of the key simply outranks the marker.
  *  - **[[rewriteCompact]] = the compaction.** Folds the live log into
  *    one snapshot commit per run: latest row per key, deleted keys
  *    dropped, tombstones older than the grace period purged
  *    (gc_grace), everything re-clustered. The snapshot commits AT THE
  *    FENCE (the max superseded sequence) and supersedes exactly what
  *    it merged — a write racing the compaction outranks the snapshot
  *    the same way it outranked the originals, and a re-run of the
  *    same fold commits the same manifest name and no-ops. Tail
  *    streams never see the snapshot (dataChange=false): in-flight
  *    tails keep consuming original commits, whose bytes
  *    [[KeyedTable.vacuum]] retains for the grace window.
  *
  * `VERSION AS OF n` time travel (the catalog's versioned loadTable)
  * composes with all of this: below a rewrite's fence the original
  * commits resolve, until retention expires them.
  */
object KeyedTableOps {

  /** The table's PARTITION key column: declared properties win, else
    * the write contract proven by the committed manifests. */
  def tableKey(path: String): Option[String] = {
    val conf = KeyedTable.hadoopConf()
    KeyedTable.declaredContract(path, conf, KeyedTable.readProps(path, conf))._1
  }

  /** The table's FULL primary key — partition key plus any declared
    * clustering columns. Clustering columns are a declared property
    * (`clustering` in `_props` / CREATE TABLE TBLPROPERTIES /
    * [[declareClustering]]) because the storage layer cannot infer
    * them: it clusters, routes, and deletes on the partition key
    * alone. EVERY key-resolving consumer (rewriteCompact here, the
    * reader behind latest) reads this declaration — resolving on the
    * partition key alone would fold a composite table down to one row
    * per partition and destroy its clustering rows. */
  def tableKeys(path: String): Option[Seq[String]] =
    tableKey(path).map { pk =>
      val conf = KeyedTable.hadoopConf()
      val ck = KeyedTable.readProps(path, conf).get("clustering")
        .map(parseClustering).getOrElse(Seq.empty)
      require(!ck.contains(pk),
        s"clustering columns $ck must not repeat the partition key $pk")
      pk +: ck
    }

  /** THE clustering-list codec (comma-separated column names) — one
    * parse shared by the props reader, the catalog's DDL, and the
    * config-driven CLI, so the encoding can never drift between
    * surfaces. */
  def parseClustering(v: String): Seq[String] =
    v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)

  /** Declare the table's MERGE DISCIPLINE — how reads and compaction
    * combine a key's versions:
    *  - `lww` (default): last-write-wins, Cassandra's regular-column
    *    upsert model; [[latest]] and [[rewriteCompact]] keep one row
    *    per key.
    *  - `counter`: every append is an INCREMENT (Cassandra counter
    *    columns); the current state is [[counterTotals]], and
    *    [[rewriteCompact]] folds by SUM (a counter snapshot row is
    *    itself one increment carrying the accumulated total) — an LWW
    *    fold of a counter table would silently collapse each key's
    *    increment history to its latest row and corrupt every sum.
    * Idempotent; merges into the existing properties. */
  def declareMerge(path: String, discipline: String): Unit = {
    require(Set("lww", "counter")(discipline),
      s"merge discipline must be lww|counter, got '$discipline'")
    KeyedTable.updateProps(path, KeyedTable.hadoopConf())(
      _ + ("merge" -> discipline))
  }

  /** The declared merge discipline (`lww` when undeclared). */
  def mergeDiscipline(path: String): String =
    KeyedTable.readProps(path, KeyedTable.hadoopConf())
      .getOrElse("merge", "lww")

  /** Declare the table's SORT ORDER — the OPTIMIZE ZORDER analogue's
    * knob: [[rewriteCompact]] then orders each bucket's fold by these
    * columns and rolls row-log files every `targetFileRows` rows, so
    * the snapshot's per-file zone maps become narrow DISJOINT slices
    * of the sort columns and a non-key range probe plans a small
    * fraction of each bucket instead of all of it. A plain fold
    * tightens zones only incidentally (key clustering); a declared
    * sort order tightens them by construction. Ordinary appends are
    * untouched — sorting is a maintenance-time property, exactly like
    * OPTIMIZE. Idempotent; merges into the existing properties. */
  def declareSortOrder(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(_.nonEmpty))
    val conf = KeyedTable.hadoopConf()
    KeyedTable.readSchemaFile(path, conf).foreach { sch =>
      cols.foreach(c => require(sch.fieldNames.contains(c),
        s"sortOrder column '$c' is not a column of $sch"))
    }
    KeyedTable.updateProps(path, conf)(
      _ + ("sortOrder" -> cols.mkString(",")))
  }

  /** Declare the table's clustering columns (the non-partition part of
    * its primary key). Idempotent; merges into the existing
    * properties. Do this BEFORE the first rewriteCompact of a
    * composite table — an undeclared composite table looks single-key
    * to maintenance. */
  def declareClustering(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(_.nonEmpty))
    val conf = KeyedTable.hadoopConf()
    KeyedTable.readSchemaFile(path, conf).foreach { sch =>
      cols.foreach(c => require(sch.fieldNames.contains(c),
        s"clustering column '$c' is not a column of $sch"))
    }
    KeyedTable.updateProps(path, conf)(
      _ + ("clustering" -> cols.mkString(",")))
  }

  /** Declare a multi-dimensional Z-ORDER sort for compaction:
    * [[rewriteCompact]] then folds each bucket by the MORTON
    * INTERLEAVE of the two columns instead of their lexicographic
    * order, so rolled files cover tight BOXES in (a, b) space and a
    * 2-D range predicate prunes on BOTH columns — a lexicographic fold
    * serves only its leading column (OPTIMIZE ZORDER vs plain
    * OPTIMIZE). Stored as `sortOrder=zorder(a,b)`; re-declaring a
    * plain [[declareSortOrder]] replaces it. Columns must be integral
    * (long/int/date/timestamp) — the interleave grids each dimension
    * to 8 bits over the fold's own min/max. */
  def declareZOrder(path: String, cols: Seq[String]): Unit = {
    require(cols.size == 2,
      s"zorder interleaves exactly two columns, got ${cols.mkString(",")}")
    require(cols.distinct.size == 2, "zorder columns must differ")
    val conf = KeyedTable.hadoopConf()
    KeyedTable.readSchemaFile(path, conf).foreach { sch =>
      cols.foreach { c =>
        require(sch.fieldNames.contains(c),
          s"zorder column '$c' is not a column of $sch")
        val dt = sch(sch.fieldIndex(c)).dataType
        require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.DateType,
          org.apache.spark.sql.types.TimestampType,
          org.apache.spark.sql.types.TimestampNTZType).contains(dt),
          s"zorder needs integral columns; '$c' is ${dt.sql}")
      }
    }
    KeyedTable.updateProps(path, conf)(
      _ + ("sortOrder" -> s"zorder(${cols.mkString(",")})"))
  }

  /** Declare per-file BLOOM FILTER columns: every subsequent write
    * (load, fold, streaming epoch, row-level statement) builds a Bloom
    * filter per finished file over each declared column's non-null
    * values and stores it as a dot-prefixed sidecar
    * (`data/.bloom-<file>`); file pruning then serves EQUALITY probes
    * on those columns — the predicate shape zone maps cannot (a
    * high-cardinality column over unsorted data spans every file's
    * [min, max]). Declare columns that get point-probed but aren't the
    * partition key: lookup ids, digests, foreign keys. Already-written
    * files stay bloom-less until a rewriteCompact re-homes them.
    * Pair with a `maxFileRows` write/compaction setting so per-file
    * row counts match the filters' ~10 bits/row sizing. Idempotent;
    * merges into the existing properties. */
  def declareBloomColumns(path: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty && cols.forall(_.nonEmpty))
    val conf = KeyedTable.hadoopConf()
    KeyedTable.readSchemaFile(path, conf).foreach { sch =>
      cols.foreach(c => require(sch.fieldNames.contains(c),
        s"bloom column '$c' is not a column of $sch"))
    }
    KeyedTable.updateProps(path, conf)(
      _ + ("bloomColumns" -> cols.mkString(",")))
  }

  /** Declare the table's FULL write contract — partition key, write
    * parallelism, clustering columns — exactly what the catalog's
    * CREATE TABLE persists. Idempotent merge; validates against the
    * committed schema when one exists. With the key in the properties,
    * the table stays resolvable even when manifests alone could not
    * prove a contract (zero commits after a crash-before-load, or a
    * deliberate re-parallelization mixing live moduli). A re-declare
    * the stored properties already hold writes nothing and takes no
    * lock — every pipeline re-launch makes one. */
  def declareTable(path: String, key: String, writePartitions: Int,
      clustering: Seq[String] = Seq.empty): Unit = {
    require(key.nonEmpty && writePartitions > 0)
    require(!clustering.contains(key),
      s"clustering columns $clustering must not repeat the key '$key'")
    val conf = KeyedTable.hadoopConf()
    KeyedTable.readSchemaFile(path, conf).foreach { sch =>
      (key +: clustering).foreach(c => require(sch.fieldNames.contains(c),
        s"primary-key column '$c' is not a column of $sch"))
    }
    val entries = Map("key" -> key, "writePartitions" -> writePartitions.toString) ++
      (if (clustering.nonEmpty) Map("clustering" -> clustering.mkString(","))
       else Map.empty)
    val stored = KeyedTable.readProps(path, conf)
    if (!entries.forall { case (k, v) => stored.get(k).contains(v) })
      KeyedTable.updateProps(path, conf)(_ ++ entries)
  }

  /** Last-write-wins resolution over a KeyedTable frame: one row per
    * key — the highest (_seq, _pos) version — with tombstoned keys
    * dropped. `df` must be a scan of the table (the metadata columns
    * resolve against it); output columns are exactly the table's data
    * columns. The aggregate is partial+final hash aggregation — over a
    * catalog-loaded (bucket-clustered) scan it plans NO Exchange. The
    * whole-table folds ([[rewriteCompact]], [[rollback]]) resolve
    * here: unlike the reader-resolved [[latest]], it can spill. */
  def latestOver(df: DataFrame, key: String): DataFrame =
    latestOver(df, Seq(key))

  /** Composite-primary-key variant — Cassandra's full key model:
    * `keys.head` is the PARTITION key (what the table clusters,
    * routes, and DELETES on); the rest are CLUSTERING columns
    * (distinct rows within a partition). Resolution happens per full
    * key tuple; a tombstone — always partition-key-level, like a
    * Cassandra partition delete — acts as a RANGE tombstone: it hides
    * every row of that partition with a lower version, while later
    * re-inserts survive. The tombstone cuts are a tiny broadcast
    * (deletes are rare events, one marker row per deleted key); the
    * big side joins and aggregates WITHOUT shuffling — grouping on a
    * superset of the partition key still satisfies the scan's
    * reported clustering. */
  def latestOver(df: DataFrame, keys: Seq[String]): DataFrame = {
    val dataCols = df.columns.toSeq
    require(keys.nonEmpty && keys.forall(dataCols.contains),
      s"key columns ${keys.mkString(",")} not among ${dataCols.mkString(",")}")
    val withMeta = versioned(df, dataCols)
    if (keys.size == 1) {
      // single-key: the tombstone competes in the same max_by — one
      // aggregate, no second pass
      val rest = dataCols.filterNot(keys.contains)
      val payload = struct(
        col(KeyedTable.MetaTombstone).as("__tomb") +: rest.map(col): _*)
      withMeta
        .groupBy(col(keys.head))
        .agg(max_by(payload, version).as("__w"))
        .where(!col("__w.__tomb"))
        .select(dataCols.map(c =>
          if (keys.contains(c)) col(c) else col(s"__w.`$c`").as(c)): _*)
    } else {
      // self-contained spelling: cuts derived from the same frame (a
      // second pass over it). rewriteCompact builds the cuts from a
      // tombstones-only scan instead — plan-time-pruned to the tiny
      // marker files, no second pass over the data
      compositeResolve(withMeta, keys, Some(cutsOf(withMeta, keys.head)), dataCols)
    }
  }

  /** The version last-write-wins orders by: (commit sequence, position). */
  private def version: Column =
    struct(col(KeyedTable.MetaSeq), col(KeyedTable.MetaPos))

  /** `cols` of a table scan plus its version and tombstone columns. */
  private def versioned(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(cols.map(col) ++ Seq(col(KeyedTable.MetaSeq),
      col(KeyedTable.MetaPos), col(KeyedTable.MetaTombstone)): _*)

  /** Per partition key, the highest tombstone version of a
    * [[versioned]] frame (a second pass over it). */
  private def cutsOf(withMeta: DataFrame, pk: String): DataFrame =
    withMeta.where(col(KeyedTable.MetaTombstone))
      .groupBy(col(pk)).agg(max(version).as("__cut"))

  /** The data rows of a [[versioned]] frame that outrank their
    * partition's tombstone cut (range-tombstone semantics); no cuts =
    * no deletes in the snapshot, nothing to cut. */
  private def survivors(withMeta: DataFrame, pk: String,
      cuts: Option[DataFrame]): DataFrame = {
    val data = withMeta.where(!col(KeyedTable.MetaTombstone))
    cuts.fold(data)(c => data.join(broadcast(c), Seq(pk), "left")
      .where(col("__cut").isNull || version > col("__cut")))
  }

  /** A counter table's fold: one increment per full key carrying the
    * SUM of each counter column over the surviving increments. */
  private def counterSums(live: DataFrame, keys: Seq[String],
      counterCols: Seq[String], dataCols: Seq[String]): DataFrame =
    live.groupBy(keys.map(col): _*)
      .agg(sum(col(counterCols.head)).as(counterCols.head),
        counterCols.tail.map(c => sum(col(c)).as(c)): _*)
      .select(dataCols.map(col): _*)

  /** The composite resolution given an explicit tombstone-cut frame:
    * per partition key, the highest tombstone version; data rows at or
    * below their partition's cut are hidden (range-tombstone
    * semantics), survivors resolve last-write-wins per full key. */
  private def compositeResolve(withMeta: DataFrame, keys: Seq[String],
      cuts: Option[DataFrame], dataCols: Seq[String]): DataFrame = {
    val live = survivors(withMeta, keys.head, cuts)
    val rest = dataCols.filterNot(keys.contains)
    if (rest.isEmpty) // every column is a key: survival IS the row
      live.select(dataCols.map(col): _*).distinct()
    else live.groupBy(keys.map(col): _*)
      .agg(max_by(struct(rest.map(col): _*), version).as("__w"))
      .select(dataCols.map(c =>
        if (keys.contains(c)) col(c) else col(s"__w.`$c`").as(c)): _*)
  }

  /** ONE table-frame resolution for every merge view: through the
    * clustered catalog when it is registered on the session (merge
    * aggregates then plan NO Exchange), else a path-based scan; reader
    * options (time-travel pin, tombstones mode) forward to the scan
    * builder on both routes. */
  private def tableDF(spark: SparkSession, path: String,
      options: Map[String, String]): DataFrame = {
    val catalogged = spark.conf
      .getOption(s"spark.sql.catalog.${KeyedTableRegistry.CatalogName}")
      .isDefined
    val r = spark.read.options(options)
    if (catalogged) r.table(s"${KeyedTableRegistry.CatalogName}.`$path`")
    else r.format("graft.sources.KeyedTable").load(path)
  }

  /** The table's CURRENT STATE — what `SELECT * FROM t` means in
    * Cassandra, resolved on the table's FULL declared primary key
    * (partition key + clustering columns). SNAPSHOT-CONSISTENT: the
    * view pins the live manifest NAME SET at construction, so commits
    * racing the read can never tear it. Re-construct to see new
    * commits.
    *
    * One scan, the table's `view=current` read: each read partition
    * holds every file of one write bucket and resolves last-write-wins
    * and tombstones as it reads, like a Cassandra node merging a
    * partition's versions. A point read `latest(...).where(k === v)`
    * is one driver-side read while Spark plans it (a DSv2 `LocalScan`)
    * and runs no Spark job, on the path route as on the catalog route:
    * key pruning leaves it one read partition (the key's write bucket,
    * or the single fallback group below), so the driver does the one
    * task's work and no parallelism is lost. Whole-table and non-key
    * reads stay distributed. The trade-off: a task holds one bucket's
    * live keys in memory (un-spillable), and a snapshot without a
    * uniform write contract on the partition key (mixed moduli,
    * unproven files, files bucketed on another column) resolves in ONE
    * partition.
    * Whole-table folds therefore keep [[latestOver]]'s aggregate,
    * which can spill. */
  def latest(spark: SparkSession, path: String): DataFrame = {
    if (tableKey(path).isEmpty) throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column")
    tableDF(spark, path, Map(
      "manifests" -> KeyedTable.liveManifestNames(path).mkString(","),
      "view" -> "current"))
  }

  /** CASSANDRA COUNTER COLUMNS: the table as a distributed counter —
    * every append is an INCREMENT (commutative, so writers never
    * read-modify-write), and the read merges by SUM per FULL primary
    * key (partition key + declared clustering columns — a composite
    * counter table keeps one counter per full key, exactly Cassandra)
    * instead of last-write-wins. A tombstone RESETS at partition
    * granularity: increments of that partition at or below the
    * marker's version stop counting, later ones count from zero, and
    * a key with no surviving increments is absent. Snapshot-consistent
    * via the same construction-time pin as [[latest]]; the cuts are
    * the same tombstones-only broadcast; the big side aggregates
    * without shuffling over a clustered catalog read. `valueCols`
    * emit as `sum_<col>`, plus `n_inc` (surviving increment count). */
  def counterTotals(spark: SparkSession, path: String,
      valueCols: Seq[String]): DataFrame = {
    require(valueCols.nonEmpty)
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    val pk = keys.head
    val snap = KeyedTable.snapshotInfo(path)
    val pin = Map("manifests" -> snap.pinOption)
    val df = tableDF(spark, path, pin)
    val live = survivors(versioned(df, (keys ++ valueCols).distinct), pk,
      if (snap.hasTombstones) Some(tombstoneCuts(spark, path, pk, pin)) else None)
    live.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_inc"),
        valueCols.map(c => sum(col(c)).as(s"sum_$c")): _*)
  }

  /** Per-partition-key max tombstone version, read from a
    * tombstones-only scan under the caller's scan options (the
    * snapshot pin or a rewrite fence): the manifest flag prunes the
    * plan to the marker files, so building the cuts costs marker
    * bytes, not a table scan — and through the registered catalog the
    * scan is ALSO clustered, so the groupBy needs no Exchange. */
  private def tombstoneCuts(spark: SparkSession, path: String,
      pk: String, scanOpts: Map[String, String]): DataFrame =
    tableDF(spark, path, scanOpts + ("tombstones" -> "only"))
      .select(col(pk), col(KeyedTable.MetaSeq), col(KeyedTable.MetaPos))
      .groupBy(col(pk))
      .agg(max(version).as("__cut"))

  /** Fold the live commit log into ONE snapshot commit — Cassandra's
    * compaction / Delta's OPTIMIZE, as a Spark job over the table
    * itself:
    *
    *  1. List the live manifests once. Data manifests (previous
    *     snapshots included) and tombstone manifests older than
    *     `tombstoneGraceMs` are the fold's inputs; younger tombstones
    *     stay live (a slow reader may still need them to hide
    *     versions the fold hasn't seen).
    *  2. Read the table AS OF the fence (max input sequence) — which
    *     is exactly the inputs plus any still-live tombstone at or
    *     below the fence — and resolve last-write-wins through
    *     [[latestOver]]'s aggregate, which can spill (a fold reads the
    *     whole table). Tombstones at or below the fence apply
    *     (idempotently, if they stay live);
    *     anything ABOVE the fence, tombstone or data, outranks the
    *     snapshot at read time, so racing commits lose nothing.
    *  3. Write the winners back through the table's own clustered V2
    *     write, committing at the fence and superseding the inputs.
    *
    * Batch reads then plan snapshot + post-fence commits; tail streams
    * skip the snapshot entirely (no data changed); vacuum reclaims the
    * superseded bytes after its grace. Returns the snapshot manifest's
    * logical name, or None when there is nothing to fold. */
  def rewriteCompact(spark: SparkSession, path: String,
      tombstoneGraceMs: Long = 24L * 3600 * 1000,
      // roll the fold's row-log files every this-many rows (0 = one
      // file per bucket, the pre-sort behavior); meaningful with a
      // declared [[declareSortOrder]] — each rolled slice then covers
      // a narrow disjoint range of the sort columns
      targetFileRows: Long = 0L,
      // [[rebucket]]'s hooks: write the snapshot at a DIFFERENT
      // modulus, and fold even a single live manifest (re-clustering
      // is the point, not space)
      parallelismOverride: Option[Int] = None,
      force: Boolean = false): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val live = KeyedTable.liveManifests(path, conf)
    def isTombstoneManifest(m: KeyedTable.KManifest): Boolean =
      m.entries.nonEmpty && m.entries.forall(_.tombstone)
    val now = System.currentTimeMillis()
    // a fold NEVER crosses a live TTL'd commit: folding TTL'd rows
    // into an expiry-less snapshot would make them immortal, and
    // folding rows from BELOW a TTL'd commit to a fence ABOVE it
    // would let stale folded versions outrank the TTL'd ones. So the
    // fence stays strictly below the oldest live TTL'd commit;
    // everything above waits for its expiry (after which it simply is
    // not live) or for a later fold
    val ttlFloor = live.filter(_.expires >= 0).map(_.seq)
      .foldLeft(Long.MaxValue)(math.min)
    // <=: grace 0 means "purge everything committed up to NOW",
    // including a tombstone stamped this same millisecond
    val inputs = live.filter { m =>
      m.seq < ttlFloor &&
        (!isTombstoneManifest(m) ||
          (m.ts >= 0 && m.ts <= now - tombstoneGraceMs))
    }
    // nothing to gain from folding fewer than two commits unless a
    // tombstone is being applied or purged — or the caller forces the
    // fold because re-clustering itself is the goal (rebucket)
    val tombstonesInPlay = live.exists(isTombstoneManifest)
    if (inputs.isEmpty ||
        (inputs.size < 2 && !tombstonesInPlay && !force)) return None
    require(inputs.forall(_.seq >= 0),
      s"KeyedTable at $path has unversioned (legacy) commits — " +
        "rewriteCompact needs a total commit order")
    val fence = inputs.map(_.seq).max
    val names = inputs.map(_.name)
    // the FULL primary key: folding a composite table on its partition
    // key alone would keep one row per partition and destroy every
    // clustering row — declare clustering columns before compacting
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    val contract = KeyedTable.inferWriteContract(path, conf)
    // pin the fold's scans to EXACTLY the live manifests at/below the
    // fence as LISTED — the inputs plus still-live young tombstones.
    // An asOf-seq read here could tear: a commit whose reserved
    // sequence is <= fence publishing between this listing and the
    // scan's planning would be FOLDED but not superseded (duplicate
    // rows forever). With the name pin the late commit stays out of
    // the fold on both sides, and the commit-time fence validation
    // (under the maintenance lock) no-ops the fold if one landed.
    val pinNames = live.filter(m => m.seq >= 0 && m.seq <= fence).map(_.name)
    val pin = Map("manifests" -> pinNames.mkString(","))
    val asOf = spark.read.format("graft.sources.KeyedTable")
      .options(pin).load(path)
    val discipline = KeyedTable.readProps(path, conf).getOrElse("merge", "lww")
    val dataCols = asOf.columns.toSeq
    val hasTombs = live.exists(m =>
      m.seq <= fence && m.entries.exists(_.tombstone))
    lazy val cuts =
      if (hasTombs) Some(tombstoneCuts(spark, path, keys.head, pin)) else None
    val snapshot = discipline match {
      case "counter" =>
        // COUNTER FOLD: Cassandra compaction merges counter shards
        // ADDITIVELY — per full key, SUM each counter column over the
        // surviving increments (partition tombstone cuts applied, so
        // reset-then-count-again keeps working). The snapshot row is
        // itself ONE increment carrying the accumulated total, so
        // counterTotals over [snapshot + later increments] still sums
        // correctly. An LWW fold here would silently collapse each
        // key's history to its latest increment and corrupt every sum.
        val counterCols = dataCols.filterNot(keys.contains)
        val badTypes = counterCols.filter { c =>
          val dt = asOf.schema(asOf.schema.fieldIndex(c)).dataType
          dt != org.apache.spark.sql.types.LongType &&
            dt != org.apache.spark.sql.types.DoubleType
        }
        require(counterCols.nonEmpty,
          s"counter table at $path has no non-key columns to accumulate")
        require(badTypes.isEmpty,
          s"counter fold at $path needs LONG/DOUBLE counter columns; " +
            s"${badTypes.mkString(",")} cannot accumulate sums losslessly")
        counterSums(survivors(versioned(asOf, dataCols), keys.head, cuts),
          keys, counterCols, dataCols)
      case "lww" if keys.size == 1 => latestOver(asOf, keys)
      case "lww" =>
        compositeResolve(versioned(asOf, dataCols), keys, cuts, dataCols)
      case other => throw new IllegalArgumentException(
        s"unknown merge discipline '$other' at $path (lww|counter)")
    }
    // declared sort order: the fold orders each bucket by these
    // columns and (with targetFileRows) rolls files into narrow
    // disjoint slices — the OPTIMIZE ZORDER analogue's payoff is the
    // snapshot's zone maps, so it applies exactly here. A
    // `zorder(a,b)` declaration instead MORTON-INTERLEAVES the two
    // dimensions: the fold pre-shapes the frame itself (hash
    // repartition by key = the bucket routing, curve sort within each
    // task) and the write passes it through untouched (`preshaped`),
    // because a V2 SortOrder can only name columns, not the
    // interleave expression
    val sortProp = KeyedTable.readProps(path, conf).get("sortOrder")
    val zorderCols = sortProp
      .filter(v => v.startsWith("zorder(") && v.endsWith(")"))
      .map(v => parseClustering(
        v.stripPrefix("zorder(").stripSuffix(")")))
      .getOrElse(Seq.empty)
    val sortOrder =
      if (zorderCols.nonEmpty) Seq.empty
      else sortProp.map(parseClustering).getOrElse(Seq.empty)
    val parallelism =
      parallelismOverride.orElse(contract.map(_._2)).getOrElse(8)
    val toWrite =
      if (zorderCols.isEmpty) snapshot
      else zorderShape(snapshot, keys.head, zorderCols, parallelism)
    val w0 = toWrite.write.format("graft.sources.KeyedTable")
      .option("key", keys.head)
      .option("writePartitions", parallelism.toString)
      .option("rewriteSeq", fence.toString)
      .option("rewriteSupersedes", names.mkString(","))
    val w1 =
      if (zorderCols.nonEmpty) w0.option("preshaped", "true")
      else if (sortOrder.nonEmpty) w0.option("sortOrder", sortOrder.mkString(","))
      else w0
    val w2 = if (targetFileRows > 0L)
      w1.option("maxFileRows", targetFileRows.toString) else w1
    w2.mode("append").save(path)
    // commit-time validation (under the maintenance lock) no-ops a
    // fold whose inputs another superseding commit consumed first —
    // report what actually happened
    val committed = KeyedTable.liveManifestNames(path)
      .contains(KeyedTable.rewriteName(names))
    if (committed) Some(KeyedTable.rewriteName(names)) else None
  }

  /** Shape a fold's frame for a Z-ORDER write: hash-repartition by
    * the partition key (Spark's murmur3 hashpartitioning IS the
    * table's bucket routing, so every task's file still proves ONE
    * bucket and clustered reads keep KeyGroupedPartitioning) and sort
    * each task by the Morton interleave of the two declared columns —
    * each gridded to 8 bits over the frame's own min/max, bits spread
    * to even/odd positions with the magic-number spread. Rolled files
    * then cover tight contiguous curve segments = small BOXES in
    * (a, b) space, and the per-column zone maps already in every
    * manifest line serve 2-D box predicates with no reader change. */
  private def zorderShape(df: DataFrame, key: String,
      cols: Seq[String], parallelism: Int): DataFrame = {
    require(cols.size == 2, s"zorder needs two columns, got $cols")
    val bounds = df.agg(
      min(col(cols.head)).cast("long"), max(col(cols.head)).cast("long"),
      min(col(cols(1))).cast("long"), max(col(cols(1))).cast("long")).head
    if (bounds.isNullAt(0) || bounds.isNullAt(2))
      return df.repartition(parallelism, col(key)) // empty/all-null dims
    val (aLo, aHi) = (bounds.getLong(0), bounds.getLong(1))
    val (bLo, bHi) = (bounds.getLong(2), bounds.getLong(3))
    require(aHi - aLo < (1L << 54) && bHi - bLo < (1L << 54),
      s"zorder grid overflow: spans ${aHi - aLo}/${bHi - bLo}")
    // 8-bit grid: exact integer arithmetic, nulls sort first (grid -1)
    def grid(c: String, lo: Long, hi: Long) = {
      val span = hi - lo + 1L
      when(col(c).isNull, lit(-1L))
        .otherwise(expr(s"(CAST(`$c` AS BIGINT) - $lo) * 256 DIV $span"))
    }
    // Morton spread: bit i -> bit 2i, written with |/&/powers of two
    def spread(c: org.apache.spark.sql.Column) = {
      val s1 = c.bitwiseOR(c * 256).bitwiseAND(lit(16711935L))
      val s2 = s1.bitwiseOR(s1 * 16).bitwiseAND(lit(252645135L))
      val s3 = s2.bitwiseOR(s2 * 4).bitwiseAND(lit(858993459L))
      s3.bitwiseOR(s3 * 2).bitwiseAND(lit(1431655765L))
    }
    val ga = grid(cols.head, aLo, aHi)
    val gb = grid(cols(1), bLo, bHi)
    val zv = when(ga < 0 || gb < 0, lit(-1L))
      .otherwise(spread(ga) + spread(gb) * 2)
    df.repartition(parallelism, col(key)).sortWithinPartitions(zv)
  }

  /** BUCKET-COUNT EVOLUTION — scale the table's write parallelism out
    * (or in) without losing clustered reads. Mixed-modulus commits
    * read CORRECTLY today but permanently drop KeyGroupedPartitioning
    * (the scan only reports a clustering every planned file proved
    * under ONE (key, modulus)); this maintenance op:
    *
    *  1. folds the live log through [[rewriteCompact]] FORCED (even a
    *     single live manifest re-clusters) with the snapshot written
    *     at the new modulus — committing at the fence and superseding
    *     exactly what it folded, so racing writes lose nothing —
    *     retrying internally when another superseding commit races the
    *     fold, then
    *  2. declares the new `writePartitions` ONLY AFTER the snapshot
    *     commits, so every FUTURE write clusters at the new modulus.
    *
    * Order matters: declaring the contract first would strand the
    * table on a fold no-op (declared at the new modulus, live set
    * still at the old — every subsequent write then makes a
    * mixed-modulus live set and KGP stays lost until someone notices).
    * Fold-first means a failed rebucket leaves the declaration
    * untouched: the table keeps its old, internally consistent
    * contract and the caller just re-runs.
    *
    * After the fold the live set is uniform at `newPartitions`:
    * clustered catalog reads report KGP with the new bucket count and
    * storage-partitioned joins/aggregates plan zero Exchange again.
    * Young tombstones (inside `tombstoneGraceMs`) stay live at the OLD
    * modulus — reads stay correct but KGP returns only once they age
    * out into a later fold; pass grace 0 when the table is quiesced
    * and immediate re-clustering matters more than tombstone safety
    * for in-flight readers. Returns the snapshot manifest name, None
    * when the fold no-oped (another maintainer raced it — re-run). */
  def rebucket(spark: SparkSession, path: String, newPartitions: Int,
      tombstoneGraceMs: Long = 24L * 3600 * 1000): Option[String] = {
    require(newPartitions > 0, s"rebucket to $newPartitions buckets")
    val key = tableKey(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    var res: Option[String] = None
    var attempt = 0
    while (res.isEmpty && attempt < 3) {
      res = rewriteCompact(spark, path, tombstoneGraceMs,
        parallelismOverride = Some(newPartitions), force = true)
      attempt += 1
    }
    res.foreach { _ =>
      KeyedTable.updateProps(path, KeyedTable.hadoopConf())(
        _ + ("key" -> key, "writePartitions" -> newPartitions.toString))
    }
    res
  }

  /** ROLLBACK / RESTORE — Delta's `RESTORE TABLE t TO VERSION AS OF v`:
    * make the table's CURRENT state equal its state at commit sequence
    * `toSeq`, as ONE NEW commit (history above `toSeq` stays
    * time-travelable until vacuum's grace expires — rollback rewinds
    * the state, never the log). The restore rides the existing atomic
    * overwrite: read the table AS OF `toSeq`, resolve it under the
    * table's merge discipline (LWW through [[latestOver]]'s aggregate,
    * which can spill), and commit the resolved rows in a manifest
    * that supersedes everything live — truncate-then-load in
    * one commit, readers never see an intermediate state and a racing
    * write simply outranks the restore under last-write-wins.
    *
    * Discipline-aware exactly like the fold: an LWW table restores one
    * row per full primary key (tombstones at or below `toSeq` applied);
    * a COUNTER table restores one increment per key carrying the
    * accumulated total at `toSeq` — restoring raw increments through an
    * LWW-resolving overwrite would corrupt every sum. `toSeq` 0
    * restores the empty table (= TRUNCATE). Bounded by RETENTION like
    * Delta: a restore below a vacuumed fold fails loudly in the as-of
    * scan (the preimage bytes are gone), never silently partially.
    * Tail/CDF consumers see the restore as the re-assertion of the
    * restored rows (the overwrite's manifest is an ordinary data
    * commit) — the Cassandra truncate-then-reload reading of restore.
    * Returns the restore commit's sequence. */
  def rollback(spark: SparkSession, path: String, toSeq: Long): Long = {
    require(toSeq >= 0, s"rollback to sequence $toSeq")
    val conf = KeyedTable.hadoopConf()
    val cur = KeyedTable.currentSeq(path)
    require(toSeq <= cur,
      s"rollback($path, $toSeq): the table is at sequence $cur")
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    // the same rule that stops a fold from crossing a TTL'd commit:
    // restoring TTL'd rows through an expiry-less overwrite would make
    // them immortal. Refuse loudly instead of silently un-TTL-ing
    require(!KeyedTable.liveManifests(path, conf, Some(toSeq))
        .exists(_.expires >= 0),
      s"rollback($path, $toSeq): the target state holds TTL'd commits — " +
        "an expiry-less restore would immortalize them; wait for expiry " +
        "or vacuum first")
    val contract = KeyedTable.inferWriteContract(path, conf)
    val parallelism = KeyedTable.readProps(path, conf)
      .get("writePartitions").map(_.toInt)
      .orElse(contract.map(_._2)).getOrElse(8)
    val asOf = tableDF(spark, path, Map("asOfSeq" -> toSeq.toString))
    val dataCols = asOf.columns.toSeq
    val restored = mergeDiscipline(path) match {
      case "counter" =>
        // one increment per key carrying the accumulated total at
        // toSeq — the same rule the counter fold applies (an LWW
        // restore would collapse increment history and corrupt sums)
        val counterCols = dataCols.filterNot(keys.contains)
        require(counterCols.nonEmpty,
          s"counter table at $path has no non-key columns to accumulate")
        val withMeta = versioned(asOf, dataCols)
        counterSums(survivors(withMeta, keys.head,
          Some(cutsOf(withMeta, keys.head))), keys, counterCols, dataCols)
      case _ => latestOver(asOf, keys)
    }
    restored.write.format("graft.sources.KeyedTable")
      .option("key", keys.head)
      .option("writePartitions", parallelism.toString)
      .mode("overwrite").save(path)
    KeyedTable.currentSeq(path)
  }

  /** [[rollback]] spelled by INSTANT — `RESTORE TABLE ... TIMESTAMP AS
    * OF` — resolving through the manifest commit timestamps to the
    * highest sequence at or before it (the SAME Delta rule the
    * TIMESTAMP AS OF read uses, so the read and restore spellings can
    * never resolve differently). An instant before the first commit
    * restores the empty table. */
  def rollbackToTs(spark: SparkSession, path: String, tsMs: Long): Long =
    rollback(spark, path,
      KeyedTable.resolveTsToSeq(path, tsMs, KeyedTable.hadoopConf()))

  /** Run a row-level-statement body, retrying when its commit loses
    * optimistic-concurrency validation ([[ConcurrentCommitException]]
    * — including one buried in Spark's execution-exception cause
    * chain). Each retry replans the statement, which re-pins a FRESH
    * snapshot (the operation pins at build, KTable.newRowLevelOperation)
    * — exactly what the retryable abort asks the caller to do. Backoff
    * doubles per attempt with decorrelating jitter so two symmetric
    * losers do not re-collide forever. Rethrows the last failure when
    * attempts run out; every other exception propagates untouched. */
  def withConflictRetries[A](attempts: Int = 3, backoffMs: Long = 50L)(
      body: => A): A = {
    require(attempts >= 1)
    def isConflict(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[ConcurrentCommitException])
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case t: Throwable if isConflict(t) && attempt < attempts =>
          val cap = backoffMs * (1L << math.min(attempt - 1, 16))
          Thread.sleep(cap / 2 +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(
              math.max(cap / 2, 1L)))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stats-driven AUTO-COMPACTION policy: decide from manifest
    * METADATA alone (one `_commits` listing, zero data bytes scanned)
    * whether a [[rewriteCompact]] pays, and run it when it does — the
    * maintenance call a pipeline makes after each load wave instead
    * of folding on a timer. A fold pays when the live log has
    * fragmented (many live data commits — every extra live manifest
    * is another merge input for each latest() read), when purgeable
    * tombstones are outstanding (past the grace, rewriting drops the
    * hidden versions AND the markers), or when live files run small
    * on average (per-entry row counts are already in the manifest).
    * Anything below threshold is a cheap no-op, so calling this after
    * every load wave is safe by construction. */
  final case class CompactionPolicy(
      minLiveDataManifests: Int = 8,
      smallFileRows: Long = 0L,
      tombstoneGraceMs: Long = 24L * 3600 * 1000)

  def maybeCompact(spark: SparkSession, path: String,
      policy: CompactionPolicy = CompactionPolicy()): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val live = KeyedTable.liveManifests(path, conf)
    val now = System.currentTimeMillis()
    val dataManifests = live.filter(_.entries.exists(!_.tombstone))
    val purgeableTombs = live.exists(m => m.entries.nonEmpty &&
      m.entries.forall(_.tombstone) &&
      m.ts >= 0 && m.ts <= now - policy.tombstoneGraceMs)
    val files = live.flatMap(_.entries).filter(e => !e.tombstone && e.rows >= 0)
    val smallFiles = policy.smallFileRows > 0 && files.size > 1 &&
      files.map(_.rows).sum / files.size < policy.smallFileRows
    if (dataManifests.size >= policy.minLiveDataManifests ||
        purgeableTombs || smallFiles)
      rewriteCompact(spark, path, policy.tombstoneGraceMs)
    else None
  }

  /** Batch CHANGE FEED: every change event committed in (fromSeq,
    * toSeq] — upsert rows and tombstone markers, each carrying its
    * version surface (_seq, _pos, _tombstone, _file as real columns).
    * Superseded originals are included (the events happened; snapshot
    * rewrites fold content forward but change history is the log) and
    * rewrite manifests are excluded (dataChange=false) — exactly the
    * rule the streaming tail applies, so a batch consumer reading
    * changesBetween(v1, v2) sees the same events a tail stream would
    * have delivered across those commits. */
  def changesBetween(spark: SparkSession, path: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    require(fromSeq <= toSeq, s"changesBetween($fromSeq, $toSeq) is empty")
    spark.read.format("graft.sources.KeyedTable")
      .option("withVersion", "true")
      .option("changesFromSeq", fromSeq.toString)
      .option("changesToSeq", toSeq.toString)
      .load(path)
  }

  /** CHANGE DATA FEED with Delta's column spelling — the shape CDC
    * consumers expect: each change event in (fromSeq, toSeq] classified
    * as `insert` / `update_preimage` / `update_postimage` / `delete`
    * (`_change_type`), stamped `_commit_version`. [[changesBetween]]
    * emits the RAW events (upserts and tombstones with versions); this
    * derives each event's class by pairing it with the key's previous
    * version under the same last-write-wins order:
    *
    *  - an upsert whose previous version is absent-or-tombstone emits
    *    `insert` (re-insert after delete is an insert — Cassandra);
    *  - an upsert over a live previous version emits the pair
    *    `update_preimage` (old values) + `update_postimage` (new);
    *  - a tombstone over a live previous version emits `delete`
    *    carrying the deleted row's values; a tombstone of an absent
    *    key emits nothing.
    *
    * The pairing needs history at and below `toSeq` for preimages, so
    * the feed is bounded by RETENTION exactly like Delta's: a vacuumed
    * fold below `fromSeq` loses the preimages of rows it folded. The
    * classification is one `lag` window per key — a single shuffle of
    * the events slice, the cost floor for any per-key ordering. Events
    * are classified per EVENT, not net-per-commit: a key written twice
    * in (from, to] emits each transition. Single-column keys only (a
    * composite table's partition tombstones hide RANGES of rows; their
    * per-row preimages are a join the caller should spell explicitly). */
  def changeDataFeed(spark: SparkSession, path: String,
      fromSeq: Long, toSeq: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    require(keys.size == 1,
      s"changeDataFeed supports single-column keys; $path clusters on " +
        keys.mkString(","))
    val pk = keys.head
    require(0L <= fromSeq && fromSeq <= toSeq,
      s"changeDataFeed($fromSeq, $toSeq) is empty")
    // the slice's events, plus — when the feed starts mid-history —
    // each key's RESOLVED state as of fromSeq (the reader-side current
    // view, one winner row per key with its real version coordinates):
    // that one row per key is exactly what lag() consumes for the
    // first in-slice event's preimage, so an incremental poll costs
    // O(current keys + slice), never a re-shuffle of the full log
    val slice = changesBetween(spark, path, fromSeq, toSeq)
    val dataCols = slice.columns.toSeq.filterNot(KeyedTable.MetaNames)
    val evCols = dataCols.map(col) ++ Seq(col(KeyedTable.MetaSeq),
      col(KeyedTable.MetaPos), col(KeyedTable.MetaTombstone))
    val ev =
      if (fromSeq <= 0L) slice.select(evCols: _*)
      else {
        val asOf = spark.read.format("graft.sources.KeyedTable")
          .option("view", "current")
          .option("asOfSeq", fromSeq.toString)
          .load(path)
          .select(dataCols.map(col) ++ Seq(col(KeyedTable.MetaSeq),
            col(KeyedTable.MetaPos)): _*)
          .withColumn(KeyedTable.MetaTombstone, lit(false))
        slice.select(evCols: _*).unionByName(asOf)
      }
    val rest = dataCols.filterNot(_ == pk)
    val w = Window.partitionBy(col(pk)).orderBy(version)
    val prev = lag(struct(
      col(KeyedTable.MetaTombstone).as("__tomb") +: rest.map(col): _*), 1)
      .over(w)
    val cur = struct(rest.map(col): _*)
    val pre = struct(rest.map(c => col(s"__prev.`$c`").as(c)): _*)
    val prevLive = col("__prev").isNotNull && !col("__prev.__tomb")
    val valsType = org.apache.spark.sql.types.StructType(rest.map(c =>
      ev.schema(ev.schema.fieldIndex(c)).copy(nullable = true)))
    val changeType = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vals", valsType,
        nullable = true),
      org.apache.spark.sql.types.StructField("ct",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val staged = ev.withColumn("__prev", prev)
      .where(col(KeyedTable.MetaSeq) > fromSeq)
      .withColumn("__changes",
        when(!col(KeyedTable.MetaTombstone) && !prevLive,
          array(struct(cur.as("vals"), lit("insert").as("ct"))))
        .when(!col(KeyedTable.MetaTombstone) && prevLive,
          array(
            struct(pre.as("vals"), lit("update_preimage").as("ct")),
            struct(cur.as("vals"), lit("update_postimage").as("ct"))))
        .when(col(KeyedTable.MetaTombstone) && prevLive,
          array(struct(pre.as("vals"), lit("delete").as("ct"))))
        .otherwise(array().cast(
          org.apache.spark.sql.types.ArrayType(changeType))))
    staged.select(col(pk), col(KeyedTable.MetaSeq).as("_commit_version"),
        explode(col("__changes")).as("__c"))
      .select((col(pk) +: rest.map(c => col(s"__c.vals.`$c`").as(c))) ++ Seq(
        col("__c.ct").as("_change_type"), col("_commit_version")): _*)
  }

  /** SQL UPDATE semantics, compiled to the table's native upsert:
    * rows of the CURRENT state (the snapshot-pinned [[latest]] view)
    * matching `cond` are re-written with the SET expressions applied —
    * ONE append commit whose rows outrank the old versions under
    * last-write-wins. Cassandra's UPDATE *is* an upsert write; this
    * is the predicate-driven spelling, with the cost contract stated
    * plainly: evaluating `cond` is one clustered scan of the current
    * state (file pruning applies when the predicate is prunable), and
    * the write is O(#matched rows) — never a table rewrite. SET
    * expressions may reference the row's current columns
    * (`set("cents" -> (col("cents") + 100))` increments). Primary-key
    * columns cannot be SET — changing a key is a DELETE plus an
    * INSERT, a different statement with different semantics. */
  def update(spark: SparkSession, path: String, cond: Column,
      set: Map[String, Column]): Unit = {
    val conf = KeyedTable.hadoopConf()
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    val schema = KeyedTable.readSchemaFile(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"KeyedTable at $path has no committed schema"))
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val badKey = set.keys.filter(keys.contains)
    require(badKey.isEmpty,
      s"cannot SET primary-key columns ${badKey.mkString(",")} — " +
        "a key change is DELETE + INSERT")
    val unknown = set.keys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"SET columns ${unknown.mkString(",")} are not columns of $schema")
    val parallelism = KeyedTable.readProps(path, conf).get("writePartitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .orElse(KeyedTable.inferWriteContract(path, conf).map(_._2))
      .getOrElse(8)
    latest(spark, path).where(cond)
      .select(schema.fieldNames.toSeq.map(c =>
        set.get(c).map(_.as(c)).getOrElse(col(c))): _*)
      .write.format("graft.sources.KeyedTable")
      .option("key", keys.head)
      .option("writePartitions", parallelism.toString)
      .mode("append").save(path)
  }

  /** SQL MERGE INTO, compiled to the table's NATIVE verbs — the
    * single-statement spelling of the CDC apply a migration user
    * reaches for first. Star semantics (UPDATE SET * / INSERT *: the
    * source carries every table column); clause conditions evaluate
    * over the source rows, clause order is SQL MERGE's (DELETE before
    * UPDATE):
    *
    *  - WHEN MATCHED AND deleteWhen THEN DELETE   -> one tombstone
    *    commit (O(#deleted keys) marker bytes, nothing scanned);
    *  - WHEN MATCHED [AND !deleteWhen] THEN UPDATE SET * -> appends
    *    (upserts — last-write-wins outranks the old versions);
    *  - WHEN NOT MATCHED THEN INSERT *            -> the same append.
    *
    * Updates and inserts land as ONE append commit; "matched" means
    * present in the CURRENT state (the snapshot-pinned [[latest]]
    * view — tombstoned keys count as absent, so re-inserting a
    * deleted key takes the INSERT branch and wins, exactly Cassandra).
    * The delete key set crosses the driver (it becomes the tombstone
    * predicate) — MERGE deletes are CDC-delete-wave sized, the same
    * bound as the SQL DELETE path. DELETE on a composite-key table is
    * refused: tombstones are partition-level (range tombstones), so a
    * full-key MERGE delete would silently hide sibling clustering
    * rows. */
  def merge(spark: SparkSession, path: String, source: DataFrame,
      deleteWhen: Option[Column] = None,
      updateWhenMatched: Boolean = true,
      insertWhenNotMatched: Boolean = true): Unit = {
    val conf = KeyedTable.hadoopConf()
    val keys = tableKeys(path).getOrElse(throw new IllegalArgumentException(
      s"KeyedTable at $path has no declared or proven key column"))
    val schema = KeyedTable.readSchemaFile(path, conf).getOrElse(
      throw new IllegalArgumentException(
        s"KeyedTable at $path has no committed schema"))
    val dataCols = schema.fieldNames.toSeq
    val missing = dataCols.filterNot(source.columns.contains)
    require(missing.isEmpty,
      s"MERGE uses SET * / INSERT *: source lacks table columns " +
        missing.mkString(","))
    require(deleteWhen.isEmpty || keys.size == 1,
      s"MERGE ... DELETE on composite-key table $path refused: " +
        "tombstones delete whole partitions (range tombstones), which " +
        "would hide sibling clustering rows — use SQL DELETE on the " +
        "partition key explicitly")
    val pk = keys.head
    val parallelism = KeyedTable.readProps(path, conf).get("writePartitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .orElse(KeyedTable.inferWriteContract(path, conf).map(_._2))
      .getOrElse(8)
    // the source evaluates THREE times in this statement (cardinality
    // check, matched semi-join, not-matched anti-join) — pin it once
    // for the statement's duration so an expensive upstream pipeline
    // is not recomputed per use
    val src = source.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // SQL MERGE's cardinality rule (and the SQL statement path's, via
    // Spark's own MERGE_CARDINALITY_VIOLATION): two source rows for one
    // key would both append and resolve by (_seq,_pos), where _pos
    // depends on physical partitioning — a nondeterministic winner.
    // One cheap aggregate over the CDC-batch-sized source refuses that
    // loudly instead
    val dup = src.groupBy(keys.map(col): _*).count()
      .where(col("count") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"MERGE source has duplicate rows for key ${dup.headOption
        .map(_.toSeq.init.mkString(",")).getOrElse("")} — SQL MERGE " +
        "refuses ambiguous matches (the winner would depend on " +
        "physical row order); deduplicate the source first")
    val current = latest(spark, path).select(keys.map(col): _*)
    val matched = src.join(current, keys, "left_semi")
    // SQL clause fallthrough: a NULL delete condition means "this
    // clause does not fire", so the row falls through to UPDATE —
    // both branches coalesce the condition to false (a bare
    // where(!cond) would silently drop NULL-condition rows from BOTH)
    val fires = deleteWhen.map(c => coalesce(c, lit(false)))
    // tombstone wave FIRST (its commit sequence precedes the upsert
    // wave's, and the two waves' key sets are disjoint by clause
    // precedence, so ordering can never mis-resolve)
    fires.foreach { cond =>
      val dt = schema.fields(schema.fieldIndex(pk)).dataType
      val ks = matched.where(cond).select(col(pk)).distinct()
        .collect().toSeq.map(_.get(0)).filter(_ != null).map { v =>
          // the same external->catalyst conversion the filter pushdown
          // uses — temporal keys arrive as java.sql/java.time objects,
          // doubles need -0.0 normalization before bucket routing
          KeyedTable.toCatalyst(dt, v).getOrElse(
            throw new IllegalArgumentException(
              s"MERGE delete key '$v' (${v.getClass.getName}) does not " +
                s"convert to ${dt.sql}"))
        }
      if (ks.nonEmpty)
        KeyedTable.deleteKeys(path, schema, pk, ks, parallelism, conf)
    }
    val updates =
      if (!updateWhenMatched) None
      else Some(fires.map(c => matched.where(!c)).getOrElse(matched))
    val inserts =
      if (insertWhenNotMatched) Some(src.join(current, keys, "left_anti"))
      else None
    (updates.toSeq ++ inserts.toSeq).reduceOption(_ unionByName _)
      .foreach { wave =>
        wave.select(dataCols.map(col): _*)
          .write.format("graft.sources.KeyedTable")
          .option("key", pk)
          .option("writePartitions", parallelism.toString)
          .mode("append").save(path)
      }
    } finally { src.unpersist(); () }
  }
}
