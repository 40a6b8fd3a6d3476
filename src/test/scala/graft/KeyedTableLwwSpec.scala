package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The Cassandra data model on the keyed table: last-write-wins upsert
  * reads, key-only DELETE via tombstone commits, snapshot rewrite
  * compaction (dataChange=false for tails), VERSION AS OF time travel,
  * and retention vacuum. */
class KeyedTableLwwSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long, tag: String): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"$tag$k", k * 10L)).toDF("k", "s", "c")
  }

  private def readBack(target: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(target)

  private def sink = V2KeyedTableSink("k", writeParallelism = 4)

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  test("metadata columns expose the commit order") {
    val t = tmpDir("graft_klww_meta_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    sink.append(rows(5, 10, "b"), t)
    val got = readBack(t)
      .select(col("k"), col("_seq"), col("_pos"), col("_tombstone"),
        col("_file"))
      .collect()
    assert(got.length === 15)
    assert(got.map(_.getLong(1)).distinct.sorted.toSeq === Seq(1L, 2L),
      "two appends must carry commit sequences 1 and 2")
    assert(got.forall(!_.getBoolean(3)), "no tombstones were written")
    val files = KeyedTable.committedFiles(t).toSet
    assert(got.map(_.getString(4)).toSet.subsetOf(files))
    // within one commit a key's versions order by _pos; across commits
    // the same key appears once per commit with distinct seqs
    val perKey = got.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert((0L until 5L).forall(perKey(_) == 1))
    assert((5L until 10L).forall(perKey(_) == 2))
  }

  test("data columns must not shadow the metadata surface") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klww_res_") + "/t"
    val bad = Seq((1L, 2L)).toDF("k", "_seq")
    val e = intercept[Exception] {
      bad.write.format("graft.sources.KeyedTable")
        .option("key", "k").mode("append").save(t)
    }
    assert(e.getMessage.contains("reserved"))
  }

  test("latest view resolves last-write-wins, shuffle-free via catalog") {
    val t = tmpDir("graft_klww_latest_") + "/t"
    sink.append(rows(0, 20, "a"), t)
    sink.append(rows(0, 20, "b").where(col("k") % 3 === 0), t)
    withCatalog {
      val latest = KeyedTableOps.latest(spark, t)
      assert(graft.ops.PlanChecks.countShuffles(
        latest.queryExecution.executedPlan) == 0,
        "latest view over the clustered catalog read planned an Exchange")
      val got = latest.collect().map(r =>
        r.getLong(0) -> r.getString(1)).toMap
      assert(got.size === 20)
      (0L until 20L).foreach { k =>
        val want = if (k % 3 == 0) s"b$k" else s"a$k"
        assert(got(k) === want, s"key $k resolved ${got(k)}, want $want")
      }
    }
  }

  test("SQL DELETE writes tombstones; re-insert outranks them") {
    val t = tmpDir("graft_klww_del_") + "/t"
    sink.append(rows(0, 12, "a"), t)
    withCatalog {
      val before = KeyedTable.committedFiles(t).size
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (3, 7)")
      // delete wrote marker files, scanned nothing, rewrote nothing
      val added = KeyedTable.committedFiles(t).size - before
      assert(added >= 1 && added <= 2,
        s"delete of two keys added $added files — expected tiny tombstones")
      val afterDelete = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(afterDelete === (0L until 12L).toSet -- Set(3L, 7L))
      // raw log keeps everything: 12 data rows + 2 markers
      assert(readBack(t).count() === 14)
      assert(readBack(t).where(col("_tombstone")).count() === 2)
      // a later write of a deleted key wins again (Cassandra re-insert)
      sink.append(rows(3, 4, "c"), t)
      val resurrected = KeyedTableOps.latest(spark, t)
        .where(col("k") === 3).collect()
      assert(resurrected.length === 1 && resurrected.head.getString(1) === "c3")
      // non-key predicates take the row-level path (scan the current
      // state, tombstone the matching keys) instead of being refused —
      // still markers, never a table rewrite
      val pre = KeyedTable.committedFiles(t).size
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE s = 'a5'")
      assert(KeyedTable.committedFiles(t).size - pre <= 2,
        "non-key DELETE must cost tombstone markers, not a rewrite")
      val afterRowLevel = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(afterRowLevel ===
        (0L until 12L).toSet -- Set(5L, 7L),
        "row-level DELETE must tombstone exactly the matching keys")
    }
  }

  test("VERSION AS OF reads the state at a commit sequence") {
    val t = tmpDir("graft_klww_tt_") + "/t"
    sink.append(rows(0, 10, "a"), t)
    val v1 = KeyedTable.currentSeq(t)
    sink.append(rows(0, 10, "b").where(col("k") < 4), t)
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 9")
      assert(v1 === 1L)
      val asOf1 = spark.sql(
        s"SELECT * FROM graft_keyed.`$t` VERSION AS OF $v1")
      assert(asOf1.count() === 10)
      assert(asOf1.where(col("s").startsWith("b")).count() === 0,
        "time travel leaked a later commit")
      // latest-at-version composes: as-of 2 sees the update, not the delete
      val asOf2 = spark.read.format("graft.sources.KeyedTable")
        .option("asOfSeq", "2").load(t)
      val latest2 = KeyedTableOps.latestOver(asOf2, "k").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(latest2(2L) === "b2" && latest2(9L) === "a9")
      // historical loads are read-only
      val e = intercept[Exception] {
        spark.sql(s"INSERT INTO graft_keyed.`$t` VERSION AS OF 1 " +
          "VALUES (99, 'x', 0)")
      }
      assert(e.getMessage.contains("VERSION AS OF") ||
        e.getMessage.toLowerCase.contains("read-only") ||
        e.getMessage.toLowerCase.contains("unsupported"))
    }
  }

  test("rewriteCompact folds the log; racing semantics preserved") {
    val t = tmpDir("graft_klww_rw_") + "/t"
    sink.append(rows(0, 16, "a"), t)
    sink.append(rows(0, 16, "b").where(col("k") % 2 === 0), t)
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (1, 2)")
      val expected = (0L until 16L).filterNot(k => k == 1 || k == 2)
        .map(k => k -> (if (k % 2 == 0) s"b$k" else s"a$k")).toMap

      // grace = 0: the tombstone is purged into the snapshot
      val name = KeyedTableOps.rewriteCompact(spark, t, tombstoneGraceMs = 0)
      assert(name.isDefined, "three live commits must fold")
      val live = KeyedTable.liveManifestNames(t)
      assert(live === Seq(name.get),
        s"after rewrite the live set must be the snapshot alone: $live")
      // raw view IS the snapshot now: one row per surviving key, no
      // markers
      assert(readBack(t).count() === expected.size)
      assert(readBack(t).where(col("_tombstone")).count() === 0)
      val got = KeyedTableOps.latest(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === expected, "rewrite changed the latest view")

      // the snapshot committed AT the fence: a post-rewrite write gets
      // a higher sequence and outranks it
      val fence = KeyedTable.currentSeq(t)
      sink.append(rows(4, 5, "c"), t)
      assert(KeyedTable.currentSeq(t) > fence)
      val after = KeyedTableOps.latest(spark, t)
        .where(col("k") === 4).head()
      assert(after.getString(1) === "c4")

      // time travel below the fence resolves the ORIGINAL commits
      val asOf1 = spark.sql(s"SELECT * FROM graft_keyed.`$t` VERSION AS OF 1")
      assert(asOf1.count() === 16)
      assert(asOf1.where(col("s").startsWith("a")).count() === 16)

      // re-running the same fold is a no-op replay, not a second
      // snapshot (nothing new to fold besides the fresh commit)
      val again = KeyedTableOps.rewriteCompact(spark, t, tombstoneGraceMs = 0)
      assert(again.isDefined && again.get != name.get,
        "second fold covers the new commit set")
      assert(KeyedTableOps.latest(spark, t).count() === expected.size)

      // vacuum(0) reclaims superseded bytes; live files survive
      val liveNow = KeyedTable.liveFiles(t).toSet
      val deleted = KeyedTable.vacuum(t, graceMs = 0)
      assert(deleted.nonEmpty, "superseded originals must be reclaimable")
      assert(liveNow.forall(f => !deleted.contains(f)),
        "vacuum touched a live file")
      assert(KeyedTableOps.latest(spark, t).count() === expected.size)
    }
  }

  test("young tombstones survive rewrite but stay applied") {
    val t = tmpDir("graft_klww_grace_") + "/t"
    sink.append(rows(0, 8, "a"), t)
    sink.append(rows(0, 8, "b").where(col("k") < 2), t)
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 5")
      // huge grace: the tombstone manifest must NOT be superseded
      val name = KeyedTableOps.rewriteCompact(spark, t,
        tombstoneGraceMs = 7L * 24 * 3600 * 1000)
      assert(name.isDefined)
      val live = KeyedTable.liveManifestNames(t).toSet
      assert(live.size === 2 && live.exists(_.startsWith("delete-")),
        s"young tombstone must stay live: $live")
      // and the deleted key stays deleted (applied in the snapshot,
      // still hidden by the live marker — idempotent either way)
      val keys = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(keys === (0L until 8L).toSet - 5L)
      // a second fold with grace 0 purges it
      KeyedTableOps.rewriteCompact(spark, t, tombstoneGraceMs = 0)
      assert(KeyedTable.liveManifestNames(t).size === 1)
      val keys2 = KeyedTableOps.latest(spark, t)
        .select("k").collect().map(_.getLong(0)).toSet
      assert(keys2 === (0L until 8L).toSet - 5L,
        "purging the tombstone resurrected the key")
    }
  }

  test("tails skip rewrites: in-flight resumes exactly-once, fresh replays") {
    val base = tmpDir("graft_klww_tail_")
    val t = s"$base/t"
    sink.append(rows(0, 10, "a"), t)
    sink.append(rows(10, 20, "a"), t)
    def run(out: String, ckpt: String) = spark.readStream
      .format("graft.sources.KeyedTable")
      .option("manifestsPerTrigger", "1").load(t)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    val q1 = run(s"$base/out", s"$base/ckpt")
    assert(q1.awaitTermination(120000), "tail run 1 hung")
    assert(spark.read.parquet(s"$base/out").count() === 20L)

    // a third commit lands, then the log is REWRITTEN into a snapshot
    sink.append(rows(20, 30, "a"), t)
    assert(KeyedTableOps.rewriteCompact(spark, t, 0).isDefined)
    assert(KeyedTable.liveManifestNames(t).size === 1)

    // the in-flight tail resumes: exactly commit 3's rows, never the
    // snapshot (no re-delivery of rows it already consumed)
    val q2 = run(s"$base/out", s"$base/ckpt")
    assert(q2.awaitTermination(120000), "tail run 2 hung")
    val resumed = spark.read.parquet(s"$base/out")
    assert(resumed.count() === 30L,
      s"resume across rewrite delivered ${resumed.count()} rows")
    assert(resumed.select("k").distinct().count() === 30L)

    // a FRESH tail replays the full change history (the originals are
    // retained until vacuum's grace) — still no snapshot delivery
    val q3 = run(s"$base/out2", s"$base/ckpt2")
    assert(q3.awaitTermination(120000), "fresh tail hung")
    assert(spark.read.parquet(s"$base/out2").count() === 30L)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("mode(overwrite) atomically replaces the live state") {
    val t = tmpDir("graft_klww_ovr_") + "/t"
    sink.append(rows(0, 20, "a"), t)
    sink.append(rows(0, 5, "b"), t)
    rows(100, 108, "n").write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .mode("overwrite").save(t)
    // batch view IS the overwrite; history is superseded, not deleted
    val got = readBack(t).select("k", "s").collect()
    assert(got.length === 8)
    assert(got.forall(_.getString(1).startsWith("n")))
    assert(KeyedTable.liveManifestNames(t).size === 1)
    assert(KeyedTable.committedFiles(t).size >
      KeyedTable.liveFiles(t).size, "originals must stay referenced")
    // time travel below the overwrite still resolves the old state
    withCatalog {
      val asOf2 = spark.sql(s"SELECT * FROM graft_keyed.`$t` VERSION AS OF 2")
      assert(asOf2.count() === 25)
      // an append AFTER the overwrite coexists with it (plain append
      // semantics resume)
      sink.append(rows(200, 201, "p"), t)
      assert(KeyedTableOps.latest(spark, t).count() === 9)
    }
  }

  test("SQL TRUNCATE TABLE empties the live view, keeps history") {
    val t = tmpDir("graft_klww_trunc_") + "/t"
    sink.append(rows(0, 15, "a"), t)
    withCatalog {
      spark.sql(s"TRUNCATE TABLE graft_keyed.`$t`")
      assert(readBack(t).count() === 0)
      assert(KeyedTableOps.latest(spark, t).count() === 0)
      // the write contract survives truncation: inserts keep clustering
      sink.append(rows(30, 40, "b"), t)
      assert(KeyedTableOps.latest(spark, t).count() === 10)
      val asOf1 = spark.sql(s"SELECT * FROM graft_keyed.`$t` VERSION AS OF 1")
      assert(asOf1.count() === 15, "history must survive until vacuum")
    }
  }

  test("withVersion tail: the change feed carries versions and tombstones") {
    val base = tmpDir("graft_klww_feed_")
    val t = s"$base/t"
    sink.append(rows(0, 6, "a"), t)
    sink.append(rows(2, 3, "b"), t)
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 4")
    }
    // a withVersion read handle is read-only
    val w = intercept[Exception] {
      rows(0, 1, "x").write.format("graft.sources.KeyedTable")
        .option("key", "k").option("withVersion", "true")
        .mode("append").save(t)
    }
    assert(w.getMessage.contains("read-only") ||
      w.getMessage.contains("reserved"))
    val q = spark.readStream.format("graft.sources.KeyedTable")
      .option("withVersion", "true")
      .option("manifestsPerTrigger", "1").load(t)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "feed tail hung")
    val feed = spark.read.parquet(s"$base/out")
    assert(feed.count() === 8) // 6 + 1 update + 1 delete marker
    assert(feed.where(col("_tombstone")).select("k", "_seq")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((4L, 3L)))
    assert(feed.select("_seq").distinct().count() === 3)
    // batch withVersion agrees with the metadata-column spelling
    val batch = spark.read.format("graft.sources.KeyedTable")
      .option("withVersion", "true").load(t)
    assert(batch.columns.toSeq ===
      Seq("k", "s", "c", "_seq", "_pos", "_tombstone", "_file"))
    assert(batch.count() === 8)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("composite tables with declared clustering survive rewriteCompact") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klww_comprw_") + "/t"
    // customer partitions, order rows: PK (k, ord)
    val rows = (0L until 6L).flatMap(k =>
      (0L until 4L).map(o => (k, k * 10 + o, s"v$k-$o")))
      .toDF("k", "ord", "s")
    sink.append(rows, t)
    sink.append(rows.where(col("ord") % 2 === 0)
      .withColumn("s", lit("upd")), t)
    KeyedTableOps.declareClustering(t, Seq("ord"))
    withCatalog {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 3")
      val before = KeyedTableOps.latest(spark, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
      assert(before.size === 20, "5 customers x 4 orders")
      assert(before((0L, 0L)) === "upd" && before((0L, 1L)) === "v0-1")
      val folded = KeyedTableOps.rewriteCompact(spark, t, 0)
      assert(folded.isDefined)
      val after = KeyedTableOps.latest(spark, t)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
        .toMap
      assert(after === before,
        "rewrite folded the composite table down and lost clustering rows")
      // and the snapshot really is the live set
      assert(KeyedTable.liveManifestNames(t).size === 1)
    }
  }

  test("re-clustering overwrite does not poison contract inference") {
    val t = tmpDir("graft_klww_reclus_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 4).append(rows(0, 12, "a"), t)
    rows(0, 6, "b").write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "8")
      .mode("overwrite").save(t)
    withCatalog {
      // inference must follow the LIVE contract (k, 8), not refuse on
      // the superseded 4-bucket history
      val got = KeyedTableOps.latest(spark, t)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === (0L until 6L).map(k => k -> s"b$k").toMap)
      // appends keep composing under the LIVE contract (8 buckets —
      // mixing moduli among live commits would re-ambiguate inference,
      // by design)
      V2KeyedTableSink("k", writeParallelism = 8).append(rows(6, 8, "c"), t)
      assert(KeyedTableOps.latest(spark, t).count() === 8)
    }
  }

  test("a rewrite whose inputs were superseded no-ops at commit") {
    val t = tmpDir("graft_klww_stale_") + "/t"
    sink.append(rows(0, 8, "a"), t)
    sink.append(rows(0, 2, "b"), t)
    withCatalog {
      val preNames = KeyedTable.liveManifestNames(t)
      // a real fold consumes both commits
      assert(KeyedTableOps.rewriteCompact(spark, t, 0).isDefined)
      val liveAfter = KeyedTable.liveManifestNames(t)
      // now hand-drive a STALE fold: it claims to supersede the
      // original (already-superseded) manifests — commit must no-op
      val before = KeyedTable.committedFiles(t).size
      readBack(t).select("k", "s", "c")
        .write.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "4")
        .option("rewriteSeq", "2")
        .option("rewriteSupersedes", preNames.mkString(","))
        .mode("append").save(t)
      assert(KeyedTable.liveManifestNames(t) === liveAfter,
        "a stale rewrite changed the live set")
      assert(KeyedTable.committedFiles(t).size === before,
        "a stale rewrite committed files")
      assert(KeyedTableOps.latest(spark, t).count() === 8)
    }
  }

  test("compact prunes spent sequence markers; sequences never reuse") {
    val t = tmpDir("graft_klww_mark_") + "/t"
    (0 until 5).foreach(i => sink.append(rows(i * 10, i * 10 + 5, "a"), t))
    def markers() = new java.io.File(s"$t/_commits").listFiles()
      .map(_.getName).filter(n => n.startsWith(".seq-") && n.endsWith(".res"))
      .toSeq
    assert(markers().size === 5)
    KeyedTable.compact(t)
    assert(markers() === Seq(".seq-5.res"),
      s"compact must keep exactly the highest marker: ${markers()}")
    sink.append(rows(100, 101, "z"), t)
    assert(KeyedTable.currentSeq(t) === 6L,
      "the next commit after marker pruning must take seq 6, not reuse")
  }

  test("TTL: born-expired commits never read; bytes reclaim; feed keeps them") {
    val base = tmpDir("graft_klww_ttl_")
    val t = s"$base/t"
    def write(df: DataFrame, ttlMs: Option[Long]) = {
      val w = df.write.format("graft.sources.KeyedTable")
        .option("key", "k").option("writePartitions", "2")
      ttlMs.foreach(v => w.option("ttlMs", v.toString))
      w.mode("append").save(t)
    }
    write(rows(0, 6, "live"), Some(365L * 24 * 3600 * 1000))
    write(rows(10, 16, "gone"), Some(0L))
    write(rows(6, 8, "forever"), None)
    assert(readBack(t).count() === 8, "expired commit leaked into a read")
    withCatalog {
      assert(KeyedTableOps.latest(spark, t).count() === 8)
      // time travel does not resurrect TTL'd data
      assert(spark.sql(s"SELECT * FROM graft_keyed.`$t` VERSION AS OF 2")
        .count() === 6)
    }
    // the change feed carries the expired commit while its bytes are
    // inside the retention window — the events happened
    val q = spark.readStream.format("graft.sources.KeyedTable").load(t)
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "ttl feed tail hung")
    assert(spark.read.parquet(s"$base/out").count() === 14,
      "the feed must deliver live AND expired commits (6+6+2)")
    // expired bytes reclaim after the grace; live files untouched,
    // reads unchanged (a tail resuming past the grace fails LOUDLY on
    // the reclaimed bytes — the standard retention contract)
    val liveFiles = KeyedTable.liveFiles(t).toSet
    val reclaimed = KeyedTable.vacuum(t, graceMs = 0)
    assert(reclaimed.nonEmpty && !reclaimed.exists(liveFiles))
    assert(readBack(t).count() === 8)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("counters: sum-merge reads, delete resets, re-increments count anew") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klww_cnt_") + "/t"
    val sink2 = V2KeyedTableSink("k", writeParallelism = 4)
    sink2.append(Seq((1L, 10L), (1L, 5L), (2L, 7L)).toDF("k", "inc"), t)
    sink2.append(Seq((1L, 1L), (2L, 2L)).toDF("k", "inc"), t)
    withCatalog {
      val before = KeyedTableOps.counterTotals(spark, t, Seq("inc"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(before === Map(1L -> (3L, 16L), 2L -> (2L, 9L)))
      // reset key 1, then increment it again: counts restart from zero
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 1")
      sink2.append(Seq((1L, 100L)).toDF("k", "inc"), t)
      val after = KeyedTableOps.counterTotals(spark, t, Seq("inc"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(after === Map(1L -> (1L, 100L), 2L -> (2L, 9L)))
      // reset key 2 with no re-increment: the key reads as absent
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 2")
      val keys = KeyedTableOps.counterTotals(spark, t, Seq("inc"))
        .select("k").collect().map(_.getLong(0)).toSet
      assert(keys === Set(1L))
      // time travel through the READER option (catalog loads cannot
      // thread constructor options): state before any delete
      val asOf2 = spark.read.option("asOfSeq", "2")
        .table(s"graft_keyed.`$t`")
      assert(asOf2.count() === 5)
    }
  }

  test("an expired TTL'd overwrite leaves the table empty, not resurrected") {
    val t = tmpDir("graft_klww_ttlovr_") + "/t"
    sink.append(rows(0, 10, "old"), t)
    rows(100, 103, "tmp").write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .option("ttlMs", "0") // born expired
      .mode("overwrite").save(t)
    // the overwrite's supersedes survive its own expiry: the old rows
    // must NOT come back (their bytes may already be vacuumed)
    assert(readBack(t).count() === 0,
      "expired overwrite resurrected the rows it replaced")
    withCatalog {
      assert(KeyedTableOps.latest(spark, t).count() === 0)
    }
    // appends after the expired overwrite start a fresh state
    sink.append(rows(50, 53, "new"), t)
    assert(readBack(t).select("s").collect().map(_.getString(0)).toSet ===
      Set("new50", "new51", "new52"))
  }

  test("rewriteCompact never folds across a live TTL'd commit") {
    val t = tmpDir("graft_klww_ttlrw_") + "/t"
    sink.append(rows(0, 6, "a"), t)
    sink.append(rows(0, 3, "b"), t)
    // a short-TTL wave lands between the folds-to-be and fresh data
    rows(10, 13, "ttl").write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .option("ttlMs", "4000").mode("append").save(t)
    sink.append(rows(20, 23, "c"), t)
    withCatalog {
      val folded = KeyedTableOps.rewriteCompact(spark, t, 0)
      assert(folded.isDefined, "the two pre-TTL commits must fold")
      val live = KeyedTable.liveManifestNames(t)
      assert(live.size === 3,
        s"fence must stop below the TTL'd commit: $live")
      // all three populations read while the TTL holds...
      val now = KeyedTableOps.latest(spark, t)
        .select("s").collect().map(_.getString(0)).toSet
      assert(now.exists(_.startsWith("ttl")) &&
        now.exists(_.startsWith("c")) && now("b0") && now("a3"))
      // ...and the folded snapshot did NOT make the TTL'd rows
      // immortal: they still expire on schedule
      Thread.sleep(4500)
      val after = KeyedTableOps.latest(spark, t)
        .select("s").collect().map(_.getString(0)).toSet
      assert(!after.exists(_.startsWith("ttl")) &&
        after.exists(_.startsWith("c")) && after("b0"),
        s"TTL did not survive the rewrite: $after")
    }
  }

  test("merge views are snapshot-consistent from construction") {
    val t = tmpDir("graft_klww_pin_") + "/t"
    sink.append(rows(0, 5, "a"), t)
    withCatalog {
      val pinned = KeyedTableOps.latest(spark, t)
      // a commit racing the read lands AFTER the pin: the constructed
      // view must not tear (half-seeing it); a fresh view sees it
      sink.append(rows(0, 2, "b"), t)
      assert(pinned.select("s").collect().map(_.getString(0)).toSet ===
        (0 until 5).map(i => s"a$i").toSet)
      val fresh = KeyedTableOps.latest(spark, t)
        .select("s").collect().map(_.getString(0)).toSet
      assert(fresh === Set("b0", "b1", "a2", "a3", "a4"))
    }
  }

  test("composite counter tables keep one counter per full key") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klww_ccnt_") + "/t"
    val sink2 = V2KeyedTableSink("k", writeParallelism = 2)
    sink2.append(Seq((1L, "a", 5L), (1L, "b", 7L), (2L, "a", 1L))
      .toDF("k", "ck", "inc"), t)
    sink2.append(Seq((1L, "a", 2L)).toDF("k", "ck", "inc"), t)
    KeyedTableOps.declareClustering(t, Seq("ck"))
    withCatalog {
      val got = KeyedTableOps.counterTotals(spark, t, Seq("inc"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(got === Map((1L, "a") -> (2L, 7L), (1L, "b") -> (1L, 7L),
        (2L, "a") -> (1L, 1L)))
      // a partition delete resets EVERY clustering row of the key
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k = 1")
      sink2.append(Seq((1L, "a", 100L)).toDF("k", "ck", "inc"), t)
      val after = KeyedTableOps.counterTotals(spark, t, Seq("inc"))
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      assert(after === Map((1L, "a") -> (1L, 100L), (2L, "a") -> (1L, 1L)))
    }
  }

  test("racing commits reserve distinct sequences") {
    val t = tmpDir("graft_klww_race_") + "/t"
    // schema published first so the race is purely over sequences
    sink.append(rows(0, 1, "z"), t)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try {
      val fs = Seq(
        Future(sink.append(rows(100, 110, "x"), t)),
        Future(sink.append(rows(200, 210, "y"), t)))
      fs.foreach(Await.result(_, 120.seconds))
    } finally pool.shutdown()
    val seqs = readBack(t).select("_seq").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(seqs === Seq(1L, 2L, 3L),
      s"three commits must hold three distinct sequences, got $seqs")
  }
}
