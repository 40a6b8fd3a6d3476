package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-17 keyed-table maintenance surface: schema evolution, all-
  * column zone maps, MERGE compiled to native verbs, the stats-driven
  * auto-compaction policy, counter-fold discipline, the batch change
  * feed, TIMESTAMP AS OF, and the hardened maintenance-lock takeover.
  * The oracled catalog entries prove end-to-end correctness; these
  * specs pin the REFUSALS and edge contracts the entries can't
  * (illegal evolutions, composite MERGE deletes, policy thresholds
  * both ways, stale-lock recovery). */
class KeyedTableMaintenanceSpec extends SparkSpecBase {

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def cleanup(t: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(new java.io.File(t).getParentFile)
  }

  private def rows(n: Long, tag: String = "v"): DataFrame = {
    spark.range(0, n).select(col("id").as("k"),
      concat(lit(tag), col("id")).as("s"))
  }

  test("schema evolution: old files NULL-fill, new commits carry values") {
    val t = tmpTable("graft_evo_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(100), t)
    KeyedTable.addColumns(t,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))
    sink.append(spark.range(0, 10).select(col("id").as("k"),
      lit("u").as("s"), (col("id") * 2).as("extra")), t)
    val df = spark.read.format("graft.sources.KeyedTable").load(t)
    assert(df.columns.toSeq == Seq("k", "s", "extra"))
    // pre-evolution rows read extra as NULL; post-evolution carry it
    assert(df.where(col("extra").isNull).count() == 100)
    assert(df.where(col("extra").isNotNull).count() == 10)
    val latest = KeyedTableOps.latest(spark, t)
    assert(latest.where(col("extra").isNotNull).count() == 10)
    assert(latest.count() == 100)
    cleanup(t)
  }

  test("schema evolution rejects type changes, reorders, and drops") {
    val t = tmpTable("graft_evo_bad_")
    V2KeyedTableSink("k", 4).append(rows(10), t)
    def write(df: DataFrame): Unit =
      df.write.format("graft.sources.KeyedTable")
        .option("key", "k").mode("append").save(t)
    // type change
    intercept[Exception] {
      write(spark.range(0, 5).select(col("id").as("k"),
        col("id").as("s"))) // s: long, table has string
    }
    // reorder
    intercept[Exception] {
      write(spark.range(0, 5).select(lit("x").as("s"), col("id").as("k")))
    }
    // drop + add (not a trailing append)
    intercept[Exception] {
      write(spark.range(0, 5).select(col("id").as("k"),
        col("id").as("extra")))
    }
    // duplicate add through the API
    intercept[Exception] {
      KeyedTable.addColumns(t,
        Seq(org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType)))
    }
    cleanup(t)
  }

  test("a committed-prefix write stays legal after evolution") {
    val t = tmpTable("graft_evo_prefix_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(20), t)
    KeyedTable.addColumns(t,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))
    // a writer still on the old schema (concurrent with the evolution)
    // must not be rejected — its frame is a committed prefix
    sink.append(rows(5, "old"), t)
    val df = spark.read.format("graft.sources.KeyedTable").load(t)
    assert(df.count() == 25 && df.where(col("extra").isNull).count() == 25)
    cleanup(t)
  }

  test("zone maps prune files on non-key predicates") {
    val t = tmpTable("graft_zone_")
    val sink = V2KeyedTableSink("k", 4)
    // two commits with disjoint ranges of the NON-key column v
    sink.append(spark.range(0, 100).select(col("id").as("k"),
      col("id").as("v")), t)
    sink.append(spark.range(100, 200).select(col("id").as("k"),
      (col("id") + 1000).as("v")), t)
    val committed = KeyedTable.committedFiles(t).size
    def planned(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    val read = spark.read.format("graft.sources.KeyedTable").load(t)
    // range on v: only commit 1's files qualify
    assert(planned(read.where(col("v") < 100)) <= committed / 2)
    // equality on v routes to one commit's files (no bucket proof for
    // non-key columns — range-only, still halves the plan)
    assert(planned(read.where(col("v") === 1100)) <= committed / 2)
    // correctness survives pruning
    assert(read.where(col("v") < 100).count() == 100)
    assert(read.where(col("v") === 1100).count() == 1)
    cleanup(t)
  }

  test("MERGE refuses composite-key deletes and missing columns") {
    val t = tmpTable("graft_merge_bad_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(spark.range(0, 10).select(col("id").as("k"),
      (col("id") % 3).as("ck"), col("id").as("v")), t)
    KeyedTableOps.declareTable(t, "k", 4, clustering = Seq("ck"))
    val src = spark.range(0, 5).select(col("id").as("k"),
      (col("id") % 3).as("ck"), (col("id") + 100).as("v"))
    // composite + delete -> refused (tombstones are partition-level)
    intercept[IllegalArgumentException] {
      KeyedTableOps.merge(spark, t, src,
        deleteWhen = Some(col("v") > 0))
    }
    // missing table column -> refused (SET * / INSERT * contract)
    intercept[IllegalArgumentException] {
      KeyedTableOps.merge(spark, t, src.drop("v"))
    }
    // plain composite upsert-merge works
    KeyedTableOps.merge(spark, t, src)
    assert(KeyedTableOps.latest(spark, t)
      .where(col("v") >= 100).count() == 5)
    cleanup(t)
  }

  test("temporal columns round-trip exactly: timestamp key, ntz + date values") {
    val s = spark
    import s.implicits._
    val t = tmpTable("graft_time_")
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z")
    val src = (0 until 50).map { i =>
      (java.sql.Timestamp.from(base.plusSeconds(i * 3600L)),
        java.time.LocalDateTime.of(2026, 1, 1, 0, 0).plusHours(i),
        java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(i)),
        i.toLong)
    }.toDF("ts", "ntz", "d", "v")
    V2KeyedTableSink("ts", 4).append(src, t)
    val back = spark.read.format("graft.sources.KeyedTable").load(t)
    assert(back.schema.map(_.dataType.typeName) ===
      Seq("timestamp", "timestamp_ntz", "date", "long"))
    // bit-exact round trip of all three temporal encodings
    assert(back.except(src).isEmpty && src.except(back).isEmpty)
    // zone maps prune on a DATE range over the non-key column
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    val all = planned(back)
    // a timestamp point-lookup on the KEY routes by bucket: one file
    val one = back.where(col("ts") ===
      java.sql.Timestamp.from(base.plusSeconds(7 * 3600L)))
    assert(planned(one) === 1 && one.count() === 1, s"of $all files")
    // manifest aggregate pushdown folds temporal min/max exactly
    val agg = back.agg(min(col("ts")).as("lo"), max(col("d")).as("hi"))
    assert(agg.head.toSeq === Seq(
      java.sql.Timestamp.from(base),
      java.sql.Date.valueOf(java.time.LocalDate.of(2026, 1, 1).plusDays(49))))
    cleanup(t)
  }

  test("limit pushdown bounds planned files; stands down under filters") {
    val t = tmpTable("graft_lim_")
    val sink = V2KeyedTableSink("k", 4)
    (0 until 4).foreach(i => sink.append(rows(100, s"w$i"), t))
    def planned(df: DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }.sum
    val read = spark.read.format("graft.sources.KeyedTable").load(t)
    val committed = KeyedTable.committedFiles(t).size
    // 4 commits x 4 buckets of ~25 rows: LIMIT 30 needs ~2 files
    val lim = read.limit(30)
    assert(planned(lim) < committed && lim.count() === 30)
    // exactness: Spark's Limit stays on top (partial push)
    assert(read.limit(1000000).count() === 400)
    // with a residual filter the push is refused: every
    // stats-surviving file plans, and the result is still exact
    val filtered = read.where(col("s").startsWith("w1")).limit(30)
    assert(filtered.count() === 30)
    assert(!filtered.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.head.scan.description().contains("pushedLimit"),
      "limit must not push under a residual filter")
    cleanup(t)
  }

  test("UPDATE refuses key-column and unknown SET targets; applies as upsert") {
    val t = tmpTable("graft_upd_")
    V2KeyedTableSink("k", 4).append(rows(20), t)
    intercept[IllegalArgumentException] {
      KeyedTableOps.update(spark, t, col("k") > 5, Map("k" -> lit(0L)))
    }
    intercept[IllegalArgumentException] {
      KeyedTableOps.update(spark, t, col("k") > 5, Map("nope" -> lit(1L)))
    }
    intercept[IllegalArgumentException] {
      KeyedTableOps.update(spark, t, col("k") > 5, Map.empty)
    }
    // SET referencing the current row's value (string concat)
    KeyedTableOps.update(spark, t, col("k") < 3,
      Map("s" -> concat(col("s"), lit("!"))))
    val latest = KeyedTableOps.latest(spark, t)
    assert(latest.where(col("s").endsWith("!")).count() == 3)
    assert(latest.count() == 20)
    cleanup(t)
  }

  test("MERGE clause fallthrough: a NULL delete condition falls to UPDATE") {
    val s = spark
    import s.implicits._
    val t = tmpTable("graft_merge_null_")
    V2KeyedTableSink("k", 4).append(
      spark.range(0, 3).select(col("id").as("k"), lit("old").as("s"),
        lit(0L).as("flag")), t)
    // source: k=0 flag NULL (falls through to UPDATE), k=1 flag=1
    // (DELETE fires), k=2 flag=0 (UPDATE)
    val src = Seq((0L, "u0", Option.empty[Long]), (1L, "u1", Some(1L)),
      (2L, "u2", Some(0L))).toDF("k", "s", "flag")
    KeyedTableOps.merge(spark, t, src,
      deleteWhen = Some(col("flag") === 1L))
    val got = KeyedTableOps.latest(spark, t)
      .select("k", "s").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(got === Map(0L -> "u0", 2L -> "u2"),
      "NULL delete condition must fall through to the UPDATE clause, " +
        "and the firing row must be deleted")
    cleanup(t)
  }

  test("MERGE deletes convert temporal keys through the catalyst domain") {
    val s = spark
    import s.implicits._
    val t = tmpTable("graft_merge_ts_")
    val base = java.time.Instant.parse("2026-03-01T00:00:00Z")
    def ts(i: Int) = java.sql.Timestamp.from(base.plusSeconds(i * 60L))
    V2KeyedTableSink("ts", 4).append(
      (0 until 10).map(i => (ts(i), i.toLong)).toDF("ts", "v"), t)
    val src = (0 until 4).map(i => (ts(i), i + 100L)).toDF("ts", "v")
    KeyedTableOps.merge(spark, t, src,
      deleteWhen = Some(col("v") >= 102L), insertWhenNotMatched = false)
    val latest = KeyedTableOps.latest(spark, t)
    assert(latest.count() === 8) // 2 deleted (102, 103)
    assert(latest.where(col("v") >= 100L).count() === 2) // 100, 101 updated
    cleanup(t)
  }

  test("a stale handle fails loudly on files framed wider than its schema") {
    val t = tmpTable("graft_evo_stale_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(10), t)
    // handle created BEFORE the evolution pins the 2-column schema
    val stale = spark.read.format("graft.sources.KeyedTable").load(t)
    KeyedTable.addColumns(t,
      Seq(org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.LongType)))
    sink.append(spark.range(0, 5).select(col("id").as("k"),
      lit("w").as("s"), col("id").as("extra")), t)
    // decoding a 3-column frame through the 2-column handle would
    // desync the byte stream into garbage — it must throw instead.
    // Two loud layers can catch it: the scan builder's read-schema
    // check (re-reads the committed schema lazily) and, should an
    // evolution race past that, the reader's frame-width guard
    val e = intercept[Exception](stale.count())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(e).exists(m =>
      m.contains("re-load") || m.contains("read schema mismatch")),
      s"expected a loud evolution error, got: ${msgs(e).mkString(" | ")}")
    // a fresh handle reads both generations fine
    assert(spark.read.format("graft.sources.KeyedTable").load(t)
      .count() === 15)
    cleanup(t)
  }

  test("reported statistics let Catalyst auto-broadcast a small keyed read") {
    val t = tmpTable("graft_stats_")
    V2KeyedTableSink("k", 4).append(rows(50), t)
    val small = spark.read.format("graft.sources.KeyedTable").load(t)
    val big = Tables(spark, sfDir, "orders")
      .select(col("o_orderkey").as("k"), col("o_totalprice"))
    // no hints: the join side choice is Catalyst's, driven by the
    // scan's SupportsReportStatistics (a stat-less V2 scan reports
    // unknown and forces a shuffle join however tiny the table)
    val joined = big.join(small, Seq("k"))
    // string-match under AQE (collect() does not descend into an
    // unexecuted AdaptiveSparkPlan's wrapped plan)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the 50-row keyed read reported stats but was not broadcast:\n$plan")
    assert(joined.count() === 50)
    // the report reflects PRUNING: a point lookup's stats are one
    // file's, not the table's
    val one = small.where(col("k") === 7L)
    val scan = one.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }.head
    val full = small.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2
        .DataSourceV2ScanRelation => r
    }.head
    assert(scan.computeStats().sizeInBytes < full.computeStats().sizeInBytes,
      "pruned scan must report smaller statistics than the full scan")
    cleanup(t)
  }

  test("auto-compaction policy: thresholds hold both ways") {
    val t = tmpTable("graft_autoc_")
    val sink = V2KeyedTableSink("k", 4)
    (0 until 3).foreach(i => sink.append(rows(50, s"w$i"), t))
    val policy = KeyedTableOps.CompactionPolicy(minLiveDataManifests = 8)
    // 3 live commits < 8, no tombstones, no small-file rule -> no-op
    assert(KeyedTableOps.maybeCompact(spark, t, policy).isEmpty)
    assert(KeyedTable.liveManifestNames(t).size == 3)
    (0 until 5).foreach(i => sink.append(rows(50, s"x$i"), t))
    // 8 live commits >= 8 -> folds to one snapshot
    assert(KeyedTableOps.maybeCompact(spark, t, policy).isDefined)
    assert(KeyedTable.liveManifestNames(t).size == 1)
    // idempotent: a fresh call right after is a no-op again
    assert(KeyedTableOps.maybeCompact(spark, t, policy).isEmpty)
    cleanup(t)
  }

  test("auto-compaction triggers on purgeable tombstones alone") {
    val t = tmpTable("graft_autot_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(50), t)
    KeyedTableRegistry.withKeyedCatalog(spark) {
      spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE k IN (1, 2)")
    }
    val strict = KeyedTableOps.CompactionPolicy(
      minLiveDataManifests = 99, tombstoneGraceMs = 3600 * 1000)
    // tombstone younger than grace: not purgeable -> no-op
    assert(KeyedTableOps.maybeCompact(spark, t, strict).isEmpty)
    val purging = strict.copy(tombstoneGraceMs = 0)
    // grace 0: the tombstone is purgeable -> fold applies + drops it
    assert(KeyedTableOps.maybeCompact(spark, t, purging).isDefined)
    assert(!KeyedTable.hasLiveTombstones(t))
    assert(KeyedTableOps.latest(spark, t).count() == 48)
    cleanup(t)
  }

  test("counter fold refuses non-summable counter columns") {
    val t = tmpTable("graft_cnt_bad_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(10), t) // value column s is STRING
    sink.append(rows(10), t)
    KeyedTableOps.declareMerge(t, "counter")
    val e = intercept[IllegalArgumentException] {
      KeyedTableOps.rewriteCompact(spark, t, 0)
    }
    assert(e.getMessage.contains("counter"))
    cleanup(t)
  }

  test("TIMESTAMP AS OF reader option pins the wall-clock snapshot") {
    val t = tmpTable("graft_ts_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(10, "a"), t)
    Thread.sleep(15)
    val t1 = System.currentTimeMillis()
    Thread.sleep(15)
    sink.append(rows(10, "b"), t)
    val pinned = spark.read.format("graft.sources.KeyedTable")
      .option("asOfTsMs", t1.toString).load(t)
    assert(pinned.count() == 10 &&
      pinned.where(col("s").startsWith("b")).count() == 0)
    // an instant before the first commit reads the empty table
    val empty = spark.read.format("graft.sources.KeyedTable")
      .option("asOfTsMs", "1").load(t)
    assert(empty.count() == 0)
    cleanup(t)
  }

  test("changesBetween validates its window and excludes rewrites") {
    val t = tmpTable("graft_feed_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(10, "a"), t)
    val v1 = KeyedTable.currentSeq(t)
    sink.append(rows(10, "b"), t)
    val v2 = KeyedTable.currentSeq(t)
    intercept[IllegalArgumentException] {
      KeyedTableOps.changesBetween(spark, t, v2, v1)
    }
    assert(KeyedTableOps.rewriteCompact(spark, t, 0).isDefined)
    // the rewrite landed AT the fence (seq v2): the feed over (v1, v2]
    // must carry the original wave-b rows once — never the snapshot
    val feed = KeyedTableOps.changesBetween(spark, t, v1, v2)
    assert(feed.count() == 10 &&
      feed.where(col("s").startsWith("b")).count() == 10)
    cleanup(t)
  }

  test("a stale maintenance lock is taken over; a fresh one is respected") {
    val t = tmpTable("graft_lock_")
    val sink = V2KeyedTableSink("k", 4)
    sink.append(rows(10), t)
    val lock = new java.io.File(s"$t/_commits/.maint.lock")
    assert(lock.createNewFile())
    assert(lock.setLastModified(System.currentTimeMillis() - 120000L))
    // stale (2 min old): the overwrite's superseding commit must steal
    // it and complete rather than time out
    rows(5, "ow").write.format("graft.sources.KeyedTable")
      .option("key", "k").mode("overwrite").save(t)
    assert(KeyedTableOps.latest(spark, t).count() == 5)
    assert(!lock.exists() || lock.length() > 0) // stolen or re-stamped
    cleanup(t)
  }
}
