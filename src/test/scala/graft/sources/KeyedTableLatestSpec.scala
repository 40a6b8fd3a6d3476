package graft.sources

import graft.SessionConf.withConfs
import graft.SparkSpecBase
import graft.pipeline.V2KeyedTableSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CommandResultExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** The reader-resolved latest view: a point read is answered on the
  * driver with no Spark job on either route, its rows equal the
  * declarative last-write-wins aggregate ([[KeyedTableOps.latestOver]])
  * over the raw log, keys compare as SQL grouping compares them, and a
  * path read or write resolves on the declared key. */
class KeyedTableLatestSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def log(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(t)

  private def currentView(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").option("view", "current").load(t)

  private val catalogConf = s"spark.sql.catalog.${KeyedTableRegistry.CatalogName}"

  /** `body` with the keyed catalog unregistered: reads take the path route. */
  private def onPathRoute[A](body: => A): A =
    withConfs(spark, Map(catalogConf -> None))(body)

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  /** Rows as exact strings, sorted: -0.0 renders apart from 0.0, and a
    * key resolved twice shows as a second row. */
  private def rendered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  private def delete(t: String, where: String): Unit =
    withCatalog(spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE $where"))

  /** Every physical node, descending through AQE and command wrappers. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => planNodes(q.plan)
    case c: CommandResultExec => planNodes(c.commandPhysicalPlan)
    case _ => p +: p.children.flatMap(planNodes)
  }

  private def scans(df: DataFrame): (Int, Int) = {
    val ns = planNodes(df.queryExecution.executedPlan)
    (ns.count(_.isInstanceOf[LocalTableScanExec]), ns.count(_.isInstanceOf[BatchScanExec]))
  }

  private def assertLatestIsLatestOver(t: String, keys: Seq[String]): Seq[String] = {
    val want = rendered(KeyedTableOps.latestOver(log(t), keys))
    assert(want.nonEmpty)
    onPathRoute(assert(rendered(KeyedTableOps.latest(spark, t)) === want, "path route"))
    withCatalog(assert(rendered(KeyedTableOps.latest(spark, t)) === want, "catalog route"))
    want
  }

  test("a point read through latest runs no Spark job: one driver-side LocalTableScan") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_job_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"), t)
    sink.append((0L until 40L by 3).map(k => (k, s"b$k")).toDF("k", "s"), t)
    def point = KeyedTableOps.latest(spark, t).where(col("k") === 9L)
    def check(route: String): Unit = {
      assert(scans(point) === ((1, 0)), s"$route: ${point.queryExecution.executedPlan}")
      var got = Array.empty[Row]
      assert(jobsRun { got = point.collect() } === 0, route)
      assert(got.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((9L, "b9")), route)
    }
    onPathRoute(check("path route"))
    withCatalog(check("catalog route"))
  }

  test("latest equals latestOver over the raw log: single and composite keys, " +
      "tombstones, null clustering keys, NaN and -0.0 keys") {
    val s = spark
    import s.implicits._
    val nan = Double.NaN

    val single = tmpDir("graft_klatest_single_") + "/t"
    val lsink = V2KeyedTableSink("k", writeParallelism = 4)
    lsink.append((0L until 30L).map(k => (k, s"a$k")).toDF("k", "s"), single)
    lsink.append((0L until 30L by 4).map(k => (k, s"b$k")).toDF("k", "s"), single)
    delete(single, "k IN (1, 2, 8)")
    lsink.append(Seq((2L, "c2")).toDF("k", "s"), single)
    val singleWant = assertLatestIsLatestOver(single, Seq("k"))
    assert(singleWant.size === 28 && singleWant.contains("2|c2") &&
      singleWant.contains("4|b4") && !singleWant.exists(_.startsWith("8|")))

    // a clustering column is advertised non-null until a live tombstone
    // exists, so the null clustering keys arrive after the delete
    val composite = tmpDir("graft_klatest_comp_") + "/t"
    KeyedTableOps.declareTable(composite, "k", 4, Seq("ck"))
    lsink.append((0L until 40L).map(i => (i % 8, i / 8, s"a$i")).toDF("k", "ck", "s"), composite)
    delete(composite, "k IN (3, 5)")
    lsink.append(((0L until 40L by 5).map(i => (i % 8, Option(i / 8), s"b$i")) ++
      Seq((0L, None, "n0"), (3L, None, "n3"))).toDF("k", "ck", "s"), composite)
    lsink.append(Seq((3L, Option(9L), "c3"), (0L, None, "n0b")).toDF("k", "ck", "s"), composite)
    val compWant = assertLatestIsLatestOver(composite, Seq("k", "ck"))
    assert(compWant.filter(_.startsWith("3|")) === Seq("3|4|b35", "3|9|c3", "3|null|n3"))
    assert(compWant.filter(_.startsWith("5|")) === Seq("5|0|b5"))
    assert(compWant.contains("0|null|n0b") && !compWant.contains("0|null|n0"))

    val dsink = V2KeyedTableSink("k", writeParallelism = 2)
    val floating = tmpDir("graft_klatest_double_") + "/t"
    dsink.append(Seq(1.0 -> "a", 2.0 -> "a", nan -> "a", -0.0 -> "a", 3.0 -> "a")
      .toDF("k", "s"), floating)
    dsink.append(Seq(nan -> "b", 0.0 -> "b", 2.0 -> "b").toDF("k", "s"), floating)
    delete(floating, "k IN (3.0D, 2.0D)")
    dsink.append(Seq(3.0 -> "c", -0.0 -> "c").toDF("k", "s"), floating)
    assert(assertLatestIsLatestOver(floating, Seq("k")) ===
      Seq("0.0|c", "1.0|a", "3.0|c", "NaN|b"))

    val floatingComposite = tmpDir("graft_klatest_dcomp_") + "/t"
    KeyedTableOps.declareTable(floatingComposite, "k", 2, Seq("ck"))
    dsink.append(Seq((nan, -0.0, "a"), (nan, nan, "a"), (-0.0, 1.0, "a"), (1.0, 2.0, "a"),
      (2.0, 0.0, "a")).toDF("k", "ck", "s"), floatingComposite)
    delete(floatingComposite, "k = CAST('NaN' AS DOUBLE)")
    dsink.append(Seq((nan, Option(0.0), "b"), (0.0, Option(1.0), "b"), (2.0, Option(-0.0), "b"),
      (1.0, None, "b")).toDF("k", "ck", "s"), floatingComposite)
    dsink.append(Seq((nan, nan, "c")).toDF("k", "ck", "s"), floatingComposite)
    assert(assertLatestIsLatestOver(floatingComposite, Seq("k", "ck")) === Seq(
      "0.0|1.0|b", "1.0|2.0|a", "1.0|null|b", "2.0|0.0|b", "NaN|0.0|b", "NaN|NaN|c"))
  }

  test("two NaN versions of a key read as one row, through latest and view=current") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_nan_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 2)
    sink.append(Seq(Double.NaN -> "x", -0.0 -> "p").toDF("k", "v"), t)
    sink.append(Seq(Double.NaN -> "y", 0.0 -> "q").toDF("k", "v"), t)
    onPathRoute {
      assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("0.0|q", "NaN|y"))
      assert(rendered(currentView(t)) === Seq("0.0|q", "NaN|y"))
    }
  }

  test("a path read without a key option resolves on the declared or proven key") {
    val s = spark
    import s.implicits._
    val sink = V2KeyedTableSink("k", writeParallelism = 2)
    def load(t: String): Unit = {
      sink.append(Seq("a" -> 1L, "c" -> 2L).toDF("v", "k"), t)
      sink.append(Seq("b" -> 1L).toDF("v", "k"), t)
    }
    val declared = tmpDir("graft_klatest_key_") + "/t"
    KeyedTableOps.declareTable(declared, "k", 2)
    load(declared)
    // no _props: the live manifests prove the key
    val proven = tmpDir("graft_klatest_key_") + "/t"
    load(proven)
    onPathRoute {
      Seq(declared, proven).foreach { t =>
        assert(rendered(currentView(t)) === Seq("b|1", "c|2"), t)
        assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1", "c|2"), t)
      }
    }
  }

  test("the reader's key identity is SQL grouping's") {
    val s = spark
    import s.implicits._
    val otherNaN = java.lang.Double.longBitsToDouble(0x7ff8000000000123L)
    val doubles = Seq(Double.NaN, otherNaN, -0.0, 0.0, 1.5)
    def ours(vs: Seq[Any]): Map[String, Int] =
      vs.groupBy(KeyedTable.groupingKey).values
        .map(g => String.valueOf(KeyedTable.normFloating(g.head)) -> g.size).toMap
    def sparks(df: DataFrame): Map[String, Int] =
      df.groupBy(df.columns.head).count().collect()
        .map(r => String.valueOf(r.get(0)) -> r.getLong(1).toInt).toMap
    assert(ours(doubles) === Map("NaN" -> 2, "0.0" -> 2, "1.5" -> 1))
    assert(ours(doubles) === sparks(doubles.toDF("d")))
  }

  test("a table declared on one key whose files bucket on another resolves " +
      "each key once") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_contract_") + "/t"
    KeyedTableOps.declareTable(t, "k", 2)
    // writes that name another key bucket on it, v
    def foreign(v: String): Unit = Seq(v -> 1L).toDF("v", "k")
      .write.format("graft.sources.KeyedTable").option("key", "v")
      .option("writePartitions", "8").mode("append").save(t)
    foreign("a")
    foreign("b")
    val entries = KeyedTable.liveManifests(t, KeyedTable.hadoopConf())
      .flatMap(_.entries)
    assert(entries.map(_.key).toSet === Set("v"))
    assert(entries.map(_.bucket).distinct.size === 2,
      "the two versions must land in different v buckets")
    onPathRoute(assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1"), "path route"))
    withCatalog(assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1"), "catalog route"))
    assert(rendered(KeyedTableOps.latestOver(log(t), Seq("k"))) === Seq("b|1"))
  }

  test("a keyless path write clusters on the table's declared contract") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_keyless_") + "/t"
    KeyedTableOps.declareTable(t, "k", 2)
    V2KeyedTableSink("k", writeParallelism = 2)
      .append(Seq("a" -> 1L, "c" -> 2L).toDF("v", "k"), t)
    val conf = KeyedTable.hadoopConf()
    assert(KeyedTable.inferWriteContract(t, conf) === Some(("k", 2)))
    Seq("b" -> 1L, "d" -> 3L).toDF("v", "k")
      .write.format("graft.sources.KeyedTable").mode("append").save(t)
    val entries = KeyedTable.liveManifests(t, conf).flatMap(_.entries)
    assert(entries.map(e => (e.key, e.buckets)).distinct === Seq(("k", 2)))
    assert(KeyedTable.inferWriteContract(t, conf) === Some(("k", 2)))
    onPathRoute(assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1", "c|2", "d|3")))
  }

  test("a path point read opens the table's _props twice: latest's key check, then the handle") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_props_") + "/t"
    KeyedTableOps.declareTable(t, "k", 2)
    V2KeyedTableSink("k", writeParallelism = 2)
      .append((0L until 20L).map(k => (k, s"a$k")).toDF("k", "s"), t)
    withConfs(spark, Map(
        "fs.file.impl" -> Some(classOf[OpenCountingFileSystem].getName),
        "fs.file.impl.disable.cache" -> Some("true")))(onPathRoute {
      OpenCountingFileSystem.reset()
      assert(rendered(KeyedTableOps.latest(spark, t).where(col("k") === 3L)) === Seq("3|a3"))
      assert(OpenCountingFileSystem.opens("_props") === 2)
    })
  }

  /** For every key of `raw` plus `extra` probes: the point read
    * `read().where(pk = v)` is answered on the driver and equals
    * [[KeyedTableOps.latestOver]]'s resolution of `raw` restricted by
    * the same predicate (evaluated by Spark over the collected rows). */
  private def assertPointReads(raw: DataFrame, keys: Seq[String], extra: Seq[Any],
      read: () => DataFrame): Int = {
    val pk = keys.head
    val resolved = KeyedTableOps.latestOver(raw, keys)
    val want = spark.createDataFrame(
      java.util.Arrays.asList(resolved.collect(): _*), resolved.schema)
    val probes = raw.select(pk).distinct().collect().map(_.get(0)).toSeq ++ extra
    probes.foreach { v =>
      val got = read().where(col(pk) === lit(v))
      assert(scans(got) === ((1, 0)), s"$pk = $v: ${got.queryExecution.executedPlan}")
      assert(rendered(got) === rendered(want.where(col(pk) === lit(v))), s"$pk = $v")
    }
    probes.size
  }

  test("point reads equal latestOver restricted to the key: key types, NaN and -0.0, " +
      "composite keys, tombstones then re-inserts, asOfSeq, pruned key, residual filter") {
    val s = spark
    import s.implicits._
    val nan = Double.NaN
    def bothRoutes(t: String, keys: Seq[String], extra: Seq[Any]): Unit = {
      onPathRoute(assertPointReads(log(t), keys, extra, () => KeyedTableOps.latest(spark, t)))
      withCatalog(assertPointReads(log(t), keys, extra, () => KeyedTableOps.latest(spark, t)))
    }

    val single = tmpDir("graft_klatest_pt_long_") + "/t"
    val sink4 = V2KeyedTableSink("k", writeParallelism = 4)
    sink4.append((0L until 24L).map(k => (k, s"a$k")).toDF("k", "s"), single)
    sink4.append((0L until 24L by 3).map(k => (k, s"b$k")).toDF("k", "s"), single)
    val beforeDelete = KeyedTable.currentSeq(single)
    delete(single, "k IN (1, 3, 6)")
    sink4.append(Seq((3L, "c3"), (6L, "c6")).toDF("k", "s"), single)
    bothRoutes(single, Seq("k"), Seq(99L))
    // as of a version: the current view at that sequence
    onPathRoute(assertPointReads(
      spark.read.format("graft.sources.KeyedTable").option("asOfSeq", beforeDelete).load(single),
      Seq("k"), Seq(99L),
      () => spark.read.format("graft.sources.KeyedTable").option("view", "current")
        .option("asOfSeq", beforeDelete).load(single)))
    // the key pruned from the projection, and a residual non-key range
    onPathRoute {
      val want = KeyedTableOps.latestOver(log(single), Seq("k")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      (0L until 25L).foreach { k =>
        val pruned = KeyedTableOps.latest(spark, single).where(col("k") === k).select("s")
        assert(scans(pruned) === ((1, 0)))
        assert(pruned.collect().map(_.getString(0)).toSeq === want.get(k).toSeq, s"k = $k")
        val ranged = KeyedTableOps.latest(spark, single)
          .where(col("k") === k && col("s") >= "b")
        assert(scans(ranged) === ((1, 0)))
        assert(ranged.collect().map(_.getString(1)).toSeq ===
          want.get(k).filter(_ >= "b").toSeq, s"k = $k")
      }
    }

    val composite = tmpDir("graft_klatest_pt_comp_") + "/t"
    KeyedTableOps.declareTable(composite, "k", 4, Seq("ck"))
    sink4.append((0L until 40L).map(i => (i % 8, i / 8, s"a$i")).toDF("k", "ck", "s"), composite)
    delete(composite, "k IN (3, 5)")
    sink4.append(((0L until 40L by 5).map(i => (i % 8, Option(i / 8), s"b$i")) ++
      Seq((3L, None, "n3"))).toDF("k", "ck", "s"), composite)
    bothRoutes(composite, Seq("k", "ck"), Seq(42L))

    val sink2 = V2KeyedTableSink("k", writeParallelism = 2)
    val floating = tmpDir("graft_klatest_pt_double_") + "/t"
    sink2.append(Seq(1.0 -> "a", 2.0 -> "a", nan -> "a", -0.0 -> "a", 3.0 -> "a")
      .toDF("k", "s"), floating)
    sink2.append(Seq(nan -> "b", 0.0 -> "b", 2.0 -> "b").toDF("k", "s"), floating)
    delete(floating, "k IN (3.0D, 2.0D)")
    sink2.append(Seq(3.0 -> "c", -0.0 -> "c").toDF("k", "s"), floating)
    bothRoutes(floating, Seq("k"), Seq(-0.0, 0.0, nan, 7.5))

    val strings = tmpDir("graft_klatest_pt_string_") + "/t"
    sink2.append(Seq("a" -> 1L, "" -> 1L, "é" -> 1L, "b" -> 1L).toDF("k", "v"), strings)
    sink2.append(Seq("a" -> 2L, "é" -> 2L).toDF("k", "v"), strings)
    delete(strings, "k = 'a'")
    sink2.append(Seq("a" -> 3L).toDF("k", "v"), strings)
    bothRoutes(strings, Seq("k"), Seq("zz"))

    val stamps = tmpDir("graft_klatest_pt_ts_") + "/t"
    def ts(sec: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(1700000000L + sec))
    sink2.append((0L until 6L).map(i => (ts(i), i)).toDF("k", "v"), stamps)
    sink2.append(Seq((ts(2), 20L), (ts(4), 40L)).toDF("k", "v"), stamps)
    delete(stamps, s"k = timestamp_seconds(${1700000000L + 4})")
    bothRoutes(stamps, Seq("k"), Seq(ts(99)))
  }

  test("whole-table and non-key reads keep the distributed scan") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_batch_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 4)
      .append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"), t)
    onPathRoute {
      val latest = KeyedTableOps.latest(spark, t)
      assert(scans(latest) === ((0, 1)))
      assert(scans(latest.where(col("s") === "a9")) === ((0, 1)))
      assert(scans(latest.where(col("k") > 30L)) === ((0, 1)))
      assert(latest.where(col("s") === "a9").collect().map(_.getLong(0)).toSeq === Seq(9L))
    }
  }

  test("SQL point reads, UPDATE and DELETE on one key read and leave the current state") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_sql_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append((0L until 16L).map(k => (k, s"a$k", k)).toDF("k", "s", "c"), t)
    sink.append((0L until 16L by 2).map(k => (k, s"b$k", k * 10)).toDF("k", "s", "c"), t)
    delete(t, "k = 4")
    sink.append(Seq((4L, "r4", 40L)).toDF("k", "s", "c"), t)
    val ident = s"graft_keyed.`$t`"
    def state: Map[Long, (String, Long)] = KeyedTableOps.latestOver(log(t), Seq("k")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    withCatalog {
      val sql = spark.sql(s"SELECT s, c FROM $ident WITH ('view' = 'current') WHERE k = 4")
      assert(scans(sql) === ((1, 0)))
      assert(sql.collect().map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("r4", 40L)))
      val before = state
      val update = spark.sql(s"UPDATE $ident SET s = 'u', c = c + 1 WHERE k = 6")
      assert(scans(update)._1 === 1, update.queryExecution.executedPlan)
      spark.sql(s"UPDATE $ident SET s = 'never' WHERE k = 99")
      val rowLevelDelete = spark.sql(s"DELETE FROM $ident WHERE k = 8 AND s = 'b8'")
      assert(scans(rowLevelDelete)._1 === 1, rowLevelDelete.queryExecution.executedPlan)
      spark.sql(s"DELETE FROM $ident WHERE k = 9 AND s = 'no such row'")
      spark.sql(s"DELETE FROM $ident WHERE k = 10")
      val want = before - 8L - 10L + (6L -> (("u", 61L)))
      assert(state === want)
      assert(KeyedTableOps.latest(spark, t).collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap === want)
    }
  }

  test("a point read joined to a larger relation still broadcasts the point read") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_join_") + "/t"
    V2KeyedTableSink("k", writeParallelism = 4)
      .append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"), t)
    // the point read's pruned file is far below the threshold; the
    // range (8 bytes per row) is far above it
    withConfs(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> Some("4096")))(onPathRoute {
      val joined = KeyedTableOps.latest(spark, t).where(col("k") === 9L)
        .join(spark.range(0, 100000).toDF("k"), "k")
      val ns = planNodes(joined.queryExecution.executedPlan)
      assert(ns.exists(_.isInstanceOf[BroadcastHashJoinExec]), joined.queryExecution.executedPlan)
      assert(ns.count(_.isInstanceOf[LocalTableScanExec]) === 1)
      assert(rendered(joined) === Seq("9|a9"))
    })
  }
}
