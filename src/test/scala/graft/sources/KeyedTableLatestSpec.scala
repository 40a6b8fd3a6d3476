package graft.sources

import graft.SparkSpecBase
import graft.pipeline.V2KeyedTableSink
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The reader-resolved latest view: a point read is one Spark job with
  * no Exchange on either route, its rows equal the declarative
  * last-write-wins aggregate ([[KeyedTableOps.latestOver]]) over the raw
  * log, keys compare as SQL grouping compares them, and a path read
  * resolves on the declared key. */
class KeyedTableLatestSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def log(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").load(t)

  private def currentView(t: String): DataFrame =
    spark.read.format("graft.sources.KeyedTable").option("view", "current").load(t)

  private val catalogConf = s"spark.sql.catalog.${KeyedTableRegistry.CatalogName}"

  /** `body` with the keyed catalog unregistered: reads take the path route. */
  private def onPathRoute[A](body: => A): A = {
    val prior = spark.conf.getOption(catalogConf)
    spark.conf.unset(catalogConf)
    try body finally prior.foreach(spark.conf.set(catalogConf, _))
  }

  private def withCatalog[A](body: => A): A = {
    val bucketingKey = "spark.sql.sources.v2.bucketing.enabled"
    val prior = spark.conf.getOption(bucketingKey)
    KeyedTableRegistry.register(spark)
    try body finally prior match {
      case Some(v) => spark.conf.set(bucketingKey, v)
      case None => spark.conf.unset(bucketingKey)
    }
  }

  /** Rows as exact strings, sorted: -0.0 renders apart from 0.0, and a
    * key resolved twice shows as a second row. */
  private def rendered(df: DataFrame): Seq[String] =
    df.collect().toSeq.map(_.toSeq.map(String.valueOf).mkString("|")).sorted

  private def delete(t: String, where: String): Unit =
    withCatalog(spark.sql(s"DELETE FROM graft_keyed.`$t` WHERE $where"))

  private def assertLatestIsLatestOver(t: String, keys: Seq[String]): Seq[String] = {
    val want = rendered(KeyedTableOps.latestOver(log(t), keys))
    assert(want.nonEmpty)
    onPathRoute(assert(rendered(KeyedTableOps.latest(spark, t)) === want, "path route"))
    withCatalog(assert(rendered(KeyedTableOps.latest(spark, t)) === want, "catalog route"))
    want
  }

  test("a point read through latest runs one Spark job and plans no Exchange") {
    val s = spark
    import s.implicits._
    val t = tmpDir("graft_klatest_job_") + "/t"
    val sink = V2KeyedTableSink("k", writeParallelism = 4)
    sink.append((0L until 40L).map(k => (k, s"a$k")).toDF("k", "s"), t)
    sink.append((0L until 40L by 3).map(k => (k, s"b$k")).toDF("k", "s"), t)
    def point = KeyedTableOps.latest(spark, t).where(col("k") === 9L)
    def check(route: String): Unit = {
      val plan = point.queryExecution.executedPlan
      assert(graft.ops.PlanChecks.countShuffles(plan) === 0, s"$route: $plan")
      var got = Array.empty[Row]
      assert(jobsRun { got = point.collect() } === 1, route)
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
    // a write without a key option buckets on its first column, v
    def keyless(v: String): Unit = Seq(v -> 1L).toDF("v", "k")
      .write.format("graft.sources.KeyedTable").mode("append").save(t)
    keyless("a")
    keyless("b")
    val entries = KeyedTable.liveManifests(t, KeyedTable.hadoopConf())
      .flatMap(_.entries)
    assert(entries.map(_.key).toSet === Set("v"))
    assert(entries.map(_.bucket).distinct.size === 2,
      "the two versions must land in different v buckets")
    onPathRoute(assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1"), "path route"))
    withCatalog(assert(rendered(KeyedTableOps.latest(spark, t)) === Seq("b|1"), "catalog route"))
    assert(rendered(KeyedTableOps.latestOver(log(t), Seq("k"))) === Seq("b|1"))
  }
}
