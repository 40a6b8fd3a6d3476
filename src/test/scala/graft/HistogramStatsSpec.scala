package graft

import graft.SessionConf.withConfs
import graft.sources.{KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Equi-height histograms derived from the per-file zone maps (zero
  * write-path cost) and reported through the V2 scan's columnStats:
  * after a sorted fold the planner's join/filter estimation sees a
  * column's true mass distribution — a skewed key's join cardinality
  * estimates within a small factor of the truth, where bounds+NDV
  * alone must assume uniformity and underestimate by orders of
  * magnitude (the misestimate that makes a planner broadcast a huge
  * intermediate at scale). */
class HistogramStatsSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def withCbo[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(
      withConfs(spark, Map("spark.sql.cbo.enabled" -> Some("true"),
        "spark.sql.cbo.joinReorder.enabled" -> Some("true")))(body))

  private def table(t: String): DataFrame =
    spark.read.table(s"graft_keyed.`$t`")

  /** Keyed table where column j holds `hot` rows of value 1 and the
    * rest spread over 2..spread+1, sorted-folded into `rollAt`-row
    * slices so the hot value lands in its own zero-width zone files. */
  private def skewed(t: String, hot: Long, rest: Long, spread: Long,
      rollAt: Long): Unit = {
    val s = spark
    import s.implicits._
    (0L until (hot + rest)).map(k =>
      (k, if (k < hot) 1L else 2L + (k % spread)))
      .toDF("k", "j")
      .write.format("graft.sources.KeyedTable")
      .option("key", "k").option("writePartitions", "4")
      .mode("append").save(t)
    KeyedTableOps.declareSortOrder(t, Seq("j"))
    assert(KeyedTableOps.rewriteCompact(spark, t, 0,
      targetFileRows = rollAt, force = true).isDefined)
  }

  test("the scan reports a zone-map-derived histogram; skew becomes " +
      "zero-width bins") {
    val t = tmpDir("graft_hist_") + "/t"
    skewed(t, hot = 10000L, rest = 10000L, spread = 1000L, rollAt = 1250L)
    withCbo {
      val stats = table(t).queryExecution.optimizedPlan.stats
      val byName = stats.attributeStats.map { case (a, st) => a.name -> st }
      val jStat = byName("j")
      assert(jStat.histogram.isDefined,
        s"the sorted fold's slices must yield a histogram: $byName")
      val hist = jStat.histogram.get
      // the hot value (half the mass at j=1) must occupy zero-width
      // bins at 1.0 — catalyst's own representation of a heavy value
      val hotBins = hist.bins.count(b => b.lo == 1.0 && b.hi == 1.0)
      assert(hotBins >= 4,
        s"10k of 20k rows at j=1 must swallow several of the 16 " +
          s"equi-height bins: ${hist.bins.map(b => (b.lo, b.hi)).toSeq}")
      // total mass accounted: height * bins ~= non-null rows
      assert(math.abs(hist.height * hist.bins.length - 20000d) < 2000d,
        s"height ${hist.height} x ${hist.bins.length} bins")
    }
  }

  test("skewed join cardinality estimates near truth with the histogram, " +
      "underestimates by orders of magnitude without") {
    val base = tmpDir("graft_hist_join_")
    val fact = s"$base/fact"
    val dim = s"$base/dim"
    skewed(fact, hot = 20000L, rest = 20000L, spread = 999L, rollAt = 2500L)
    skewed(dim, hot = 1000L, rest = 1000L, spread = 999L, rollAt = 250L)
    withCbo {
      def estimate(): Long = table(fact).as("f")
        .join(table(dim).as("d"), "j")
        .queryExecution.optimizedPlan.stats.rowCount
        .map(_.toLong).getOrElse(-1L)
      val actual = table(fact).join(table(dim), "j").count()
      assert(actual > 20000000L, s"the hot key must dominate: $actual")
      val withHist = estimate()
      assert(withHist >= actual / 8 && withHist <= actual * 8,
        s"histogram join estimate $withHist vs actual $actual")
      withConfs(spark, Map("spark.graft.histogram.enabled" -> Some("false"))) {
        val withoutHist = estimate()
        assert(withoutHist >= 0 && withoutHist < actual / 50,
          s"bounds+NDV alone must miss the skew: $withoutHist vs $actual")
      }
    }
  }
}
