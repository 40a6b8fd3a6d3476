package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** `catalog_headline`: passes over the headline entries of the operator
  * catalog on generated TPC-H-shaped tables. Each entry's output goes to
  * the `noop` sink, as graft.Bench does; the first warm-up pass writes
  * the outputs as parquet instead, and `perfbench/run.py` checks them
  * against each entry's DuckDB oracle SQL with the repository's
  * `tools/check_oracles.py`. */
final class CatalogPass(ctx: Ctx) extends Workload {
  import ctx.{res, spark, trace}
  private val dir = s"${ctx.args.inDir}/catalog"
  private val entries = graft.Catalog.headline.sortBy(_.name)
  private val outDir = ctx.dir("catalog_out")
  /** The relational entries: the reference-shaped star join, then
    * aggregate, window, as-of and range joins. */
  private val Relational = Seq("q_flagship_star", "q1_agg_pricing", "q_window_running",
    "q_asof_join", "q_range_join_bucketed")

  def setup(): Unit = {
    res.check("nine headline entries", entries.size == 9, entries.map(_.name).mkString(","))
    val oracles = entries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    res.check("every headline entry has an oracle", oracles.size == entries.size,
      s"${oracles.size} oracles")
    // the layout tools/check_oracles.py reads: <out>/<entry>/ and <out>/oracle_sql.json
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(oracles))
  }

  /** Run one entry to completion; drop what it cached so passes stay
    * independent (graft.Bench does the same between timed runs). */
  private def runEntry(q: graft.QueryDef, write: org.apache.spark.sql.DataFrame => Unit): Unit = {
    val df = trace.inPhase("construct")(q.fn(spark, dir))
    trace.inPhase("query")(write(df))
    spark.catalog.clearCache()
    graft.ops.FrameCache.clear(spark)
  }

  private var warmed = 0

  /** The first warm-up pass writes the outputs the oracles check. */
  def warmup(): Unit = {
    val check = warmed == 0
    warmed += 1
    entries.foreach { q =>
      res.op(runEntry(q, df =>
        if (check) df.write.mode("overwrite").parquet(s"$outDir/${q.name}")
        else df.write.mode("overwrite").format("noop").save()))
    }
  }
  def warmups: Int = 5

  def rep(): Unit = res.timeOp("pass", timed = true)(entries.foreach { q =>
    res.timeOp(s"queries.${q.name}", timed = true)(res.op(trace.span(s"queries.${q.name}")(
      runEntry(q, _.write.mode("overwrite").format("noop").save()))))
    trace.takeQueries().foreach(s => trace.add(s"queries.${q.name}.plan_ms", s.planMs))
  })

  def minReps: Int = 3
  def repSeconds: Double = 2.5

  def finish(): Unit = {
    def med(n: String) = Stats.median(res.clean(n))
    val perEntry = entries.flatMap(q => res.clean(s"queries.${q.name}_ms"))
    res.e2e("op_p50_ms") = (med("pass_ms"), "ms")
    // one sample per entry per pass, so the lists line up pass by pass
    val relationalPass = Relational.map(n => res.clean(s"queries.${n}_ms")).transpose.map(_.sum)
    res.e2e("op2_p50_ms") = (Stats.median(relationalPass), "ms")
    res.e2e("read_p50_ms") = (Stats.median(perEntry), "ms")
    res.info("catalog_pass_s") = med("pass_ms") / 1e3
    res.info("passes") = res.clean("pass_ms").size
  }
}
