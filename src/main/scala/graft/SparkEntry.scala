package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.RelationalQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All queries live in [[Catalog]]; this object only adapts them to the
  * driver's shape.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own pipeline query (scan→filter→4-table star
    * join→renamed projection) over the fixture tables. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.all.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Catalog.all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Mode-sweep hook of Bench and Verify (local iteration; the driver
    * never sets it): SPARK_GRAFT_SQLCONF="k=v,k=v" builder-level
    * overrides, e.g. codegen-off / AQE-off sweeps. A segment that is
    * not key=value fails, so a typo never runs the default config. */
  def sqlConfOverrides(hook: Option[String]): Seq[(String, String)] =
    hook.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2).map(_.trim) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => sys.error(s"SPARK_GRAFT_SQLCONF segment '$kv' is not key=value")
      }
    }
}
