package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access layer over the driver-generated parquet fixtures
  * (`/root/repo/TESTDATA.md`). Mirrors the reference's convention of
  * addressing staged datasets by `dir/table` path
  * (verizon_table_migration_Rakesh_filters.py:189,229): every read goes
  * through `spark.read.parquet`, so Catalyst's vectorized parquet scan,
  * filter pushdown and column pruning apply automatically.
  *
  * The RELATION (schema + path, i.e. the resolved logical plan) is
  * memoized per (session, dir, table): a bare `spark.read.parquet`
  * re-infers the schema with a footer-reading job on EVERY call —
  * measured ~75 ms each, which at 1–4 table references per query was
  * ~30% of the headline bench's wall clock (optimization guide §1: the
  * fixed cost was hiding in "construct", not execution). This is plan
  * metadata reuse only — the same thing a catalog table gets from the
  * metastore — never data caching: every action still scans the parquet
  * bytes. Fixture dirs are immutable for a session's lifetime (same
  * contract FrameCache documents); sessions are weakly held so
  * short-lived test sessions don't leak.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val memo =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.HashMap[(String, String), DataFrame]]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    memo.synchronized {
      val bySession = {
        val existing = memo.get(spark)
        if (existing != null) existing
        else {
          val m = scala.collection.mutable.HashMap.empty[(String, String), DataFrame]
          memo.put(spark, m)
          m
        }
      }
      bySession.getOrElseUpdate((dir, name), build(spark, dir, name))
    }

  private def build(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark
      // only exposes as long via the legacy flag) in some fixture
      // generations and TIMESTAMP(MICROS) (surfacing as TIMESTAMP_NTZ)
      // in others — normalize EVERY variant to session-TZ TIMESTAMP at
      // micros precision, identical to DuckDB's epoch_us() view of the
      // same column (sessions run UTC, so the NTZ→TZ cast is wall-clock
      // exact).
      SessionConf.readNanosAsLong(spark)
      val df = spark.read.parquet(s"$dir/$name.parquet")
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case _ =>
          df.withColumn("ts",
            col("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    } else {
      spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Register every fixture table as a temp view (for SQL-expressed
    * queries: grouping sets etc.). Idempotent per session. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach { n => apply(spark, dir, n).createOrReplaceTempView(n) }
}
