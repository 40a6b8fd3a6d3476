package graft

import graft.SessionConf.withConfs
import graft.ops.Relational
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet, and the bucketed-join
  * no-shuffle guarantee. */
class FormatSpec extends SparkSpecBase {

  private def tmp(prefix: String) = Files.createTempDirectory(prefix).toString

  test("CSV round-trip preserves data") {
    val src = Tables(spark, sfDir, "nation")
    val dir = tmp("graft_csv_") + "/nation"
    Relational.sinkCsv(src, dir)
    val back = Relational.scanCsv(spark, dir)
    assert(back.count() === src.count())
    assert(back.columns.sorted === src.columns.sorted)
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = pairs(src); val b = pairs(back)
    assert(a === b)
  }

  test("JSON round-trip preserves data") {
    val src = Tables(spark, sfDir, "region")
    val dir = tmp("graft_json_") + "/region"
    Relational.sinkJson(src, dir)
    val back = Relational.scanJson(spark, dir)
    assert(back.count() === src.count())
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("r_regionkey").cast("long"), col("r_name"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val a = pairs(src); val b = pairs(back)
    assert(a === b)
  }

  test("ORC round-trip preserves data and pushes filters") {
    val src = Tables(spark, sfDir, "orders")
    val dir = tmp("graft_orc_") + "/orders"
    Relational.sinkOrc(src, dir)
    val back = Relational.scanOrc(spark, dir)
    assert(back.count() === src.count())
    assert(back.columns.sorted === src.columns.sorted)
    val filtered = back.where(col("o_totalprice") >= 400000)
    assert(filtered.count() ===
      src.where(col("o_totalprice") >= 400000).count())
    // predicate reaches the ORC scan, same as parquet
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("o_totalprice"), s"no pushdown in:\n$plan")
  }

  test("binaryFile source: whole files as rows, content intact") {
    val dir = Files.createTempDirectory("graft_bin_")
    val payload = Array.tabulate[Byte](4096)(i => (i * 31 % 251).toByte)
    Files.write(dir.resolve("a.bin"), payload)
    Files.write(dir.resolve("b.bin"), payload.map(b => (b ^ 0x5a).toByte))
    val df = Relational.scanBinaryFiles(spark, dir.toString)
    val rows = df.select(col("path"), col("length"), col("content"))
      .collect().sortBy(_.getString(0))
    assert(rows.length === 2)
    assert(rows.forall(_.getLong(1) === 4096L))
    assert(rows.head.getAs[Array[Byte]](2) === payload)
  }

  test("bucketed join on the bucket key plans with no shuffle exchange") {
    // pre-clean: a crashed earlier JVM can leave the managed-table
    // LOCATION on disk with no metastore entry — CTAS then fails with
    // LOCATION_ALREADY_EXISTS even after DROP TABLE IF EXISTS
    Seq("orders_b", "customer_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
      }
      rm(new java.io.File(s"spark-warehouse/$t"))
    }
    // force SMJ path
    try withConfs(spark, Map("spark.sql.autoBroadcastJoinThreshold" -> Some("-1"))) {
      Relational.sinkBucketed(
        Tables(spark, sfDir, "orders"), "orders_b", "o_custkey", 4, Some("o_custkey"))
      Relational.sinkBucketed(
        Tables(spark, sfDir, "customer"), "customer_b", "c_custkey", 4, Some("c_custkey"))
      val o = spark.table("orders_b")
      val c = spark.table("customer_b")
      val joined = o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(c("c_custkey")).agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be exchange-free:\n$plan")
      assert(joined.count() > 0)
      // same join on the raw (unbucketed) parquet DOES shuffle
      val o2 = Tables(spark, sfDir, "orders")
      val c2 = Tables(spark, sfDir, "customer")
      val plan2 = o2.join(c2, o2("o_custkey") === c2("c_custkey"))
        .groupBy(c2("c_custkey")).agg(count(lit(1)).as("n"))
        .queryExecution.executedPlan.toString
      assert(plan2.contains("Exchange"), "unbucketed baseline should shuffle")
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("staged parquet schema evolution: mergeSchema widens, old rows null-fill") {
    // a re-run of an evolved job appends files with NEW columns into an
    // existing staged dataset — the read side must widen, not fail
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_evolve_").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(dir)
    Seq((3L, "c", 30), (4L, "d", 40)).toDF("id", "v", "extra")
      .write.mode("append").parquet(dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("id", "v", "extra"))
    val rows = merged.orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getInt(2))))
    assert(rows.toSeq === Seq(
      (1L, "a", None), (2L, "b", None), (3L, "c", Some(30)), (4L, "d", Some(40))))
    // default read (no mergeSchema) must still succeed on the mixed dir
    assert(spark.read.parquet(dir).count() === 4)
  }
}
