package graft

import graft.ops.Relational
import graft.pipeline._
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fidelity test: the reference's OWN job — its 4-table star, its three
  * predicate shapes, its qualified-rename projection list
  * (verizon_table_migration_Rakesh_filters.json:27-84, py:140-146) —
  * declared as a graft JobSpec and run end-to-end over synthesized
  * source tables matching FIXTURES.md §A. Asserts output parity with a
  * directly-computed DataFrame result plus the staged/checkpointed
  * layout the reference's resume semantics depend on. */
class ReferenceJobSpec extends SparkSpecBase {

  private val states =
    Seq("MI", "MN", "MO", "MP", "MS", "MT", "NC", "ND", "NE", "NH", "NJ")
  private val ccTypes = Seq("American Express", "Discover", "Mastercard")

  /** Deterministic synthetic source tables (FIXTURES.md §A shapes). */
  private def sources(spark: SparkSession): Map[String, DataFrame] = {
    import spark.implicits._
    // x_cust_id straddles the json:54 range bound [100000, 500000]:
    // ids 99500..103490 step 10 → ~12% below the lower bound
    val contacts = (0 until 400).map { i =>
      (100009L + i, 99500L + i * 10, s"First$i", s"Last$i",
        f"555-$i%04d", s"u$i@example.com", "US")
    }.toDF("objid", "x_cust_id", "first_name", "last_name", "phone", "e_mail", "country")
    val allStates = states ++ Seq("CA", "NY", "TX", "WA", "FL")
    val addresses = (0 until 300).map { i =>
      (500000L + i, s"$i Main St", s"City$i", allStates(i % allStates.size), f"$i%05d")
    }.toDF("objid", "address", "city", "state", "zipcode")
    val allCcTypes = ccTypes ++ Seq("Visa", "Diners Club")
    val cards = (0 until 350).map { i =>
      (700000L + i, 100009L + (i % 400), 500000L + (i % 300),
        f"4${i}%015d", f"${i % 12 + 1}%02d", s"${2026 + i % 5}",
        allCcTypes(i % allCcTypes.size))
    }.toDF("objid", "x_credit_card2contact", "x_credit_card2address",
      "x_customer_cc_number", "x_customer_cc_expmo", "x_customer_cc_expyr", "x_cc_type")
    val payments = (0 until 500).map { i =>
      (900000L + i, 700000L + (i % 350), "CARD", s"src$i", "LEGACY",
        if (i % 3 == 0) "Inactive" else "Active")
    }.toDF("objid", "pymt_src2x_credit_card", "x_pymt_type", "x_pymt_src_name",
      "x_sourcesystem", "x_status")
    Map("table_contact" -> contacts, "table_address" -> addresses,
      "table_x_credit_card" -> cards, "x_payment_source" -> payments)
  }

  /** The reference config re-expressed (json:53-82): filters json:54-57,
    * join graph py:140-142, qualified renames json:59-82. */
  private def spec(ws: String) = JobSpec(
    workspace = ws,
    tables = Seq(TableSpec(
      targetTable = "customer_payment_information",
      sources = Seq(
        SourceSpec("table_contact",
          filter = Some("x_cust_id >= 100000 AND x_cust_id <= 500000")),
        SourceSpec("table_x_credit_card",
          filter = Some(s"x_cc_type IN (${ccTypes.map(c => s"'$c'").mkString(", ")})")),
        SourceSpec("x_payment_source", filter = Some("x_status = 'Active'")),
        SourceSpec("table_address",
          filter = Some(s"state IN (${states.map(s => s"'$s'").mkString(", ")})"))),
      root = "table_contact",
      // py:140-142 verbatim join graph, with the reference's qualified
      // refs (every source has an `objid`):
      joins = Seq(
        JoinSpec("table_x_credit_card",
          "table_contact.objid", "x_credit_card2contact"),
        JoinSpec("x_payment_source",
          "table_x_credit_card.objid", "pymt_src2x_credit_card"),
        JoinSpec("table_address",
          "table_x_credit_card.x_credit_card2address", "objid")),
      transformedColumns = Seq(
        "x_payment_source.objid AS objid",
        "table_contact.x_cust_id AS cust_id",
        "table_contact.first_name AS first_name",
        "table_contact.last_name AS last_name",
        "table_contact.phone AS phone",
        "table_contact.e_mail AS e_mail",
        "table_contact.country AS country",
        "table_x_credit_card.x_customer_cc_number AS cc_number",
        "table_x_credit_card.x_customer_cc_expmo AS cc_expmo",
        "table_x_credit_card.x_customer_cc_expyr AS cc_expyr",
        "table_x_credit_card.x_cc_type AS cc_type",
        "x_payment_source.x_pymt_type AS pymt_type",
        "x_payment_source.x_pymt_src_name AS pymt_src_name",
        "x_payment_source.x_sourcesystem AS sourcesystem",
        "x_payment_source.x_status AS status",
        "table_address.address AS address",
        "table_address.city AS city",
        "table_address.state AS state",
        "table_address.zipcode AS zipcode"))))

  test("the reference's own job runs end-to-end with identical results") {
    val srcs = sources(spark)
    val ws = Files.createTempDirectory("graft_refjob_").toString
    val sp = spec(ws)
    val pipeline = new Pipeline(spark, sp, s => srcs(s.name),
      retryInitialDelayMs = 1)
    // independent expectation: the same algebra computed directly
    val expected = {
      val c = srcs("table_contact").where("x_cust_id >= 100000 AND x_cust_id <= 500000").alias("table_contact")
      val cc = srcs("table_x_credit_card")
        .where(s"x_cc_type IN (${ccTypes.map(t => s"'$t'").mkString(", ")})").alias("table_x_credit_card")
      val ps = srcs("x_payment_source").where("x_status = 'Active'").alias("x_payment_source")
      val ad = srcs("table_address")
        .where(s"state IN (${states.map(t => s"'$t'").mkString(", ")})").alias("table_address")
      c.join(cc, col("table_contact.objid") === col("table_x_credit_card.x_credit_card2contact"))
        .join(ps, col("x_payment_source.pymt_src2x_credit_card") === col("table_x_credit_card.objid"))
        .join(ad, col("table_x_credit_card.x_credit_card2address") === col("table_address.objid"))
        .selectExpr(sp.tables.head.transformedColumns: _*)
    }
    pipeline.runTable(sp.tables.head)
    val loaded = spark.read.parquet(sp.targetDir("customer_payment_information"))
    assert(loaded.count() === expected.count())
    assert(loaded.count() > 0, "job must produce rows")
    assert(loaded.columns.toSet === expected.columns.toSet)
    val a = loaded.orderBy("objid").collect().map(_.toSeq).toSeq
    val b = expected.orderBy("objid").collect().map(_.toSeq).toSeq
    assert(a === b)
    // resume layout: staged raw per source + transformed + checkpoints
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    sp.tables.head.sources.foreach(s => assert(storage.datasetExists(sp.rawDir(s.name))))
    assert(storage.datasetExists(sp.transformedDir("customer_payment_information")))
    assert(storage.listParquet(sp.transformedDir("customer_payment_information"))
      .forall { f =>
        storage.checkpointExists(sp.checkpointDir("customer_payment_information"),
          f.substring(f.lastIndexOf('/') + 1))
      })
  }

  test("C11 CLI runs the example config end-to-end (layout, parity, table log)") {
    val ws = Files.createTempDirectory("graft_cli_").toString
    // the CLI surface exactly as a user would hit it: config file path,
    // workspace override, parquet-lake input dir
    Main.main(Array("examples/job_enriched_lineitem.json", ws, sfDir))

    val target = "enriched_lineitem_json"
    val loaded = spark.read.parquet(s"$ws/target/$target")
    // independent expectation: the config's algebra computed directly
    val expected = Tables(spark, sfDir, "lineitem")
      .where("l_quantity >= 20 AND l_quantity <= 45").alias("lineitem")
      .join(Tables(spark, sfDir, "orders")
        .where("o_orderstatus = 'F' AND o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(spark, sfDir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(Tables(spark, sfDir, "nation")
        .where("n_name IN ('NATION_1', 'NATION_3', 'NATION_5', 'NATION_7', 'NATION_9', 'NATION_11')"),
        col("c_nationkey") === col("n_nationkey"))
      .selectExpr("l_orderkey AS order_id", "l_linenumber AS line_no",
        "l_quantity AS qty", "l_extendedprice AS price",
        "o_orderpriority AS priority", "c_name AS customer_name",
        "c_mktsegment AS segment", "n_name AS nation")
    assert(loaded.count() > 0, "CLI job must produce rows")
    // (order_id, line_no) is not unique in the fixture — total-order
    // the rows driver-side for the comparison
    val a = loaded.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val b = expected.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(a === b)

    // resume layout under the overridden workspace
    val storage = new Storage(spark.sparkContext.hadoopConfiguration)
    Seq("lineitem", "orders", "customer", "nation")
      .foreach(s => assert(storage.datasetExists(s"$ws/raw/$s"), s"raw $s missing"))
    assert(storage.datasetExists(s"$ws/transformed/$target"))

    // C7: per-table dynamic log file with the reference's banners
    val logs = new java.io.File(s"$ws/logs").listFiles()
    val tableLog = logs.find(_.getName.matches(
      s"log_${target}_\\d{4}_\\d{2}_\\d{2}_\\d{2}_\\d{2}_\\d{2}\\.log"))
      .getOrElse(fail(s"no per-table log in ${logs.mkString(", ")}"))
    val content = new String(java.nio.file.Files.readAllBytes(tableLog.toPath), "UTF-8")
    assert(content.contains(s" - $target - INFO - "), s"wrong line format:\n$content")
    assert(content.contains("progress") && content.contains(
      s"Migration for table $target completed successfully"),
      s"missing progress/completion banners:\n$content")
  }

  test("CLI job mixing a JDBC source with the parquet lake") {
    // the reference's actual shape: sources come FROM a database; the
    // CLI config carries one job-level connection + per-source tables
    val url = "jdbc:derby:memory:graftclidb;create=true"
    val driver = "org.apache.derby.jdbc.EmbeddedDriver"
    Class.forName(driver)
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    try st.execute("DROP TABLE nation_db") catch { case _: Throwable => () }
    st.execute("CREATE TABLE nation_db (n_nationkey BIGINT, n_name VARCHAR(64))")
    val ps = conn.prepareStatement("INSERT INTO nation_db VALUES (?, ?)")
    Tables(spark, sfDir, "nation")
      .selectExpr("CAST(n_nationkey AS LONG)", "n_name").collect()
      .foreach { r => ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1)); ps.addBatch() }
    ps.executeBatch(); conn.close()

    val ws = Files.createTempDirectory("graft_cli_jdbc_").toString
    val cfg = s"""{
      |  "workspace": "PLACEHOLDER",
      |  "jdbc": { "url": "$url", "driver": "$driver" },
      |  "tables": [{
      |    "targetTable": "customer_nations",
      |    "sources": [
      |      { "name": "customer" },
      |      { "name": "nation_db", "jdbcTable": "nation_db",
      |        "jdbcPartitionColumn": "n_nationkey",
      |        "jdbcLowerBound": 0, "jdbcUpperBound": 25 }
      |    ],
      |    "root": "customer",
      |    "joins": [
      |      { "rightTable": "nation_db",
      |        "leftCol": "c_nationkey", "rightCol": "n_nationkey" }
      |    ],
      |    "transformedColumns": [
      |      "c_custkey AS custkey", "c_name AS customer_name",
      |      "n_name AS nation" ]
      |  }]
      |}""".stripMargin
    val cfgPath = Files.createTempFile("graft_job_", ".json")
    Files.write(cfgPath, cfg.getBytes("UTF-8"))
    Main.main(Array(cfgPath.toString, ws, sfDir))

    val loaded = spark.read.parquet(s"$ws/target/customer_nations")
    val expected = Tables(spark, sfDir, "customer")
      .join(Tables(spark, sfDir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .selectExpr("c_custkey AS custkey", "c_name AS customer_name", "n_name AS nation")
    assert(loaded.count() === expected.count())
    val a = loaded.orderBy("custkey").collect().map(_.toSeq).toSeq
    val b = expected.orderBy("custkey").collect().map(_.toSeq).toSeq
    assert(a === b)
  }

  test("config-driven UPSERT migration: sink block selects the keyed table") {
    val ws = Files.createTempDirectory("graft_cli_kt_").toString
    val cfg = s"""{
      |  "workspace": "X",
      |  "sink": { "type": "keyedTable", "key": "custkey",
      |            "writePartitions": 4, "clustering": "order_id" },
      |  "tables": [{
      |    "targetTable": "cust_orders",
      |    "sources": [
      |      { "name": "orders", "filter": "o_orderstatus = 'F'" },
      |      { "name": "customer" }
      |    ],
      |    "root": "orders",
      |    "joins": [
      |      { "rightTable": "customer",
      |        "leftCol": "o_custkey", "rightCol": "c_custkey" }
      |    ],
      |    "transformedColumns": [
      |      "c_custkey AS custkey", "o_orderkey AS order_id",
      |      "o_orderpriority AS priority" ]
      |  }]
      |}""".stripMargin
    val cfgPath = Files.createTempFile("graft_job_kt_", ".json")
    Files.write(cfgPath, cfg.getBytes("UTF-8"))
    Main.main(Array(cfgPath.toString, ws, sfDir))

    val target = s"$ws/target/cust_orders"
    // the load landed as committed keyed-table manifests, clustered on
    // the declared partition key, with the composite PK declared
    assert(graft.sources.KeyedTable.liveFiles(target).nonEmpty)
    assert(graft.sources.KeyedTableOps.tableKeys(target) ===
      Some(Seq("custkey", "order_id")))
    val expected = Tables(spark, sfDir, "orders")
      .where("o_orderstatus = 'F'")
      .join(Tables(spark, sfDir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .selectExpr("c_custkey AS custkey", "o_orderkey AS order_id",
        "o_orderpriority AS priority")
    val latest = graft.sources.KeyedTableOps.latest(spark, target)
    assert(latest.count() === expected.count(),
      "per-(custkey, order_id) latest view must hold every loaded row")
    val a = latest.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    val b = expected.collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(a === b)
    // and the Cassandra verbs work on the config-created table:
    // DELETE one customer partition, every order of it disappears
    val victim = expected.select("custkey").head().getLong(0)
    graft.sources.KeyedTableRegistry.withKeyedCatalog(spark) {
      spark.sql(s"DELETE FROM graft_keyed.`$target` WHERE custkey = $victim")
      assert(graft.sources.KeyedTableOps.latest(spark, target)
        .where(col("custkey") === victim).count() === 0)
    }
  }

  test("a misdeclared sink contract fails fast, before any work") {
    val ws = Files.createTempDirectory("graft_cli_bad_").toString
    val cfg = s"""{
      |  "workspace": "X",
      |  "sink": { "type": "keyedTable", "key": "custkey",
      |            "clustering": "order_idd" },
      |  "tables": [{
      |    "targetTable": "t_bad",
      |    "sources": [ { "name": "orders" } ],
      |    "root": "orders",
      |    "joins": [],
      |    "transformedColumns": [
      |      "o_custkey AS custkey", "o_orderkey AS order_id" ]
      |  }]
      |}""".stripMargin
    val cfgPath = Files.createTempFile("graft_job_bad_", ".json")
    Files.write(cfgPath, cfg.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException] {
      Main.main(Array(cfgPath.toString, ws, sfDir))
    }
    assert(e.getMessage.contains("order_idd"))
    // fail-fast means NOTHING was staged or declared
    assert(!new java.io.File(s"$ws/target/t_bad").exists(),
      "a rejected config must not have touched the target")
    assert(!new java.io.File(s"$ws/raw").exists(),
      "a rejected config must not have staged sources")
  }
}
