package graft

import graft.pipeline.V2KeyedTableSink
import graft.sources.{KeyedTable, KeyedTableOps, KeyedTableRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The SQL spelling of the maintenance + declaration surface:
  * `ALTER TABLE ... SET/UNSET TBLPROPERTIES` routed through the same
  * validated declare* operations as the programmatic API, and Spark 4
  * native `CALL graft_keyed.{compact,vacuum,rebucket}(...)` returning
  * one-row receipts. */
class SqlDdlSpec extends SparkSpecBase {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def rows(lo: Long, hi: Long): DataFrame = {
    val s = spark
    import s.implicits._
    (lo until hi).map(k => (k, s"v$k", k * 10L)).toDF("k", "s", "c")
  }

  private def sink = V2KeyedTableSink("k", writeParallelism = 4)

  private def withCatalog[A](body: => A): A =
    KeyedTableRegistry.withKeyedCatalog(spark)(body)

  private def ident(t: String): String = s"graft_keyed.`$t`"

  test("CALL compact folds the live log and returns the snapshot name") {
    val t = tmpDir("graft_ddl_compact_") + "/t"
    sink.append(rows(0, 100), t)
    sink.append(rows(100, 200), t)
    withCatalog {
      val receipt = spark.sql(
        s"CALL graft_keyed.compact('$t')").collect()
      assert(receipt.length === 1 && receipt.head.getString(0) != null &&
        receipt.head.getString(0).startsWith("rewrite-"),
        s"compact receipt: ${receipt.toSeq}")
      assert(KeyedTable.liveManifestNames(t).size === 1)
      // a re-CALL with nothing to fold receipts NULL
      val again = spark.sql(s"CALL graft_keyed.compact('$t')").collect()
      assert(again.head.isNullAt(0), "no-op fold must receipt NULL")
    }
  }

  test("CALL vacuum reaps superseded bytes and returns the count") {
    val t = tmpDir("graft_ddl_vac_") + "/t"
    sink.append(rows(0, 100), t)
    sink.append(rows(100, 200), t)
    withCatalog {
      spark.sql(s"CALL graft_keyed.compact('$t')")
      val reaped = spark.sql(
        s"CALL graft_keyed.vacuum('$t', 0)").collect().head.getLong(0)
      assert(reaped >= 8L,
        s"vacuum after a fold must reap the superseded files, got $reaped")
      assert(spark.read.format("graft.sources.KeyedTable").load(t)
        .count() === 200L)
    }
  }

  test("CALL rebucket (named args) re-clusters and restores KGP") {
    val t = tmpDir("graft_ddl_rebucket_") + "/t"
    sink.append(rows(0, 500), t)
    withCatalog {
      val receipt = spark.sql(
        s"CALL graft_keyed.rebucket(path => '$t', buckets => 8, " +
          "tombstone_grace_ms => 0)").collect()
      assert(receipt.head.getString(0) != null, "rebucket must fold")
      val latest = KeyedTableOps.latest(spark, t)
      assert(graft.ops.PlanChecks.countShuffles(
        latest.queryExecution.executedPlan) == 0,
        "rebucket must restore clustered reads at the new modulus")
      assert(latest.count() === 500L)
      assert(latest.rdd.getNumPartitions === 8,
        "the new modulus must be 8 buckets")
    }
  }

  test("SET TBLPROPERTIES routes through the validated declarations") {
    val t = tmpDir("graft_ddl_props_") + "/t"
    sink.append(rows(0, 100), t)
    withCatalog {
      // a bad column name refuses through the same validation the
      // programmatic declare* uses
      val e = intercept[Exception] {
        spark.sql(s"ALTER TABLE ${ident(t)} " +
          "SET TBLPROPERTIES('sortOrder'='nope')")
      }
      assert(e.getMessage.contains("nope"))
      // an unknown property refuses loudly (typo protection)
      val e2 = intercept[Exception] {
        spark.sql(s"ALTER TABLE ${ident(t)} " +
          "SET TBLPROPERTIES('sortOrdr'='c')")
      }
      assert(e2.getMessage.contains("unknown or immutable"))
      // the zorder spelling lands and the next fold interleaves
      spark.sql(s"ALTER TABLE ${ident(t)} " +
        "SET TBLPROPERTIES('sortOrder'='zorder(k,c)')")
      // declared blooms: the next write grows sidecars
      spark.sql(s"ALTER TABLE ${ident(t)} " +
        "SET TBLPROPERTIES('bloomColumns'='s')")
      sink.append(rows(100, 200), t)
      assert(new java.io.File(s"$t/data").listFiles()
        .exists(_.getName.startsWith(".bloom-")),
        "SET bloomColumns must reach the write path")
      // UNSET removes the optional declaration; load-bearing ones refuse
      spark.sql(s"ALTER TABLE ${ident(t)} UNSET TBLPROPERTIES('sortOrder')")
      val e3 = intercept[Exception] {
        spark.sql(s"ALTER TABLE ${ident(t)} UNSET TBLPROPERTIES('key')")
      }
      assert(e3.getMessage.contains("load-bearing"))
    }
  }

  test("SHOW TBLPROPERTIES surfaces declarations and the effective contract") {
    val t = tmpDir("graft_ddl_show_") + "/t"
    sink.append(rows(0, 50), t)
    KeyedTableOps.declareSortOrder(t, Seq("c"))
    withCatalog {
      val props = spark.sql(s"SHOW TBLPROPERTIES ${ident(t)}")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(props.get("sortOrder").contains("c"), s"props: $props")
      // never declared, but INFERRED from the committed manifests —
      // the contract a write would actually use
      assert(props.get("key").contains("k"), s"props: $props")
      assert(props.get("writePartitions").contains("4"), s"props: $props")
    }
  }

  test("unknown procedures refuse with the offered list") {
    val t = tmpDir("graft_ddl_noproc_") + "/t"
    sink.append(rows(0, 10), t)
    withCatalog {
      val e = intercept[Exception] {
        spark.sql(s"CALL graft_keyed.optimize('$t')")
      }
      assert(e.getMessage.contains("compact") ||
        Option(e.getCause).exists(_.getMessage.contains("compact")),
        s"refusal must offer the real procedures: ${e.getMessage}")
    }
  }
}
