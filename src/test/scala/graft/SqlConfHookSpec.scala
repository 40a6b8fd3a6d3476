package graft

import org.scalatest.funsuite.AnyFunSuite

/** The SPARK_GRAFT_SQLCONF hook Bench and Verify share. */
class SqlConfHookSpec extends AnyFunSuite {
  test("SPARK_GRAFT_SQLCONF: key=value segments parse, anything else fails") {
    assert(SparkEntry.sqlConfOverrides(None).isEmpty)
    assert(SparkEntry.sqlConfOverrides(Some(
      " spark.sql.adaptive.enabled = false,,spark.sql.shuffle.partitions=7 ")) ===
      Seq("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "7"))
    Seq("spark.sql.codegen.wholeStage", "a=1,typo", "=false").foreach { bad =>
      val e = intercept[RuntimeException](SparkEntry.sqlConfOverrides(Some(bad)))
      assert(e.getMessage.contains("is not key=value"), bad)
    }
  }
}
