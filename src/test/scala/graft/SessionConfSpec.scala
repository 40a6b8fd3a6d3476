package graft

import graft.SessionConf.withConfs

/** [[SessionConf.withConfs]]: set, run, restore. Each test runs in its
  * own `newSession()`, whose conf holds only the context's settings,
  * so which keys start absent does not depend on the specs run before. */
class SessionConfSpec extends SparkSpecBase {

  private val parts = "spark.sql.shuffle.partitions"
  private val cbo = "spark.sql.cbo.enabled" // registered, default "false"
  private val custom = "spark.graft.sessionconf.spec"

  test("sets a present key for the scope and restores its value") {
    val s = spark.newSession()
    val prior = s.conf.get(parts)
    assert(s.conf.getAll.contains(parts))
    withConfs(s, Map(parts -> Some("9"))) { assert(s.conf.get(parts) === "9") }
    assert(s.conf.get(parts) === prior)
  }

  test("a key absent before is unset afterwards, not set to its default") {
    val s = spark.newSession()
    assert(!s.conf.getAll.contains(cbo) && !s.conf.getAll.contains(custom))
    withConfs(s, Map(cbo -> Some("true"), custom -> Some("x"))) {
      assert(s.conf.get(cbo) === "true" && s.conf.get(custom) === "x")
    }
    assert(!s.conf.getAll.contains(cbo) && !s.conf.getAll.contains(custom))
    assert(s.conf.get(cbo) === "false" && s.conf.getOption(custom).isEmpty)
  }

  test("None unsets the key inside the scope") {
    val s = spark.newSession()
    s.conf.set(custom, "v")
    withConfs(s, Map(custom -> None, parts -> None)) {
      assert(s.conf.getOption(custom).isEmpty)
      assert(!s.conf.getAll.contains(parts))
    }
    assert(s.conf.get(custom) === "v" && s.conf.getAll.contains(parts))
  }

  test("restores every key when the body throws") {
    val s = spark.newSession()
    val prior = s.conf.get(parts)
    s.conf.set(custom, "v")
    intercept[IllegalStateException] {
      withConfs(s, Map(parts -> Some("3"), custom -> None, cbo -> Some("true"))) {
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.get(parts) === prior && s.conf.get(custom) === "v")
    assert(!s.conf.getAll.contains(cbo))
  }

  test("restores the keys already set when a later value is rejected") {
    val s = spark.newSession()
    intercept[IllegalArgumentException] {
      withConfs(s, Map(custom -> Some("x"), parts -> Some("not-a-number"))) {
        fail("the body must not run")
      }
    }
    assert(s.conf.getOption(custom).isEmpty)
  }

  test("nested scopes on the same key restore in order") {
    val s = spark.newSession()
    withConfs(s, Map(custom -> Some("outer"))) {
      withConfs(s, Map(custom -> Some("inner"))) {
        assert(s.conf.get(custom) === "inner")
      }
      assert(s.conf.get(custom) === "outer")
      withConfs(s, Map(custom -> None)) { assert(s.conf.getOption(custom).isEmpty) }
      assert(s.conf.get(custom) === "outer")
    }
    assert(s.conf.getOption(custom).isEmpty)
  }

  test("registering the keyed catalog leaves the v2-bucketing switch unset") {
    val s = spark.newSession()
    val bucketing = "spark.sql.sources.v2.bucketing.enabled"
    assert(!s.conf.getAll.contains(bucketing))
    graft.sources.KeyedTableRegistry.register(s)
    assert(!s.conf.getAll.contains(bucketing))
    graft.sources.KeyedTableRegistry.withKeyedCatalog(s) {
      assert(s.conf.get(bucketing) === "true")
    }
    assert(!s.conf.getAll.contains(bucketing))
  }
}
