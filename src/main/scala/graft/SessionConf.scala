package graft

import org.apache.spark.sql.SparkSession

/** Every session-conf write the engine makes. A write either is scoped
  * ([[withConfs]]: set, run, restore) or is a declared memo that must
  * outlive the call that makes it, with the reason at its helper. The
  * memos are the two below and `sources.KeyedTableRegistry.register`
  * (a catalog registration alone, kept for the session like any
  * catalog; the v2-bucketing switch its reads want is scoped by
  * `withKeyedCatalog`).
  * `SessionConfGuardSpec` fails on a write anywhere else in `src/main`. */
object SessionConf {

  /** Runs `body` with each key set (`Some`) or unset (`None`), then puts
    * every key back as it was, also when `body` throws. A key that was
    * not set before is unset again, not pinned to its default string.
    * Nested scopes on the same key restore in order. The settings are
    * session-global while `body` runs, so a frame another thread plans
    * meanwhile sees them too. */
  def withConfs[A](spark: SparkSession, confs: Map[String, Option[String]])(
      body: => A): A = {
    val conf = spark.conf
    val set = conf.getAll // the explicitly set keys, without defaults
    val prior = confs.map { case (k, _) => k -> set.get(k) }
    val assign: ((String, Option[String])) => Unit = {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    try { confs.foreach(assign); body } finally prior.foreach(assign)
  }

  val StateStoreProviderKey = "spark.sql.streaming.stateStore.providerClass"

  /** Declared memo: selects the RocksDB state store for the session.
    * transformWithState requires that provider when its query STARTS,
    * which is after the Dataset builder that calls this has returned,
    * so a scope around the builder would be unwound before the start
    * it exists for. Callers that start other streaming queries later
    * restore the provider themselves (the catalog's streaming entries
    * run inside a [[withConfs]] that restores it). */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set(StateStoreProviderKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Declared memo: exposes parquet TIMESTAMP(NANOS) columns as long
    * nanoseconds (Spark reads no other form of them). The flag is read
    * when a scan EXECUTES, not only when its relation is built, and
    * `Tables` memoizes the events relation and scans it for the rest
    * of the session, so the flag must stay set as long as the relation
    * can be scanned. */
  def readNanosAsLong(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
}
