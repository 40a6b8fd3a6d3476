package graft.ops

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact top-k: the brute-force baseline every recall number in the
  * catalog stands on, written once.
  *
  * [[scored]] broadcasts the SMALL query batch against the partitioned
  * corpus scan — the corpus never shuffles — and scores each pair by
  * cosine. [[topK]] then keeps the k best rows per group with the
  * bounded-state `topKPairs` aggregate: each partition keeps a k-entry
  * buffer per group and ships its k·16 bytes, where a `row_number`
  * window would sort the whole query × corpus cross only to discard
  * all but k of it. The order is the oracle window's,
  * (score DESC, id ASC), with doubles compared as Spark's sort compares
  * them, so the rows are the window's rows bit for bit.
  */
object ExactTopK {

  /** `broadcast(queries)` joined with `corpus` on `on`, plus
    * `cos_sim = dot(qv, cv) / (qn · cn)`: the queries carry their
    * vector and norm as `qv`/`qn`, the corpus as `cv`/`cn`. */
  def scored(queries: DataFrame, corpus: DataFrame, on: Column): DataFrame =
    broadcast(queries).join(corpus, on)
      .withColumn("cos_sim",
        GraftFunctions.dot(col("qv"), col("cv")) / (col("qn") * col("cn")))

  /** Per group of `groups`, the `k` rows best by (`score` DESC, `id`
    * ASC), as the group columns, `id` and `score` under their input
    * names, and `rnk` BIGINT 1..k. `score` is a DOUBLE column and `id`
    * a BIGINT one; negate a distance to rank it nearest-first (IEEE
    * negation is exact). */
  def topK(scored: DataFrame, groups: Seq[String], score: String, id: String,
      k: Int): DataFrame = {
    val g = groups.map(col)
    scored.groupBy(g: _*)
      .agg(GraftFunctions.topKPairs(col(score), col(id), k).as("tk"))
      .select(g :+ posexplode(col("tk")).as(Seq("pos", "e")): _*)
      .select(g ++ Seq(col("e.id").as(id), col("e.score").as(score),
        (col("pos") + 1).cast("bigint").as("rnk")): _*)
  }
}
