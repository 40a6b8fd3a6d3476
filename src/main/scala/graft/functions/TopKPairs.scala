package graft.functions

import java.nio.ByteBuffer
import java.util.Comparator

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded-state top-k aggregate over (score DOUBLE, id BIGINT) pairs,
  * ordered best-first by (score DESC, id ASC) — exactly the rank-window
  * ordering the ANN queries use, so swapping one for the other cannot
  * change any oracle-checked result.
  *
  * Scale rationale: the `row_number() OVER (PARTITION BY query ORDER BY
  * score DESC)` formulation sorts EVERY scored pair (n_candidates ×
  * n_queries rows) only to discard all but k per query (Spark's
  * `WindowGroupLimit` cuts each sorted partition to k before the
  * shuffle, so the sort is the cost).
  * This aggregate keeps a k-entry buffer per group, combines map-side,
  * and ships k·16 bytes per (partition, query) through the shuffle —
  * the same partial/final contract as any sum. k is a registered
  * constant (house style for custom-expression widths).
  */
final case class TopKPairsAgg(
    left: Expression,
    right: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[(Double, Long)]]
  with BinaryLike[Expression] {

  require(k > 0, s"top-k size must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_topk requires (DOUBLE, BIGINT), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = s"graft_topk_$k"

  private def cmp = TopKPairsAgg.Cmp

  override def createAggregationBuffer(): java.util.TreeSet[(Double, Long)] =
    new java.util.TreeSet[(Double, Long)](cmp)

  /** @return false iff v was rejected because the buffer is full and v
    *         is no better than its worst (so anything worse is too) */
  private def add(buf: java.util.TreeSet[(Double, Long)], v: (Double, Long)): Boolean =
    if (buf.size() < k) { buf.add(v); true }
    else if (cmp.compare(v, buf.first()) > 0) { buf.add(v); buf.pollFirst(); true }
    else false

  override def update(
      buf: java.util.TreeSet[(Double, Long)],
      input: InternalRow): java.util.TreeSet[(Double, Long)] = {
    val s = left.eval(input)
    val i = right.eval(input)
    if (s != null && i != null) {
      val sv = s.asInstanceOf[Double]
      val iv = i.asInstanceOf[Long]
      // common case on a full buffer is rejection — decide on
      // primitives before allocating the entry tuple
      if (buf.size() < k) add(buf, (sv, iv))
      else {
        val w = buf.first()
        val c = TopKPairsAgg.compareScores(sv, w._1)
        if (c > 0 || (c == 0 && iv < w._2)) add(buf, (sv, iv))
      }
    }
    buf
  }

  override def merge(
      buf: java.util.TreeSet[(Double, Long)],
      other: java.util.TreeSet[(Double, Long)]): java.util.TreeSet[(Double, Long)] = {
    // iterate best-first; once one entry is rejected with a full
    // buffer, every later (worse) entry would be too
    val it = other.descendingIterator()
    var continue = true
    while (continue && it.hasNext) continue = add(buf, it.next())
    buf
  }

  override def eval(buf: java.util.TreeSet[(Double, Long)]): Any = {
    val out = new Array[Any](buf.size())
    val it = buf.descendingIterator() // best first
    var i = 0
    while (it.hasNext) {
      val e = it.next()
      out(i) = new GenericInternalRow(Array[Any](e._1, e._2))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.TreeSet[(Double, Long)]): Array[Byte] = {
    val bb = ByteBuffer.allocate(16 * buf.size())
    val it = buf.iterator()
    while (it.hasNext) {
      val e = it.next()
      bb.putDouble(e._1)
      bb.putLong(e._2)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[(Double, Long)] = {
    val buf = createAggregationBuffer()
    val bb = ByteBuffer.wrap(bytes)
    while (bb.hasRemaining) buf.add((bb.getDouble(), bb.getLong()))
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKPairsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKPairsAgg =
    copy(left = newLeft, right = newRight)
}

object TopKPairsAgg {
  /** Scores ordered as Spark's sort orders doubles: `0.0` and `-0.0`
    * are equal (java.lang.Double.compare alone ranks `0.0` higher, so
    * the id tie-break would never be reached), NaN equals NaN and is
    * above every other value. */
  private[functions] def compareScores(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** Ascending in goodness: first() is the WORST retained entry
    * (lowest score; largest id on score ties), so capped insertion
    * evicts via pollFirst. Statically defined — the buffer (and so
    * its comparator) ships with the task closure. */
  object Cmp extends Comparator[(Double, Long)] with Serializable {
    override def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val s = compareScores(a._1, b._1)
      if (s != 0) s else java.lang.Long.compare(b._2, a._2)
    }
  }
}
