package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

/** Optimizer rule: rewrite an inner band join
  *
  *   `L JOIN R ON  x >= y - w1 AND x <= y + w2`   (x∈L, y∈R, w literal)
  *
  * into a bucketed equi-join. Spark plans the naive form as a
  * BroadcastNestedLoopJoin / CartesianProduct — O(|L|·|R|) at any
  * cluster size — while the band only relates values within w1+w2 of
  * each other. The rewrite buckets x by W = w1+w2 and explodes each R
  * row to the (at most two) consecutive buckets its band can touch,
  * turning the join into `bucket(x) = b AND <original band>` — a hash
  * join whose cost is O(matches). IEEE divide/floor monotonicity
  * guarantees bucket coverage, and the original predicate is kept as a
  * residual guard, so the rewrite is exact.
  *
  * This is the (c)-tier custom-Catalyst path of SURVEY.md §7.3 — a
  * whole-operator optimization the built-in planner lacks (Spark has
  * no band-join strategy). Registered via [[graft.functions.GraftExtensions]]
  * (`spark.sql.extensions`) or `spark.experimental.extraOptimizations`.
  */
object BandJoinRewrite extends Rule[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  private val BucketL = "__graft_bucket_l"
  private val BucketR = "__graft_bucket_r"

  /** Does the condition already carry an EQUI key pair across the two
    * children? Then Spark hash-joins on it with the band as a residual
    * — already O(matches), and strictly better than bucketing (no
    * explode, no duplicate hashing). The rewrite exists to save joins
    * that would otherwise be nested-loop/cartesian; firing on a
    * hash-joinable condition REGRESSES it (measured ~2× on the text
    * analytics entries when the rule went session-wide). */
  private def hasEquiKey(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Boolean = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    def crossKey(a: Expression, b: Expression): Boolean =
      a.references.nonEmpty && b.references.nonEmpty &&
        ((a.references.subsetOf(left.outputSet) &&
          b.references.subsetOf(right.outputSet)) ||
         (a.references.subsetOf(right.outputSet) &&
          b.references.subsetOf(left.outputSet)))
    conjuncts(cond).exists {
      case EqualTo(a, b) => crossKey(a, b)
      case EqualNullSafe(a, b) => crossKey(a, b)
      case _ => false
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint)
        if !alreadyBucketed(j) &&
          // only joins that would otherwise plan nested-loop: an equi
          // key in the condition means Spark hash-joins already
          !hasEquiKey(cond, left, right) &&
          // kill switch: with the rule wired session-wide through
          // spark.sql.extensions, baselines (and users who want
          // Spark's naive plan back) disable it per-session
          conf.getConfString("spark.graft.bandjoin.enabled", "true") == "true" =>
      BandJoinPattern.findBand(cond, left, right) match {
        case Some((x, y, w1, w2)) if w1 + w2 > 0 =>
          val w = w1 + w2
          val integral = BandJoinPattern.integralOperands(x, y, w1, w2)
          def div(e: Expression): Expression =
            BandJoinPattern.div(e, w, integral)
          def shift(base: Expression, delta: Double, sign: Int): Expression =
            BandJoinPattern.shift(base, delta, sign, integral)

          // left: bucket(x)
          val lBucket = Alias(div(x), BucketL)()
          val newLeft = Project(left.output :+ lBucket, left)

          // right: explode(sequence(bucket(y - w1), bucket(y + w2)))
          val lo = div(shift(y, w1, -1))
          val hi = div(shift(y, w2, 1))
          // ResolveTimeZone already ran — set the TZ explicitly or the
          // TimeZoneAwareExpression stays unresolved
          val gen = Explode(Sequence(lo, hi, None, Some(conf.sessionLocalTimeZone)))
          val rAttr = AttributeReference(BucketR, LongType, nullable = false)()
          val newRight = Generate(gen, unrequiredChildIndex = Nil, outer = false,
            qualifier = None, generatorOutput = Seq(rAttr), child = right)

          val newCond = And(EqualTo(lBucket.toAttribute, rAttr), cond)
          Project(j.output, Join(newLeft, newRight, Inner, Some(newCond), hint))
        case _ => j
      }
  }

  private def alreadyBucketed(j: Join): Boolean =
    j.left.output.exists(_.name == BucketL) ||
      j.right.output.exists(_.name == BucketR)
}

/** Band-join recognition + exact bucketing arithmetic for the rewrite
  * rule above. */
private[graft] object BandJoinPattern {

  /** Integral operands with whole widths bucket in exact LONG
    * arithmetic (floorDiv): the double path rounds above 2^53, where
    * bucket(x) can land outside [bucket(y-w1), bucket(y+w2)] and
    * silently drop matching rows. (Long inputs within w of
    * Long.Min/MaxValue would overflow the shifted endpoints — out of
    * scope for band semantics.) */
  def integralOperands(x: Expression, y: Expression, w1: Double, w2: Double): Boolean =
    Seq(x.dataType, y.dataType).forall {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    } && w1.isWhole && w2.isWhole

  def div(e: Expression, w: Double, integral: Boolean): Expression =
    if (integral) {
      val wL = Literal(w.toLong, LongType)
      val eL = Cast(e, LongType)
      // floorDiv(e, w) = (e - pmod(e, w)) div w, exact on longs
      IntegralDivide(Subtract(eL, Pmod(eL, wL)), wL)
    } else {
      Cast(Floor(Divide(Cast(e, DoubleType), Literal(w, DoubleType))), LongType)
    }

  def shift(base: Expression, delta: Double, sign: Int, integral: Boolean): Expression =
    if (integral) {
      val d = Literal(delta.toLong * sign, LongType)
      Add(Cast(base, LongType), d)
    } else if (sign < 0) Subtract(Cast(base, DoubleType), Literal(delta, DoubleType))
    else Add(Cast(base, DoubleType), Literal(delta, DoubleType))

  /** Find `x >= y - w1 AND x <= y + w2` (in any conjunct order /
    * operand orientation) with x strictly from one side and y from the
    * other; returns (x, y, w1, w2) with x normalized to the LEFT child. */
  def findBand(cond: Expression, left: LogicalPlan, right: LogicalPlan)
      : Option[(Expression, Expression, Double, Double)] = {
    val conjuncts = splitConjuncts(cond)

    // normalize each conjunct to (x, y, bound, isLower): x >= y - w / x <= y + w
    def lower(e: Expression): Option[(Expression, Expression, Double)] = e match {
      case GreaterThanOrEqual(x, Subtract(y, DoubleLit(w), _)) => Some((x, y, w))
      case LessThanOrEqual(Subtract(y, DoubleLit(w), _), x) => Some((x, y, w))
      case _ => None
    }
    def upper(e: Expression): Option[(Expression, Expression, Double)] = e match {
      case LessThanOrEqual(x, Add(y, DoubleLit(w), _)) => Some((x, y, w))
      case GreaterThanOrEqual(Add(y, DoubleLit(w), _), x) => Some((x, y, w))
      case _ => None
    }

    val lowers = conjuncts.flatMap(lower)
    val uppers = conjuncts.flatMap(upper)
    (for {
      (x1, y1, w1) <- lowers
      (x2, y2, w2) <- uppers
      if x1.semanticEquals(x2) && y1.semanticEquals(y2)
      if sideOf(x1, left, right).isDefined && sideOf(y1, left, right).isDefined
      if sideOf(x1, left, right) != sideOf(y1, left, right)
    } yield {
      // orient so the bucketed (non-exploded) side is x on the LEFT child
      if (sideOf(x1, left, right).contains("left")) (x1, y1, w1, w2)
      else (y1, x1, w2, w1) // x on right: bucket y (left side) instead —
      // y ∈ [x - w2, x + w1] is the same band seen from the other side
    }).headOption
  }

  private object DoubleLit {
    def unapply(e: Expression): Option[Double] = e match {
      case Literal(v: Double, DoubleType) => Some(v)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case Cast(DoubleLit(v), _, _, _) => Some(v)
      case _ => None
    }
  }

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[String] = {
    val refs = e.references
    if (refs.nonEmpty && refs.subsetOf(left.outputSet)) Some("left")
    else if (refs.nonEmpty && refs.subsetOf(right.outputSet)) Some("right")
    else None
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }
}
