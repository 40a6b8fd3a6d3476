package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for the vector hot path (SURVEY.md §7.3:
  * "optional custom Expression with codegen as perf upgrade" over the
  * higher-order-function formulation). Spark's array lambdas
  * (zip_with/aggregate) run INTERPRETED — one closure dispatch per
  * element; this generates a tight Java loop inside whole-stage
  * codegen instead.
  *
  * Semantics are bit-identical to the TextOps double fold (sequential
  * multiply-add in index order, seed 0.0), so swapping one for the
  * other cannot change any oracle-checked result. Null ELEMENTS are
  * not supported (engine contract: embedding arrays are dense);
  * null arrays yield null.
  */
final case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot requires array<double> inputs, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductD =
    copy(left = newLeft, right = newRight)
}

/** The engine's SQL functions and their Column API. Every function is
  * injected once, at session build, by [[GraftExtensions]] (config
  * `spark.sql.extensions=graft.functions.GraftExtensions`); the Column
  * helpers only resolve by name — the supported public route to a
  * custom Expression in Spark 4 (Column-from-Expression internals are
  * private[sql]). A helper used in a session built without the
  * extension fails with a message naming that config. */
object GraftFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{call_function, sqrt}
  import scala.reflect.{ClassTag, classTag}

  /** Resolves `name` in the active session, failing fast (with the
    * config that injects it) when the session lacks the function. */
  private def call(name: String, args: Column*): Column = {
    if (!SparkSession.active.sessionState.functionRegistry
        .functionExists(FunctionIdentifier(name)))
      throw new IllegalStateException(s"function $name is not registered in " +
        "the active session: build it with " +
        "spark.sql.extensions=graft.functions.GraftExtensions")
    call_function(name, args: _*)
  }

  /** Double-precision dot product (see [[DotProductD]]). */
  def dot(a: Column, b: Column): Column = call("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Bulk shingle/token hashing (see [[ArrayH32]]); `mod <= 0` = none.
    * Only the injected variants exist: mod must be 0 (raw) or
    * [[graft.ops.TextOps.P]] — anything else would silently hash with
    * the wrong modulus. */
  def h32Array(a: Column, mod: Long): Column = {
    require(mod <= 0 || mod == graft.ops.TextOps.P,
      s"h32Array supports mod <= 0 (none) or TextOps.P (${graft.ops.TextOps.P}), got $mod")
    call(if (mod > 0) "graft_h32_array_modp" else "graft_h32_array", a)
  }

  /** |A ∩ B| of two SORTED distinct array<bigint> columns (see
    * [[ArrayIntersectCountSorted]] for the invariant). */
  def intersectCountSorted(a: Column, b: Column): Column =
    call("graft_intersect_count", a, b)

  /** One-pass k=16 minhash signature (see [[MinHashSig]]). */
  def minhashSig(hashes: Column): Column = call("graft_minhash_sig", hashes)

  /** Row-local (df, shingle) rarity ranking against a broadcast sorted
    * dictionary (see [[RankByDf]]); absent keys rank with df = 1. */
  def rankByDf(sh: Column, dictKeys: Column, dictDfs: Column): Column =
    call("graft_rank_by_df", sh, dictKeys, dictDfs)

  /** Fused tokens → hashed n-gram shingles (see [[ShingleHashes]]).
    * Injected variants only: n ∈ [[ShingleNs]], mod ∈ {0, TextOps.P}. */
  def shingleHashes(toks: Column, n: Int, mod: Long): Column = {
    require(ShingleNs.contains(n), s"shingleHashes supports n in $ShingleNs, got $n")
    require(mod <= 0 || mod == graft.ops.TextOps.P,
      s"shingleHashes supports mod <= 0 (none) or TextOps.P (${graft.ops.TextOps.P}), got $mod")
    call(s"graft_shingle_hashes_${n}_${if (mod > 0) "modp" else "raw"}", toks)
  }

  /** Optimizer fence (see [[Materialize]]): the wrapped column is
    * computed once per row where it is defined; filters will not push
    * through it and projections will not inline it. */
  def materialize(c: Column): Column = call("graft_materialize", c)

  /** Positional character n-grams (see [[CharNGrams]]); only n = 3 is
    * injected. */
  def charNGrams(s: Column, n: Int): Column = {
    require(n == 3, s"charNGrams supports n = 3 only, got $n")
    call(s"graft_char_ngrams_$n", s)
  }

  /** Bit-identical to TextOps.cosineD (same fold order/seed). */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Squared L2 distance over one subspace window (see [[L2SubDist]]);
    * `start` is 0-based. Injected variant: len = 8 (the PQ subspace
    * width). */
  def l2sub(a: Column, b: Column, start: Column, len: Int): Column = {
    require(len == 8, s"l2sub supports len = 8 only, got $len")
    call(s"graft_l2sub_$len", a, b, start)
  }

  /** KMV (theta) sketch of a BIGINT hash column: the k smallest
    * distinct values, ascending (see [[KmvSketchAgg]]). Injected
    * variants only: k ∈ [[KmvKs]]. */
  def kmv(h: Column, k: Int): Column = {
    require(KmvKs.contains(k), s"kmv supports k in $KmvKs, got $k")
    call(s"graft_kmv_$k", h)
  }

  private[functions] val KmvKs = Set(64, 256)

  /** Mergeable KLL quantile sketch of a DOUBLE column: struct of
    * (values, weights) arrays sorted by value (see [[KllSketchAgg]]
    * for the deterministic rank-error contract). Injected variants:
    * k ∈ [[KllKs]]. */
  def kll(v: Column, k: Int): Column = {
    require(KllKs.contains(k), s"kll supports k in $KllKs, got $k")
    call(s"graft_kll_$k", v)
  }

  private[functions] val KllKs = Set(128, 400)

  /** Misra-Gries frequent-items sketch of a STRING column: struct of
    * (key, cnt) arrays, at most k counters (see [[MisraGriesAgg]] for
    * the deterministic error contract). Injected variants:
    * k ∈ [[MgKs]]. */
  def misraGries(c: Column, k: Int): Column = {
    require(MgKs.contains(k), s"misraGries supports k in $MgKs, got $k")
    call(s"graft_mg_$k", c)
  }

  private[functions] val MgKs = Set(16, 64)

  // the shingle widths the engine uses (3-gram dedup, 5-gram winnow,
  // 16-token windows for duplicated-substring detection)
  private[functions] val ShingleNs = Seq(3, 5, 16)

  /** Constant-state component-wise sum of `array<bigint>` vectors (see
    * [[LongVecSumAgg]]). Injected variants: dim ∈ [[LvSumDims]]
    * (power-of-two widths bracketing common embedding sizes; the
    * fixture embeddings are 64-wide). Integer-scale doubles first for
    * order-independent exact centroids. */
  def longVecSum(a: Column, dim: Int): Column = {
    require(LvSumDims.contains(dim), s"longVecSum supports dim in $LvSumDims, got $dim")
    call(s"graft_lvsum_$dim", a)
  }

  private[functions] val LvSumDims = Set(8, 16, 32, 64, 128, 256)

  /** Bounded-state top-k of (score, id) pairs, best-first by
    * (score DESC, id ASC) — the shuffle-light replacement for a
    * rank-window top-k (see [[TopKPairsAgg]]); queries reach it through
    * [[graft.ops.ExactTopK]]. Injected variants: k ∈ [[TopKKs]]
    * (1 = argmax, the hard-negative miner; 3 = the multimodal k-NN). */
  def topKPairs(score: Column, id: Column, k: Int): Column = {
    require(TopKKs.contains(k), s"topKPairs supports k in $TopKKs, got $k")
    call(s"graft_topk_$k", score, id)
  }

  private[functions] val TopKKs = Set(1, 3, 5, 10, 100)

  private type Builder = Seq[Expression] => Expression

  /** One injectable function: its name, its `DESCRIBE FUNCTION` usage
    * and its builder. */
  private def fn[T <: Expression: ClassTag](name: String, args: String, doc: String)(
      build: Seq[Expression] => T): (FunctionIdentifier, ExpressionInfo, Builder) =
    (FunctionIdentifier(name), new ExpressionInfo(classTag[T].runtimeClass.getName,
      null, name, s"$name($args) - $doc", ""), build)

  private val P = graft.ops.TextOps.P

  /** Every engine function, one entry per SQL name. */
  private val functions = Seq(
    fn("graft_dot", "a, b", "double-precision dot product of two arrays " +
      "(sequential fold order), codegen'd.")(e => DotProductD(e(0), e(1))),
    fn("graft_h32_array", "tokens", "32-bit md5-prefix hash per element.")(
      e => ArrayH32(e(0), 0L)),
    fn("graft_h32_array_modp", "tokens", s"32-bit md5-prefix hash per element, mod $P.")(
      e => ArrayH32(e(0), P)),
    fn("graft_intersect_count", "a, b", "|a ∩ b| of two sorted distinct " +
      "array<bigint>.")(e => ArrayIntersectCountSorted(e(0), e(1))),
    fn("graft_minhash_sig", "hashes", "one-pass k=16 minhash signature.")(
      e => MinHashSig(e(0))),
    fn("graft_rank_by_df", "sh, dictKeys, dictDfs", "shingles ordered by " +
      "(df, shingle) against a sorted dictionary; absent keys have df = 1.")(
      e => RankByDf(e(0), e(1), e(2))),
    fn("graft_char_ngrams_3", "s", "positional character 3-grams.")(
      e => CharNGrams(e(0), 3)),
    fn("graft_materialize", "c", "c, computed once per row (optimizer fence).")(
      e => Materialize(e(0))),
    fn("graft_l2sub_8", "a, b, start", "squared L2 distance over the " +
      "8-wide window at 0-based start.")(e => L2SubDist(e(0), e(1), e(2), 8))
  ) ++ LvSumDims.toSeq.sorted.map(d => fn(s"graft_lvsum_$d", "v",
      s"component-wise sum of $d-wide array<bigint> vectors.")(
      e => LongVecSumAgg(e(0), d))
  ) ++ KmvKs.toSeq.sorted.map(k => fn(s"graft_kmv_$k", "h",
      s"KMV sketch: the $k smallest distinct BIGINT values, ascending.")(
      e => KmvSketchAgg(e(0), k))
  ) ++ KllKs.toSeq.sorted.map(k => fn(s"graft_kll_$k", "v",
      s"KLL quantile sketch (k = $k) of a DOUBLE column.")(
      e => KllSketchAgg(e(0), k))
  ) ++ MgKs.toSeq.sorted.map(k => fn(s"graft_mg_$k", "c",
      s"Misra-Gries frequent items (at most $k counters) of a STRING column.")(
      e => MisraGriesAgg(e(0), k))
  ) ++ TopKKs.toSeq.sorted.map(k => fn(s"graft_topk_$k", "score, id",
      s"top $k (score, id) pairs by (score DESC, id ASC).")(
      e => TopKPairsAgg(e(0), e(1), k))
  ) ++ ShingleNs.flatMap(n => Seq(P -> "modp", 0L -> "raw").map { case (mod, tag) =>
      fn(s"graft_shingle_hashes_${n}_$tag", "tokens", s"hashed $n-token shingles" +
        (if (mod > 0) s", mod $mod." else "."))(e => ShingleHashes(e(0), n, mod))
  })

  private[functions] def inject(ext: SparkSessionExtensions): Unit = {
    functions.foreach(ext.injectFunction)
    // insert-only SQL MERGE over a keyed-catalog table must anti-join
    // the table's CURRENT state, not its commit log (Spark plans that
    // one statement as a plain append around the connector) — runs in
    // the hint stage, before Spark's Resolution batch can rewrite it
    ext.injectHintResolutionRule(s =>
      new graft.sources.InsertOnlyMergeCurrentState(s))
    ext.injectOptimizerRule(_ => graft.plans.BandJoinRewrite)
  }
}

/** `spark.sql.extensions` entry point. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.inject(ext)
}
