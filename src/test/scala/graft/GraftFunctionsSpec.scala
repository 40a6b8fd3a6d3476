package graft

import graft.functions.GraftFunctions
import graft.ops.TextOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._

/** The codegen'd DotProductD must be BIT-IDENTICAL to the
  * higher-order-function fold (same multiply-add order, same seed) —
  * the oracle parity of every vector query depends on it. */
class GraftFunctionsSpec extends SparkSpecBase {

  test("graft_dot == HOF fold, bit-exact, on real embeddings") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.alias("a").join(e.alias("b"),
      col("a.vec_id") < col("b.vec_id") && col("b.vec_id") <= 50)
    val diff = pairs.select(
      GraftFunctions.dot(col("a.v"), col("b.v")).as("native"),
      TextOps.dotD(col("a.v"), col("b.v")).as("fold"))
      .where(col("native") =!= col("fold")) // bitwise-equal doubles compare equal
    assert(diff.count() === 0)
  }

  test("cosine == cosineD bit-exact") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val pairs = e.alias("a").join(e.alias("b"),
      col("a.vec_id") < col("b.vec_id") && col("b.vec_id") <= 30)
    val diff = pairs.select(
      GraftFunctions.cosine(col("a.v"), col("b.v")).as("native"),
      TextOps.cosineD(col("a.v"), col("b.v")).as("fold"))
      .where(col("native") =!= col("fold"))
    assert(diff.count() === 0)
  }

  test("expression participates in whole-stage codegen") {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("embedding").cast("array<double>").as("v"))
    val plan = e.select(GraftFunctions.dot(col("v"), col("v")).as("d"))
      .queryExecution.executedPlan
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage
    assert(plan.toString.matches("(?s).*\\*\\(\\d+\\) Project \\[graft_dot.*"),
      s"graft_dot projection not inside a codegen stage:\n$plan")
    // and the expression itself generates code (no eval fallback node)
    val df = e.select(GraftFunctions.dot(col("v"), col("v")).as("d"))
    assert(df.collect().forall(r => r.getDouble(0) >= 0.0)) // self-dot >= 0
  }

  test("GraftExtensions entry point wires into SparkSessionExtensions") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions().apply(ext) // injects fns + rule
  }

  test("SQL registration: graft_dot callable from SQL text") {
    // no registration call: the session's extension conf injects graft_dot
    Tables.registerAll(spark, sfDir)
    val r = spark.sql(
      "SELECT graft_dot(CAST(embedding AS ARRAY<DOUBLE>), CAST(embedding AS ARRAY<DOUBLE>)) AS d FROM embeddings LIMIT 5")
      .collect()
    assert(r.length === 5 && r.forall(_.getDouble(0) > 0.0))
  }

  /** Every SQL name GraftExtensions injects. */
  private val injected = Seq("graft_dot", "graft_h32_array",
    "graft_h32_array_modp", "graft_intersect_count", "graft_minhash_sig",
    "graft_rank_by_df", "graft_char_ngrams_3", "graft_materialize",
    "graft_l2sub_8") ++
    Seq(8, 16, 32, 64, 128, 256).map(d => s"graft_lvsum_$d") ++
    Seq(64, 256).map(k => s"graft_kmv_$k") ++
    Seq(128, 400).map(k => s"graft_kll_$k") ++
    Seq(16, 64).map(k => s"graft_mg_$k") ++
    Seq(1, 3, 5, 10, 100).map(k => s"graft_topk_$k") ++
    Seq(3, 5, 16).flatMap(n =>
      Seq(s"graft_shingle_hashes_${n}_modp", s"graft_shingle_hashes_${n}_raw"))

  test("every engine function resolves in a new session, SQL == Column helper") {
    assert(injected.distinct.size === 32)
    // a fresh session: no helper has run in it, so only the extension
    // can have registered these names
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    injected.foreach { name =>
      assert(reg.functionExists(FunctionIdentifier(name)), s"$name not injected")
      val desc = s.sql(s"DESCRIBE FUNCTION $name").collect().map(_.getString(0))
      assert(desc.exists(_.startsWith(s"Usage: $name(")),
        s"$name has no usage:\n${desc.mkString("\n")}")
    }

    import s.implicits._
    val rows = (0 until 40).map { i =>
      val str = Seq(i % 7, i % 3, i % 5, i).map(j => s"w$j").mkString(" ")
      (i.toLong, str, str.split(" ").toSeq,
        Seq(i % 4, i % 4 + 3, i + 10).map(_.toLong), // sorted, distinct
        Seq(3L, 7L, 12L), Seq(5L, 1L, 2L),           // sorted dictionary
        Seq.tabulate(8)(j => (i * j % 11) / 7.0),
        Seq.tabulate(8)(j => ((i + j) % 5).toDouble),
        Seq.tabulate(8)(j => (i * j).toLong), (i * 37 % 41).toDouble)
    }
    val t = rows.toDF("id", "str", "toks", "h", "g", "gd", "v", "w", "lv", "d")
    t.createOrReplaceTempView("fns")
    import GraftFunctions._
    // (family, SQL call, Column helper); one function per family
    val scalar = Seq(
      ("dot", "graft_dot(v, w)", dot(col("v"), col("w"))),
      ("h32", "graft_h32_array_modp(toks)", h32Array(col("toks"), TextOps.P)),
      ("intersect", "graft_intersect_count(h, g)",
        intersectCountSorted(col("h"), col("g"))),
      ("minhash", "graft_minhash_sig(h)", minhashSig(col("h"))),
      ("rank_by_df", "graft_rank_by_df(h, g, gd)",
        rankByDf(col("h"), col("g"), col("gd"))),
      ("char n-grams", "graft_char_ngrams_3(str)", charNGrams(col("str"), 3)),
      ("materialize", "graft_materialize(toks)", materialize(col("toks"))),
      ("l2sub", "graft_l2sub_8(v, w, 0)", l2sub(col("v"), col("w"), lit(0), 8)),
      ("shingle", "graft_shingle_hashes_3_modp(toks)",
        shingleHashes(col("toks"), 3, TextOps.P)))
    val aggregate = Seq(
      ("lvsum", "graft_lvsum_8(lv)", longVecSum(col("lv"), 8)),
      ("kmv", "graft_kmv_64(id)", kmv(col("id"), 64)),
      ("kll", "graft_kll_128(d)", kll(col("d"), 128)),
      ("mg", "graft_mg_16(str)", misraGries(col("str"), 16)),
      ("topk", "graft_topk_5(d, id)", topKPairs(col("d"), col("id"), 5)))
    scalar.foreach { case (family, sql, helper) =>
      val viaSql = s.sql(s"SELECT id, $sql FROM fns ORDER BY id").collect().toSeq
      val viaHelper = t.select(col("id"), helper).orderBy("id").collect().toSeq
      assert(viaSql === viaHelper, family)
    }
    aggregate.foreach { case (family, sql, helper) =>
      val viaSql = s.sql(s"SELECT $sql FROM fns").collect().toSeq
      assert(viaSql === t.select(helper).collect().toSeq, family)
    }
  }

  test("a helper in a session lacking its function names the extension conf") {
    val s = spark.newSession()
    s.sessionState.functionRegistry.dropFunction(FunctionIdentifier("graft_kmv_64"))
    SparkSession.setActiveSession(s)
    val e = try intercept[IllegalStateException](GraftFunctions.kmv(col("h"), 64))
      finally SparkSession.setActiveSession(spark)
    assert(e.getMessage.contains("graft_kmv_64"))
    assert(e.getMessage.contains(
      "spark.sql.extensions=graft.functions.GraftExtensions"))
  }

  test("h32Array == per-element md5 builtin formulation, bit-exact") {
    val toks = split(trim(col("text")), " ")
    val builtin = transform(toks, s =>
      pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("bigint"), lit(TextOps.P)))
    val diff = Tables(spark, sfDir, "documents")
      .select(GraftFunctions.h32Array(toks, TextOps.P).as("native"),
        builtin.as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    // unmodded variant too
    val builtinRaw = transform(toks, s =>
      conv(substring(md5(s), 1, 8), 16, 10).cast("bigint"))
    val diffRaw = Tables(spark, sfDir, "documents")
      .select(GraftFunctions.h32Array(toks, 0L).as("native"), builtinRaw.as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diffRaw.count() === 0)
  }

  test("intersectCountSorted == size(array_intersect) on sorted sets") {
    import spark.implicits._
    val df = Seq(
      (Seq(1L, 3L, 5L, 9L), Seq(2L, 3L, 9L, 11L)), // partial overlap
      (Seq(1L, 2L), Seq(3L, 4L)),                   // disjoint
      (Seq(7L, 8L, 9L), Seq(7L, 8L, 9L)),           // identical
      (Seq.empty[Long], Seq(1L))).toDF("a", "b")
    val diff = df.select(
      GraftFunctions.intersectCountSorted(col("a"), col("b")).as("native"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
  }

  test("rankByDf == broadcast-join + struct-sort rank, bit-exact on real shingles") {
    // the round-9 prefix ranking (explode → join df≥2 dict →
    // collect_list(struct(df, shingle)) → array_sort) is the reference
    // formulation; the row-local binary-search expression must emit the
    // exact same (df, shingle) ascending order per document
    import spark.implicits._
    val toks = split(trim(col("text")), " ")
    val sh = Tables(spark, sfDir, "documents")
      .select(col("doc_id"),
        array_sort(array_distinct(
          GraftFunctions.shingleHashes(toks, 3, TextOps.P))).as("sh"))
    val ex = sh.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val dict = ex.groupBy("shingle").agg(count(lit(1)).as("df"))
      .where(col("df") >= 2)
    val ref = ex.join(broadcast(dict), Seq("shingle"), "left")
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(coalesce(col("df"), lit(1L)).as("df"),
        col("shingle").as("shingle"))).as("ds"))
      .select(col("doc_id"),
        transform(array_sort(col("ds")), x => x.getField("shingle")).as("ref"))
    val dictRow = dict
      .agg(array_sort(collect_list(struct(col("shingle"), col("df")))).as("kv"))
      .select(transform(col("kv"), x => x.getField("shingle")).as("ks"),
        transform(col("kv"), x => x.getField("df")).as("ds"))
    val native = sh.crossJoin(broadcast(dictRow))
      .select(col("doc_id"),
        GraftFunctions.rankByDf(col("sh"), col("ks"), col("ds")).as("native"))
    val diff = native.join(ref, Seq("doc_id"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    // empty dictionary → pure shingle order (all df = 1); empty array → empty
    val edge = Seq((Seq(9L, 2L, 5L), Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(2L), Seq(7L))).toDF("sh", "ks", "ds")
      .select(GraftFunctions.rankByDf(col("sh"), col("ks"), col("ds")).as("r"))
      .collect().map(_.getSeq[Long](0))
    assert(edge(0) === Seq(2L, 5L, 9L) && edge(1) === Seq.empty[Long])
    // dictionary ranks common shingles AFTER rare ones regardless of value
    val ranked = Seq((Seq(1L, 2L, 3L), Seq(1L, 3L), Seq(5L, 2L)))
      .toDF("sh", "ks", "ds")
      .select(GraftFunctions.rankByDf(col("sh"), col("ks"), col("ds")).as("r"))
      .collect().head.getSeq[Long](0)
    assert(ranked === Seq(2L, 3L, 1L)) // df: 2→1, 3→2, 1→5
  }

  test("minhashSig == 16-pass builtin formulation, bit-exact") {
    val toks = split(trim(col("text")), " ")
    val hashes = GraftFunctions.h32Array(toks, TextOps.P)
    val diff = Tables(spark, sfDir, "documents")
      .select(hashes.as("h"))
      .select(GraftFunctions.minhashSig(col("h")).as("native"),
        TextOps.minhashSigFromHashes(col("h")).as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    // empty array → all-null signature, matching array_min semantics
    import spark.implicits._
    val empty = Seq(Seq.empty[Long]).toDF("h")
      .select(GraftFunctions.minhashSig(col("h")).as("sig"))
      .collect().head.getSeq[Any](0)
    assert(empty.length === TextOps.numHashes && empty.forall(_ == null))
  }

  test("shingleHashes == concat_ws+md5 builtin formulation, bit-exact") {
    val toks = split(trim(col("text")), " ")
    val builtin = transform(
      sequence(lit(1), size(toks) - 2),
      i => pmod(conv(substring(md5(concat_ws(" ",
        element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))),
        1, 8), 16, 10).cast("bigint"), lit(TextOps.P)))
    val diff = Tables(spark, sfDir, "documents")
      .where(size(toks) >= 3)
      .select(GraftFunctions.shingleHashes(toks, 3, TextOps.P).as("native"),
        builtin.as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    // short docs → empty
    import spark.implicits._
    val short = Seq("a b").toDF("t")
      .select(GraftFunctions.shingleHashes(split(col("t"), " "), 3, 0L).as("s"))
      .collect().head.getSeq[Long](0)
    assert(short.isEmpty)
  }

  test("charNGrams == substr formulation") {
    // note: Spark sequence() is INCLUSIVE — the upper bound is len-2
    // (the interpreted formulation this replaced used len-1 and leaked
    // a trailing 2-gram into the distinct set)
    val builtin = expr(
      "transform(sequence(1, greatest(length(text)-2, 1)), i -> substr(text, i, 3))")
    val diff = Tables(spark, sfDir, "documents")
      .where(length(col("text")) >= 3)
      .select(GraftFunctions.charNGrams(col("text"), 3).as("native"),
        builtin.as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    import spark.implicits._
    val short = Seq("ab").toDF("t")
      .select(GraftFunctions.charNGrams(col("t"), 3).as("g"))
      .collect().head.getSeq[String](0)
    assert(short.isEmpty)
  }

  test("null array yields null; mismatched lengths use min length") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0, 100.0))),
      (None, Some(Seq(1.0)))).toDF("a", "b")
    val got = df.select(GraftFunctions.dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) === 11.0)
    assert(got(1).isNullAt(0))
  }

  test("l2sub == the interpreted slice/zip_with/aggregate fold") {
    val ref = expr(
      """aggregate(zip_with(slice(a, s * 8 + 1, 8), slice(b, s * 8 + 1, 8),
        |  (x, y) -> (x - y) * (x - y)), 0.0D, (acc, z) -> acc + z)""".stripMargin)
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.tabulate(200) { i =>
      (Seq.fill(64)(rnd.nextDouble()), Seq.fill(64)(rnd.nextDouble()), i % 8)
    }
    val df = rows.toDF("a", "b", "s")
    val diff = df.select(
        GraftFunctions.l2sub(col("a"), col("b"),
          (col("s") * 8).cast("int"), 8).as("native"),
        ref.as("ref"))
      .where(col("native") =!= col("ref"))
    assert(diff.count() === 0)
    // out-of-range window → null, not a wrong sum
    val oob = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0), 0)).toDF("a", "b", "s")
      .select(GraftFunctions.l2sub(col("a"), col("b"), col("s"), 8))
      .collect().head
    assert(oob.isNullAt(0))
  }

  test("fuzz: custom expressions == builtin formulations on adversarial token arrays") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // random docs spanning the edge cases the fixture never hits:
    // empty docs, 1-2 tokens (below shingle width), repeated tokens,
    // empty-string tokens (double spaces), long runs of one token
    val vocab = Seq("a", "bb", "ccc", "dddd", "", "a", "zz")
    val genDoc: Gen[String] = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))
    val docs = (1L to 300L).map(seed =>
      genDoc.pureApply(Gen.Parameters.default, Seed(seed)))
    val df = docs.toDF("text").persist()
    val toks = split(trim(col("text")), " ")

    val builtinH32 = transform(toks, t =>
      pmod(conv(substring(md5(t), 1, 8), 16, 10).cast("bigint"), lit(TextOps.P)))
    assert(df.select(GraftFunctions.h32Array(toks, TextOps.P).as("n"), builtinH32.as("r"))
      .where(col("n") =!= col("r")).count() === 0)

    val builtinSh3 = transform(
      sequence(lit(1), greatest(size(toks) - 2, lit(0))),
      i => pmod(conv(substring(md5(concat_ws(" ",
        element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))),
        1, 8), 16, 10).cast("bigint"), lit(TextOps.P)))
    assert(df.where(size(toks) >= 3)
      .select(GraftFunctions.shingleHashes(toks, 3, TextOps.P).as("n"), builtinSh3.as("r"))
      .where(col("n") =!= col("r")).count() === 0)
    // below shingle width: native must emit empty, never throw
    val shortOnes = df.where(size(toks) < 3)
      .select(GraftFunctions.shingleHashes(toks, 3, TextOps.P).as("s"))
      .collect().map(_.getSeq[Long](0))
    assert(shortOnes.forall(_.isEmpty))

    val hashes = GraftFunctions.h32Array(toks, TextOps.P)
    assert(df.select(hashes.as("h"))
      .select(GraftFunctions.minhashSig(col("h")).as("n"),
        TextOps.minhashSigFromHashes(col("h")).as("r"))
      .where(col("n") =!= col("r")).count() === 0)
  }

  test("materialize: identity values, fences filter pushdown past the projection") {
    val docs = Tables(spark, sfDir, "documents").limit(50)
    val plain = docs.select(col("doc_id"), split(trim(col("text")), " ").as("w"))
    val fenced = docs.select(col("doc_id"),
      GraftFunctions.materialize(split(trim(col("text")), " ")).as("w"))
    // identity: same token arrays
    val a = plain.select(col("doc_id"), col("w")).collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1)).toMap
    val b = fenced.select(col("doc_id"), col("w")).collect().map(r =>
      r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(a === b)
    // fence: a filter over the aliased array stays ABOVE the projection —
    // its condition references the attribute, never re-inlines split()
    val filtered = fenced.where(size(col("w")) >= 5)
    val optimized = filtered.queryExecution.optimizedPlan
    val filters = optimized.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }
    assert(filters.nonEmpty)
    filters.foreach { f =>
      assert(!f.condition.toString.contains("split"),
        s"filter must consume the materialized attribute:\n$f")
    }
    assert(filtered.count() > 0)
  }
}
