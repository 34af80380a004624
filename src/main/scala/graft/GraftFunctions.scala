package graft

import graft.agg._
import graft.agg.SketchBuild._
import graft.functions._
import graft.sketch.SketchKind
import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, DoubleType}

/** SQL + Column registration for every graft sketch aggregate and probe.
  *
  * Use either `GraftFunctions.registerAll(spark)` (imperative) or
  * `--conf spark.sql.extensions=graft.GraftExtensions` (declarative).
  * The `graft.api` Column facade requires the registration to have run for
  * the active session.
  */
object GraftFunctions {

  private def litInt(args: Seq[Expression], i: Int, default: Int): Int =
    if (args.length <= i) default
    else args(i) match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) =>
        // silent .toInt would wrap kmv_agg(x, 2^33) to k=0 — garbage
        // parameters with no error, unlike every other malformed argument
        if (v.isValidInt) v.toInt
        else throw new IllegalArgumentException(
          s"argument ${i + 1} is out of Int range: $v")
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }

  private def litLong(args: Seq[Expression], i: Int, default: Long): Long =
    if (args.length <= i) default
    else args(i) match {
      case Literal(v: Int, IntegerType) => v.toLong
      case Literal(v: Long, LongType) => v
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be an integer literal, got $other")
    }

  private def litStr(args: Seq[Expression], i: Int, default: String): String =
    if (args.length <= i) default
    else args(i) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be a string literal, got $other")
    }

  private def litDouble(args: Seq[Expression], i: Int, default: Double): Double =
    if (args.length <= i) default
    else args(i) match {
      case Literal(v: Int, IntegerType) => v.toDouble
      case Literal(v: Long, LongType) => v.toDouble
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Float, org.apache.spark.sql.types.FloatType) => v.toDouble
      // SQL parses 200.0 as DECIMAL(4,1), not DOUBLE — without this case
      // the documented call shape td_agg(x, 200.0) threw "must be a
      // numeric literal" at a literal that plainly is one
      case Literal(v: org.apache.spark.sql.types.Decimal,
          _: org.apache.spark.sql.types.DecimalType) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"argument ${i + 1} must be a numeric literal, got $other")
    }

  /** `<fn>_merge_agg` for every sketch kind. */
  private def mergeAgg[S >: Null <: AnyRef](k: SketchKind[S]): (String, Seq[Expression] => Expression) =
    s"${k.fn}_merge_agg" -> (a => SketchMergeAgg(a.head, k))

  /** name -> builder for every function this library provides. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    SketchKind.all.map(mergeAgg(_)) ++ SketchProbe.all.map(p => p.name -> p.expression _) ++ Seq(
    // aggregates (sketch builders)
    "cqf_agg" -> (a => SketchBuildAgg(a.head,
      CqfBuild(litInt(a, 1, 10), litInt(a, 2, 64), litInt(a, 3, 0) == 1))),
    "cqf_agg_packed" -> (a => SketchBuildAgg(a.head,
      CqfBuild(litInt(a, 1, 10), litInt(a, 2, 64), litInt(a, 3, 0) == 1), packed = true)),
    "pack_ints" -> (a => PackIntsLE(a.head)),
    "hll_agg" -> (a => SketchBuildAgg(a.head, HllBuild(litInt(a, 1, 12)))),
    "cms_agg" -> (a => SketchBuildAgg(a.head, CmsBuild(litInt(a, 1, 5), litInt(a, 2, 2048)))),
    "bloom_agg" -> (a => SketchBuildAgg(a.head, BloomBuild(litLong(a, 1, 1L << 16), litInt(a, 2, 5)))),
    "kmv_agg" -> (a => SketchBuildAgg(a.head, KmvBuild(litInt(a, 1, 1024)))),
    "kmv_agg_packed" -> (a => SketchBuildAgg(a.head, KmvBuild(litInt(a, 1, 1024)), packed = true)),
    "ss_agg" -> (a => SketchBuildAgg(a.head, SsBuild(litInt(a, 1, 256)))),
    "ss_agg_packed" -> (a => SketchBuildAgg(a.head, SsBuild(litInt(a, 1, 256)), packed = true)),
    "td_agg" -> (a => SketchBuildAgg(a.head, TDigestBuild(litDouble(a, 1, 100.0)))),
    "kll_agg" -> (a => SketchBuildAgg(a.head, KllBuild(litInt(a, 1, 200)))),
    // probes outside the probe table
    "sketch_meta" -> (a => SketchMetaExpr(a.head)),
    "cqf_union" -> (a => CqfUnion(a(0), a(1), litStr(a, 2, "sum"))),
    "cqf_set_count" -> (a => CqfSetCount(a(0), a(1), a(2))),
    "cqf_to_ref" -> (a => CqfToRef(a.head)),
    "cqf_from_ref" -> (a => CqfFromRef(a.head)),
    "cqf_items" -> (a => CqfItems(a.head)),
    "cqf_zip_items" -> (a => CqfZipItems(a(0), a(1))),
    "kmv_sample" -> (a => KmvSample(a.head, litInt(a, 1, 10))),
    "kmv_jaccard" -> (a => KmvJaccard(a(0), a(1))),
    "ss_topk" -> (a => SsTopk(a.head, litInt(a, 1, 10))),
    "wang_hash" -> (a => WangHashExpr(a(0), if (a.length > 1) a(1) else Literal(64))),
    "wang_unhash" -> (a => WangUnhashExpr(a(0), if (a.length > 1) a(1) else Literal(64))),
    // vector / text pipeline expressions
    "cosine_sim" -> (a => CosineSim(a(0), a(1))),
    "vec_lsh_bucket" -> (a => VecLshBucket(a(0), a(1), litLong(a, 2, 42L))),
    "simhash64" -> (a => SimHash64(a.head)),
    "minhash_sig" -> (a => MinHashSig(a(0), a(1))),
    "shingle_minhash" -> (a => ShingleMinHash(a(0), a(1), a(2))),
    "set_overlap" -> (a => SetOverlap(a(0), a(1))),
    "shingle_hash_set" -> (a => ShingleHashSet(a(0), a(1))),
    "sorted_long_overlap" -> (a => SortedLongOverlap(a(0), a(1))),
    "fake_media_decode" -> (a => FakeMediaDecode(a.head)),
    "media_decode" -> (a => MediaDecodeExpr(a.head)),
    "synth_media_blob" -> (a => SynthMediaBlob(a(0), a(1), a(2))),
    "vec_mean_agg" -> (a => graft.agg.VecMeanAgg(a.head)),
    "lang_id" -> (a => graft.ops.LangIdExpr(a.head)),
    "rolling_fingerprint" -> (a => graft.ops.RollingFingerprint(a.head))
  )

  // once-per-session guard: registerAll is called from helpers that run
  // per query (and per table read), which would otherwise rewrite the
  // ~60-function registry thousands of times per Verify run
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def registerAll(spark: SparkSession): Unit = {
    // mark the session only AFTER registration completes, under a lock:
    // putIfAbsent-then-register let a concurrent caller return while the
    // winner was still mid-registration (its next query failed with
    // "Undefined function"), and an exception mid-way poisoned the guard
    // so the half-registered session could never be repaired
    if (registered.containsKey(spark)) return
    registered.synchronized {
      if (registered.containsKey(spark)) return
      val registry = spark.sessionState.functionRegistry
      builders.foreach { case (name, builder) =>
        registry.createOrReplaceTempFunction(name, builder, "scala_udf")
      }
      graft.agg.TypedAggregators.registerAll(spark)
      registered.put(spark, java.lang.Boolean.TRUE)
    }
  }
}

/** `--conf spark.sql.extensions=graft.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        builder))
    }
    // the *_udaf surface must exist here too, not only via registerAll
    // (udf.register needs a live session; extensions predate it, so wrap
    // each UserDefinedAggregator application back into an expression)
    graft.agg.TypedAggregators.udafBuilders.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          classOf[GraftExtensions].getName, name),
        builder))
    }
  }
}

/** Column facade (requires GraftFunctions.registerAll on the session). */
object api {
  // aggregates
  def cqf_agg(col: Column, quotientBits: Int = 10, hashBits: Int = 64,
      compact: Boolean = false): Column =
    call_function("cqf_agg", col, lit(quotientBits), lit(hashBits),
      lit(if (compact) 1 else 0))
  def cqf_merge_agg(col: Column): Column = call_function("cqf_merge_agg", col)
  def cqf_agg_packed(col: Column, quotientBits: Int = 10, hashBits: Int = 64,
      compact: Boolean = false): Column =
    call_function("cqf_agg_packed", col, lit(quotientBits), lit(hashBits),
      lit(if (compact) 1 else 0))
  def pack_ints(col: Column): Column = call_function("pack_ints", col)
  def hll_agg(col: Column, p: Int = 12): Column =
    call_function("hll_agg", col, lit(p))
  def hll_merge_agg(col: Column): Column = call_function("hll_merge_agg", col)
  def cms_agg(col: Column, depth: Int = 5, width: Int = 2048): Column =
    call_function("cms_agg", col, lit(depth), lit(width))
  def cms_merge_agg(col: Column): Column = call_function("cms_merge_agg", col)
  def bloom_agg(col: Column, numBits: Long = 1L << 16, numHashes: Int = 5): Column =
    call_function("bloom_agg", col, lit(numBits), lit(numHashes))
  def bloom_merge_agg(col: Column): Column = call_function("bloom_merge_agg", col)
  def kmv_agg(col: Column, k: Int = 1024): Column =
    call_function("kmv_agg", col, lit(k))
  def kmv_agg_packed(col: Column, k: Int = 1024): Column =
    call_function("kmv_agg_packed", col, lit(k))
  def kmv_merge_agg(col: Column): Column = call_function("kmv_merge_agg", col)
  def ss_agg(col: Column, k: Int = 256): Column =
    call_function("ss_agg", col, lit(k))
  def ss_agg_packed(col: Column, k: Int = 256): Column =
    call_function("ss_agg_packed", col, lit(k))
  def ss_merge_agg(col: Column): Column = call_function("ss_merge_agg", col)
  def td_agg(col: Column, compression: Double = 100.0): Column =
    call_function("td_agg", col, lit(compression))
  def td_merge_agg(col: Column): Column = call_function("td_merge_agg", col)
  def kll_agg(col: Column, k: Int = 200): Column =
    call_function("kll_agg", col, lit(k))
  def kll_merge_agg(col: Column): Column = call_function("kll_merge_agg", col)
  // probes
  def cqf_count(sketch: Column, key: Column): Column = call_function("cqf_count", sketch, key)
  def cqf_contains(sketch: Column, key: Column): Column = call_function("cqf_contains", sketch, key)
  def cqf_distinct(sketch: Column): Column = call_function("cqf_distinct", sketch)
  def cqf_total(sketch: Column): Column = call_function("cqf_total", sketch)
  def cqf_stats(sketch: Column): Column = call_function("cqf_stats", sketch)
  def sketch_meta(sketch: Column): Column = call_function("sketch_meta", sketch)
  def cqf_union(a: Column, b: Column): Column = call_function("cqf_union", a, b)
  def cqf_union(a: Column, b: Column, mode: String): Column =
    call_function("cqf_union", a, b, lit(mode))
  def cqf_zip_items(a: Column, b: Column): Column = call_function("cqf_zip_items", a, b)
  def cqf_intersect(a: Column, b: Column): Column = call_function("cqf_intersect", a, b)
  def cqf_diff(a: Column, b: Column): Column = call_function("cqf_diff", a, b)
  def cqf_set_count(sketch: Column, key: Column, count: Column): Column =
    call_function("cqf_set_count", sketch, key, count)
  def cqf_items(sketch: Column): Column = call_function("cqf_items", sketch)
  /** Reference-engine byte-image interop (see Cqf.exportRefLayout). */
  def cqf_to_ref(sketch: Column): Column = call_function("cqf_to_ref", sketch)
  def cqf_from_ref(image: Column): Column = call_function("cqf_from_ref", image)
  def hll_estimate(sketch: Column): Column = call_function("hll_estimate", sketch)
  def hll_union(a: Column, b: Column): Column = call_function("hll_union", a, b)
  def cms_estimate(sketch: Column, key: Column): Column = call_function("cms_estimate", sketch, key)
  def cms_total(sketch: Column): Column = call_function("cms_total", sketch)
  def cms_union(a: Column, b: Column): Column = call_function("cms_union", a, b)
  def kmv_distinct(sketch: Column): Column = call_function("kmv_distinct", sketch)
  def kmv_size(sketch: Column): Column = call_function("kmv_size", sketch)
  def kmv_is_exact(sketch: Column): Column = call_function("kmv_is_exact", sketch)
  def kmv_sample(sketch: Column, n: Int = 10): Column =
    call_function("kmv_sample", sketch, lit(n))
  def kmv_union(a: Column, b: Column): Column = call_function("kmv_union", a, b)
  def kmv_jaccard(a: Column, b: Column): Column = call_function("kmv_jaccard", a, b)
  def ss_topk(sketch: Column, n: Int = 10): Column =
    call_function("ss_topk", sketch, lit(n))
  def ss_estimate(sketch: Column, key: Column): Column = call_function("ss_estimate", sketch, key)
  def ss_total(sketch: Column): Column = call_function("ss_total", sketch)
  def ss_offset(sketch: Column): Column = call_function("ss_offset", sketch)
  def ss_union(a: Column, b: Column): Column = call_function("ss_union", a, b)
  def td_quantile(sketch: Column, q: Column): Column = call_function("td_quantile", sketch, q)
  def td_cdf(sketch: Column, x: Column): Column = call_function("td_cdf", sketch, x)
  def td_union(a: Column, b: Column): Column = call_function("td_union", a, b)
  def kll_quantile(sketch: Column, q: Column): Column = call_function("kll_quantile", sketch, q)
  def kll_rank(sketch: Column, x: Column): Column = call_function("kll_rank", sketch, x)
  def kll_n(sketch: Column): Column = call_function("kll_n", sketch)
  def kll_union(a: Column, b: Column): Column = call_function("kll_union", a, b)
  def bloom_might_contain(sketch: Column, key: Column): Column =
    call_function("bloom_might_contain", sketch, key)
  def bloom_fpp(sketch: Column): Column = call_function("bloom_fpp", sketch)
  def bloom_union(a: Column, b: Column): Column = call_function("bloom_union", a, b)
  def wang_hash(key: Column, bits: Int = 64): Column =
    call_function("wang_hash", key, lit(bits))
  def wang_unhash(hash: Column, bits: Int = 64): Column =
    call_function("wang_unhash", hash, lit(bits))
  // vector / text pipeline expressions
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def vec_lsh_bucket(vec: Column, nPlanes: Column, seed: Long = 42L): Column =
    call_function("vec_lsh_bucket", vec, nPlanes, lit(seed))
  def simhash64(tokens: Column): Column = call_function("simhash64", tokens)
  def minhash_sig(tokens: Column, nHashes: Column): Column =
    call_function("minhash_sig", tokens, nHashes)
  def fake_media_decode(blob: Column): Column = call_function("fake_media_decode", blob)
  def media_decode(blob: Column): Column = call_function("media_decode", blob)
  def synth_media_blob(kind: Column, a: Column, b: Column): Column =
    call_function("synth_media_blob", kind, a, b)
  def vec_mean_agg(vec: Column): Column = call_function("vec_mean_agg", vec)
  def lang_id(text: Column): Column = call_function("lang_id", text)
  def rolling_fingerprint(text: Column): Column = call_function("rolling_fingerprint", text)
}
