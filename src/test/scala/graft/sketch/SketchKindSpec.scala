package graft.sketch

import graft.GraftFunctions
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The sketch-kind table drives `<fn>_merge_agg` and `<fn>_union` for
  * every family, so each entry is checked here: its header sniffs back to
  * it, its merge over no rows is its empty sketch, its SQL union is its
  * kernel union (stable across rows that reuse cached operands), and a
  * non-binary argument fails at analysis under the function's name. */
class SketchKindSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-sketchkind-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private val unionKinds = SketchKind.all.filterNot(_ == SketchKind.CqfKind)

  /** One serialized sketch of the kind's `<fn>_agg` over ids [lo, hi]. */
  private def built(k: SketchKind[_ >: Null <: AnyRef], lo: Long, hi: Long): Array[Byte] =
    spark.range(lo, hi + 1).selectExpr(s"${k.fn}_agg(id)").head().getAs[Array[Byte]](0)

  private def emptyBytes[S >: Null <: AnyRef](k: SketchKind[S]): Array[Byte] =
    k.write(k.empty())

  /** `k.write(k.union(k.read(x), k.read(y)))`, after checking that a
    * second union of the same parsed operands gives the same bytes. */
  private def unionOf[S >: Null <: AnyRef](k: SketchKind[S],
      x: Array[Byte], y: Array[Byte]): Array[Byte] = {
    val (a, b) = (k.read(x), k.read(y))
    val first = k.write(k.union(a, b))
    assert(java.util.Arrays.equals(k.write(k.union(a, b)), first),
      s"${k.name} union mutated an operand")
    first
  }

  test("the table has one entry per family, each found by its header and its name") {
    assert(SketchKind.all.map(_.name) ==
      Seq("cqf", "hll", "cms", "bloom", "tdigest", "kll", "ss", "kmv"))
    assert(SketchKind.all.map(_.magic).distinct.size == SketchKind.all.size)
    for (k <- SketchKind.all) {
      assert(SketchKind.of(emptyBytes(k)).contains(k), k.name)
      assert(SketchKind.named(k.name) eq k, k.name)
      // expressions carry their kind to executors: it must come back as
      // the same singleton
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(k)
      oos.close()
      val back = new java.io.ObjectInputStream(
        new java.io.ByteArrayInputStream(bos.toByteArray)).readObject()
      assert(back eq k, k.name)
      assert(SketchMeta.kindOf(built(k, 1, 50)).contains(k.name), k.name)
    }
    val e = intercept[IllegalArgumentException](SketchKind.named("theta"))
    assert(e.getMessage.contains("unknown sketch kind theta"))
  }

  test("<fn>_merge_agg over zero rows returns exactly the kind's empty sketch") {
    val none = Seq.empty[Array[Byte]].toDF("sk")
    for (k <- SketchKind.all) {
      val out = none.selectExpr(s"${k.fn}_merge_agg(sk)").head().getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(out, emptyBytes(k)), k.name)
    }
  }

  test("<fn>_union is the kernel union, stable over 200 repeated rows") {
    for (k <- unionKinds) {
      val x = built(k, 1, 300)
      val y = built(k, 200, 500)
      val outs = Seq.fill(200)((x, y)).toDF("x", "y")
        .selectExpr(s"${k.fn}_union(x, y)").collect().map(_.getAs[Array[Byte]](0))
      assert(java.util.Arrays.equals(outs.head, unionOf(k, x, y)), k.name)
      assert(outs.forall(java.util.Arrays.equals(_, outs.head)),
        s"${k.fn}_union diverged across repeated rows")
    }
  }

  test("a non-binary argument fails at analysis, naming the function") {
    val ids = spark.range(3).toDF("id")
    for (k <- SketchKind.all) {
      val name = s"${k.fn}_merge_agg"
      val e = intercept[AnalysisException](ids.selectExpr(s"$name(id)").schema)
      assert(e.getMessage.contains(name) && e.getMessage.contains("binary"),
        s"$name -> ${e.getMessage}")
    }
    for (k <- unionKinds) {
      val name = s"${k.fn}_union"
      val e = intercept[AnalysisException](ids.selectExpr(s"$name(id, id)").schema)
      assert(e.getMessage.contains(name) && e.getMessage.contains("binary"),
        s"$name -> ${e.getMessage}")
    }
  }

  test("plans print the SQL name and arguments only, not the kind") {
    val df = Seq((built(SketchKind.HllKind, 1, 9), built(SketchKind.HllKind, 5, 20)))
      .toDF("x", "y")
    val plan = df.groupBy().agg(org.apache.spark.sql.functions.expr("hll_merge_agg(x)"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("hll_merge_agg(x#") && !plan.contains(", hll,"), plan)
    val proj = df.selectExpr("hll_union(x, y)").queryExecution.analyzed.toString
    assert(proj.contains("hll_union(x#") && !proj.contains(", hll)"), proj)
  }

  test("the SQL surface keeps every function name") {
    val expected = Set(
      "bloom_agg", "bloom_fpp", "bloom_merge_agg", "bloom_might_contain",
      "bloom_union", "cms_agg", "cms_estimate", "cms_merge_agg", "cms_total",
      "cms_union", "cosine_sim", "cqf_agg", "cqf_agg_packed", "cqf_contains",
      "cqf_count", "cqf_diff", "cqf_distinct", "cqf_from_ref", "cqf_intersect",
      "cqf_items", "cqf_merge_agg", "cqf_set_count", "cqf_stats", "cqf_to_ref",
      "cqf_total", "cqf_union", "cqf_zip_items", "fake_media_decode", "hll_agg",
      "hll_estimate", "hll_merge_agg", "hll_union", "kll_agg", "kll_merge_agg",
      "kll_n", "kll_quantile", "kll_rank", "kll_union", "kmv_agg",
      "kmv_agg_packed", "kmv_distinct", "kmv_is_exact", "kmv_jaccard",
      "kmv_merge_agg", "kmv_sample", "kmv_size", "kmv_union", "lang_id",
      "media_decode", "minhash_sig", "pack_ints", "rolling_fingerprint",
      "set_overlap", "shingle_hash_set", "shingle_minhash", "simhash64",
      "sketch_meta", "sorted_long_overlap", "ss_agg", "ss_agg_packed",
      "ss_estimate", "ss_merge_agg", "ss_offset", "ss_topk", "ss_total",
      "ss_union", "synth_media_blob", "td_agg", "td_cdf", "td_merge_agg",
      "td_quantile", "td_union", "vec_lsh_bucket", "vec_mean_agg", "wang_hash",
      "wang_unhash")
    assert(expected.size == 76)
    val names = GraftFunctions.builders.map(_._1)
    assert(names.size == names.distinct.size, "a function name is registered twice")
    assert(names.toSet == expected)
  }
}
