package graft.functions

import graft.GraftFunctions
import graft.api
import graft.sketch._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 regressions for the binary set-op expressions: the two-slot
  * operand cache must not let the combine mutate cached instances, the
  * direct-call codegen path must agree with interpreted eval, invalid
  * cqf_union modes must fail at analysis (not on the first row), and the
  * merge surfaces must reconcile flags identically for empty inputs. */
class SetOpExprSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-setop-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def cqfBytes(keys: Seq[Long], q: Int = 8): Array[Byte] = {
    val c = Cqf(q, 64, invertible = true, compact = false)
    keys.foreach(c.insert(_))
    c.serialize()
  }

  test("invalid cqf_union mode fails at analysis, not execution") {
    val df = Seq((cqfBytes(Seq(1L)), cqfBytes(Seq(2L)))).toDF("a", "b")
    val ex = intercept[Exception] {
      // analysis happens on plan resolution — no action needed
      df.select(api.cqf_union($"a", $"b", "xor")).schema
    }
    assert(ex.getMessage.contains("cqf_union mode"), s"wrong error: ${ex.getMessage}")
  }

  test("operand cache: constant reference side parses once across many rows") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.BinaryType
    val ref = cqfBytes(1L to 50L)
    val expr = SketchSetOp(Literal(Array.emptyByteArray, BinaryType),
      Literal(Array.emptyByteArray, BinaryType),
      SketchProbe.named("cqf_intersect").asInstanceOf[SetOp[Cqf]])
    // simulate 1000 rows: varying left operand, SAME-CONTENT right operand
    // delivered as fresh arrays (row accessors copy binary columns per row)
    var i = 0
    while (i < 1000) {
      val out = expr.compute(cqfBytes(Seq(i.toLong, i.toLong + 1)), ref.clone())
      assert(out.nonEmpty)
      i += 1
    }
    // left parses per distinct image (1000) + right parses once
    assert(expr.parses == 1001L, s"expected 1001 parses, got ${expr.parses}")
  }

  test("repeated evaluation with cached operands is stable (no cache mutation)") {
    // if a union mutated its cached operand, the second eval over the same
    // input bytes would double-merge and diverge
    val a = cqfBytes(1L to 100L)
    val b = cqfBytes(50L to 150L)
    val rows = Seq.fill(200)((a, b)).toDF("a", "b")
    def check(c: org.apache.spark.sql.Column): Unit = {
      val outs = rows.select(c.as("u")).collect().map(_.getAs[Array[Byte]](0))
      assert(outs.forall(java.util.Arrays.equals(_, outs.head)),
        s"${c.toString} diverged across repeated rows")
    }
    check(api.cqf_union($"a", $"b"))
    check(api.cqf_union($"a", $"b", "max"))
    check(api.cqf_intersect($"a", $"b"))
    check(api.cqf_diff($"a", $"b"))

    val h1 = HllSketch(10); (1L to 300L).foreach(h1.add)
    val h2 = HllSketch(10); (200L to 500L).foreach(h2.add)
    val cm1 = CountMinSketch(5, 256); (1L to 300L).foreach(cm1.add(_))
    val cm2 = CountMinSketch(5, 256); (200L to 500L).foreach(cm2.add(_))
    val bl1 = BloomSketch(1 << 12, 5); (1L to 300L).foreach(bl1.add)
    val bl2 = BloomSketch(1 << 12, 5); (200L to 500L).foreach(bl2.add)
    val td1 = TDigest(100.0); (1 to 300).foreach(i => td1.add(i.toDouble))
    val td2 = TDigest(100.0); (200 to 500).foreach(i => td2.add(i.toDouble))
    val kl1 = KllSketch(128); (1 to 300).foreach(i => kl1.add(i.toDouble))
    val kl2 = KllSketch(128); (200 to 500).foreach(i => kl2.add(i.toDouble))
    val sib = Seq.fill(200)((h1.serialize(), h2.serialize(),
      cm1.serialize(), cm2.serialize(), bl1.serialize(), bl2.serialize(),
      td1.serialize(), td2.serialize(), kl1.serialize(), kl2.serialize()))
      .toDF("h1", "h2", "c1", "c2", "b1", "b2", "t1", "t2", "k1", "k2")
    def checkSib(c: org.apache.spark.sql.Column): Unit = {
      val outs = sib.select(c.as("u")).collect().map(_.getAs[Array[Byte]](0))
      assert(outs.forall(java.util.Arrays.equals(_, outs.head)),
        s"${c.toString} diverged across repeated rows")
    }
    checkSib(api.hll_union($"h1", $"h2"))
    checkSib(api.cms_union($"c1", $"c2"))
    checkSib(api.bloom_union($"b1", $"b2"))
    checkSib(api.td_union($"t1", $"t2"))
    checkSib(api.kll_union($"k1", $"k2"))
  }

  test("codegen and interpreted set-op evals agree") {
    val a = cqfBytes(1L to 40L)
    val b = cqfBytes(20L to 60L)
    val df = Seq((a, b)).toDF("a", "b")
      .withColumn("u", api.cqf_union($"a", $"b"))
      .withColumn("i", api.cqf_intersect($"a", $"b"))
      .withColumn("d", api.cqf_diff($"a", $"b"))
      .select(
        api.cqf_distinct($"u").as("ud"), api.cqf_total($"u").as("ut"),
        api.cqf_distinct($"i").as("id"), api.cqf_total($"i").as("it"),
        api.cqf_distinct($"d").as("dd"), api.cqf_total($"d").as("dt"))
    val codegenOn = spark.conf.get("spark.sql.codegen.wholeStage", "true")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val r1 = df.collect().head
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      val r2 = df.collect().head
      assert(r1 == r2, s"codegen $r1 vs interpreted $r2")
      assert(r1.getLong(0) == 60L && r1.getLong(2) == 21L && r1.getLong(4) == 19L)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", codegenOn)
  }

  test("merge surfaces agree on flags for empty inputs") {
    // hashBits=32 keeps remainderBits <= 32 so the compact layout is legal
    val empty = Cqf(6, 32, invertible = false, compact = false)
    val full = Cqf(8, 32, invertible = true, compact = true)
    (1L to 100L).foreach(full.insert(_))

    // empty source contributes no flags: both surfaces, both orders
    val viaStatic1 = Cqf.merge(Cqf.deserialize(empty.serialize()),
      Cqf.deserialize(full.serialize()))
    val viaStatic2 = Cqf.merge(Cqf.deserialize(full.serialize()),
      Cqf.deserialize(empty.serialize()))
    val viaInPlace1 = Cqf.deserialize(empty.serialize())
      .mergeInPlace(Cqf.deserialize(full.serialize()))
    val viaInPlace2 = Cqf.deserialize(full.serialize())
      .mergeInPlace(Cqf.deserialize(empty.serialize()))
    for (m <- Seq(viaStatic1, viaStatic2, viaInPlace1, viaInPlace2)) {
      assert(m.invertible && m.compact, s"empty input poisoned flags: $m")
      assert(m.distinctCount == 100L)
    }
    // mergeBy honors the same rule
    val viaBy = Cqf.mergeBy(Cqf.deserialize(empty.serialize()),
      Cqf.deserialize(full.serialize()), math.max)
    assert(viaBy.invertible && viaBy.compact)
  }

  test("bad key/array types fail at analysis, not per-row") {
    import org.apache.spark.sql.AnalysisException
    Seq(1L, 2L).toDF("k").createOrReplaceTempView("tchk")
    val sk = cqfBytes(Seq(1L))
    spark.createDataset(Seq(sk)).toDF("sk").createOrReplaceTempView("skv")
    // double key into a keyed probe
    intercept[AnalysisException](spark.sql(
      "SELECT cqf_count(sk, CAST(1.5 AS DOUBLE)) FROM skv").collect())
    // int-array into the sorted-long overlap (stride mismatch would read garbage)
    intercept[AnalysisException](spark.sql(
      "SELECT sorted_long_overlap(array(CAST(1 AS INT)), array(CAST(1 AS INT)))").collect())
    // string-array expression over a long array
    intercept[AnalysisException](spark.sql(
      "SELECT simhash64(array(1L, 2L))").collect())
    // LONG bits arg into wang_hash
    intercept[AnalysisException](spark.sql(
      "SELECT wang_hash(k, CAST(64 AS BIGINT)) FROM tchk").collect())
    // good shapes still pass
    assert(spark.sql("SELECT wang_unhash(wang_hash(7L, 64), 64)").head().getLong(0) == 7L)
    assert(spark.sql(
      "SELECT sorted_long_overlap(array(1L,2L), array(2L,3L)).inter").head().getInt(0) == 1)
  }

  test("vec_lsh_bucket rejects nPlanes outside [1, 64] instead of aliasing bits") {
    val df = Seq(Seq(1.0f, 2.0f)).toDF("v")
    val err = intercept[Exception](
      df.select(api.vec_lsh_bucket(col("v"), lit(96))).collect())
    assert(err.getMessage.contains("[1, 64]") ||
      err.getCause.getMessage.contains("[1, 64]"))
  }

  test("byte-key writes clear the invertible flag (no fabricated keys)") {
    // build invertibly over longs, then set_count a STRING key: the
    // folded hash is not invertible, so enumeration must stop claiming
    // key recovery instead of emitting a fabricated long for it
    val c = Cqf(8, 32, invertible = true, compact = false)
    c.insert(5L)
    assert(c.invertible)
    c.setCountBytes("abc".getBytes("UTF-8"), 3L)
    assert(!c.invertible, "byte-key set_count must clear invertible")
    val c2 = Cqf(8, 32, invertible = true, compact = false)
    c2.insertBytes("xyz".getBytes("UTF-8"))
    assert(!c2.invertible, "byte-key insert must clear invertible")
  }

  test("named combiners: built-in modes match kernel equivalents; registry works") {
    val a = cqfBytes(Seq(1L, 1L, 1L, 2L, 2L, 3L))        // {1:3, 2:2, 3:1}
    val b = cqfBytes(Seq(1L, 2L, 2L, 2L, 4L))            // {1:1, 2:3, 4:1}
    val df = Seq((a, b)).toDF("a", "b")
    val row = df.select(
      api.cqf_total(api.cqf_union($"a", $"b", "satsub")).as("satsub"),
      api.cqf_total(api.cqf_diff($"a", $"b")).as("diff"),
      api.cqf_total(api.cqf_union($"a", $"b", "replace")).as("replace"),
      api.cqf_total(api.cqf_union($"a", $"b", "absdiff")).as("absdiff")).head()
    // satsub == the diff kernel: {1:2, 3:1} -> 3
    assert(row.getLong(0) == 3L && row.getLong(0) == row.getLong(1))
    // replace: right wins where present {1:1, 2:3, 4:1} + left-only {3:1} -> 6
    assert(row.getLong(2) == 6L)
    // absdiff: |3-1| + |2-3| + |1-0| + |0-1| = 5
    assert(row.getLong(3) == 5L)
    // user combiner: register by name, call through SQL text
    CqfUnion.registerCombiner("takeleft_spec", (x, _) => x)
    df.createOrReplaceTempView("setop_v")
    val tl = spark.sql(
      "SELECT cqf_total(cqf_union(a, b, 'takeleft_spec')) FROM setop_v").head().getLong(0)
    assert(tl == 6L, "takeleft must reproduce the left sketch's total")
    // unknown names still fail at analysis
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT cqf_union(a, b, 'no_such_mode') FROM setop_v").collect()
    }
    // built-ins are protected: user code cannot silently change 'max'
    intercept[IllegalArgumentException] {
      CqfUnion.registerCombiner("max", (x, y) => x + y)
    }
    intercept[IllegalArgumentException] { CqfUnion.registerCombiner("sum", (x, _) => x) }
  }
}
