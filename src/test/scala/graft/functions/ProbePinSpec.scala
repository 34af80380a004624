package graft.functions

import graft.GraftFunctions
import graft.sketch.SketchKind
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL surface of every probe in the four table shapes —
  * readouts, keyed probes, numeric-argument probes and two-sketch set
  * ops: the results over every key or argument type each function admits
  * (as SHA-256 of the rendered column), null in / null out, codegen and
  * interpreted agreement, the auto-generated column names, the
  * executed-plan text and the analysis messages. */
class ProbePinSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-probepin-test")
      .config("spark.sql.shuffle.partitions", "2")
      // broken generated code must fail the test, not fall back
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val keyCols = Seq("c_tinyint", "c_smallint", "c_int", "c_bigint", "c_string", "c_binary")
  private val numCols = Seq("c_tinyint", "c_smallint", "c_int", "c_bigint", "c_float",
    "c_double", "c_decimal")

  private val readouts = Seq("cqf_distinct" -> "cqf", "cqf_total" -> "cqf",
    "cqf_stats" -> "cqf", "hll_estimate" -> "hll", "cms_total" -> "cms", "kll_n" -> "kll",
    "bloom_fpp" -> "bloom", "ss_total" -> "ss", "ss_offset" -> "ss",
    "kmv_distinct" -> "kmv", "kmv_size" -> "kmv", "kmv_is_exact" -> "kmv")
  private val keyedProbes = Seq("cqf_count" -> "cqf", "cqf_contains" -> "cqf",
    "cms_estimate" -> "cms", "ss_estimate" -> "ss", "bloom_might_contain" -> "bloom")
  private val numericProbes = Seq("td_quantile" -> "td", "td_cdf" -> "td",
    "kll_quantile" -> "kll", "kll_rank" -> "kll")
  private val setOps = Seq("hll_union" -> "hll", "cms_union" -> "cms",
    "bloom_union" -> "bloom", "td_union" -> "td", "kll_union" -> "kll", "ss_union" -> "ss",
    "kmv_union" -> "kmv", "cqf_intersect" -> "cqf", "cqf_diff" -> "cqf")

  /** Sketch columns per kind: `x_<v>` and `y_<v>`. Frequent-items and
    * kmv sketches hold either long or byte keys, so those kinds have a
    * long-keyed variant and a string-keyed one (`sst`, `kmvt`); the
    * other keyed kinds merge their long-, string- and binary-keyed
    * builds, so every key type probes present and absent keys. */
  private val variants: Seq[(String, SketchKind[_ >: Null <: AnyRef], Seq[String])] = Seq(
    ("cqf", SketchKind.CqfKind, Seq("k", "s", "b")), ("hll", SketchKind.HllKind, Seq("k", "s", "b")),
    ("cms", SketchKind.CmsKind, Seq("k", "s", "b")), ("bloom", SketchKind.BloomKind, Seq("k", "s", "b")),
    ("td", SketchKind.TDigestKind, Seq("x")), ("kll", SketchKind.KllKind, Seq("x")),
    ("ss", SketchKind.SsKind, Seq("k")), ("sst", SketchKind.SsKind, Seq("s")),
    ("kmv", SketchKind.KmvKind, Seq("k")), ("kmvt", SketchKind.KmvKind, Seq("s")))
  private def variantsOf(fn: String): Seq[String] =
    variants.collect { case (v, k, _) if k.fn == fn => v }

  /** Every call as SQL text. */
  private val calls: Seq[String] =
    readouts.flatMap { case (f, k) => variantsOf(k).map(v => s"$f(x_$v)") } ++
    keyedProbes.flatMap { case (f, k) => keyCols.map { c =>
      val v = if (k == "ss" && (c == "c_string" || c == "c_binary")) "sst" else k
      s"$f(x_$v, $c)"
    } } ++
    numericProbes.flatMap { case (f, k) => numCols.map(c => s"$f(x_$k, $c)") } ++
    setOps.flatMap { case (f, k) => variantsOf(k).map(v => s"$f(x_$v, y_$v)") }

  /** Sketch `a` over ids [0, 400) and `b` over [250, 700) per variant. */
  private lazy val sketches: Map[String, (Array[Byte], Array[Byte])] = {
    val src = spark.range(0, 700).coalesce(1).selectExpr("id", "id % 97 AS k",
      "concat('w', id % 41) AS s", "CAST(concat('b', id % 13) AS BINARY) AS b",
      "sin(id) * 100 AS x")
    def build[S >: Null <: AnyRef](kind: SketchKind[S], cols: Seq[String],
        lo: Int, hi: Int): Array[Byte] = {
      val row = src.where(s"id >= $lo AND id < $hi")
        .selectExpr(cols.map(c => s"${kind.fn}_agg($c)"): _*).head()
      val parts = cols.indices.map(i => kind.read(row.getAs[Array[Byte]](i)))
      kind.write(parts.reduce(kind.mergeInPlace))
    }
    variants.map { case (v, k, cols) => v -> (build(k, cols, 0, 400), build(k, cols, 250, 700)) }
      .toMap
  }

  /** 14 rows, one partition. The x column alternates a/b per row and the y
    * column b/a; row 11 has null keys and arguments, row 12 a null x and
    * row 13 a null y. */
  private lazy val input: DataFrame = {
    val fns = variants.map(_._1)
    val schema = StructType(
      fns.flatMap(f => Seq(StructField(s"x_$f", BinaryType), StructField(s"y_$f", BinaryType))) ++
      Seq(StructField("c_tinyint", ByteType), StructField("c_smallint", ShortType),
        StructField("c_int", IntegerType), StructField("c_bigint", LongType),
        StructField("c_string", StringType), StructField("c_binary", BinaryType),
        StructField("c_float", FloatType), StructField("c_double", DoubleType),
        StructField("c_decimal", DecimalType(10, 2))))
    val rows = (0 until 14).map { i =>
      val sks = fns.flatMap { f =>
        val (a, b) = sketches(f)
        Seq(if (i == 12) null else if (i % 2 == 0) a else b,
          if (i == 13) null else if (i % 2 == 0) b else a)
      }
      def key[T](v: T): Any = if (i == 11) null else v
      val k = i * 7 % 97 + (if (i == 5) 100 else 0)
      Row.fromSeq(sks ++ Seq(key(k.toByte), key((k * 3).toShort), key(k),
        key(if (i == 9) -5L else k.toLong), key(s"w${i * 3 % 50}"),
        key(s"b${i % 15}".getBytes("UTF-8")), key(i / 13f), key(math.sin(i) * 100),
        key(BigDecimal(i * 1717 % 20000 - 10000) / 100)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => sha256(b).take(16)
    case other => other.toString
  }

  /** call -> the call's column rendered row by row, under the given
    * codegen settings. */
  private def results(wholeStage: Boolean, factoryMode: String): Map[String, Seq[String]] = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), wholeStage.toString)
    spark.conf.set(keys(1), factoryMode)
    try calls.grouped(16).flatMap { batch =>
      val rows = input.selectExpr(batch: _*).collect()
      batch.indices.map(j => batch(j) -> rows.toSeq.map(r => render(r.get(j))))
    }.toMap
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val pinned: Map[String, String] = Map(
    "cqf_distinct(x_cqf)" -> "2417248a8d24fd655eb79928280823a49d615877e7a61c7e925559deb32a376b",
    "cqf_total(x_cqf)" -> "22acb8628822aef401cbe0f62fd443a4b6c95b9198cccfeecc2dcc2bdbd7109d",
    "cqf_stats(x_cqf)" -> "6d96c5100a85c13911e9a05931ea0842e986a3cc0040384bfc187c32f7634859",
    "hll_estimate(x_hll)" -> "2417248a8d24fd655eb79928280823a49d615877e7a61c7e925559deb32a376b",
    "cms_total(x_cms)" -> "22acb8628822aef401cbe0f62fd443a4b6c95b9198cccfeecc2dcc2bdbd7109d",
    "kll_n(x_kll)" -> "98dc60120158c2a09d80b7a22d8f1e37707d4ef67a97617c64b798559be511f6",
    "bloom_fpp(x_bloom)" -> "b9f221834e6d09a1ab3f788b069981e30379f6f62fe497de0ac5eadbe17fa546",
    "ss_total(x_ss)" -> "98dc60120158c2a09d80b7a22d8f1e37707d4ef67a97617c64b798559be511f6",
    "ss_total(x_sst)" -> "98dc60120158c2a09d80b7a22d8f1e37707d4ef67a97617c64b798559be511f6",
    "ss_offset(x_ss)" -> "e3543b9bbfd37b7f602f698bf5547b4c83d8317ee3a4261ca69486e5726eef66",
    "ss_offset(x_sst)" -> "e3543b9bbfd37b7f602f698bf5547b4c83d8317ee3a4261ca69486e5726eef66",
    "kmv_distinct(x_kmv)" -> "8eb913c314cc3ad5ef0a50547693f8e2fa72a6757c8e7c7ca536f8ddb42c9dda",
    "kmv_distinct(x_kmvt)" -> "9e7820c850ff5f3cb7948346a36b54964d954b91268affafe549714c7980a054",
    "kmv_size(x_kmv)" -> "8eb913c314cc3ad5ef0a50547693f8e2fa72a6757c8e7c7ca536f8ddb42c9dda",
    "kmv_size(x_kmvt)" -> "9e7820c850ff5f3cb7948346a36b54964d954b91268affafe549714c7980a054",
    "kmv_is_exact(x_kmv)" -> "e9dc6784df3ac85859eb88b78b91a4fc083213217691cde242c319474aa4c303",
    "kmv_is_exact(x_kmvt)" -> "e9dc6784df3ac85859eb88b78b91a4fc083213217691cde242c319474aa4c303",
    "cqf_count(x_cqf, c_tinyint)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "cqf_count(x_cqf, c_smallint)" -> "ed9dec31cca47b75b433e5be70b360f5afb31c88641f5326b1b9c3a7a77bd901",
    "cqf_count(x_cqf, c_int)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "cqf_count(x_cqf, c_bigint)" -> "db1bbbe369a6a8a005b0537037db90850d6f64986e64526cd06ea84c91dc8a8f",
    "cqf_count(x_cqf, c_string)" -> "3b1b453ea1d68d84ee7aed31c23bf77404421326ac6dfedbf8a97fed9ae70f29",
    "cqf_count(x_cqf, c_binary)" -> "ae09eca5caa492ac294969c9ad5b11ed5cb589cf818023e30a33838888859d59",
    "cqf_contains(x_cqf, c_tinyint)" -> "ec422672b4b43311ee8586b4aee80715d7fb8025e1a78e01060cc68a6d00cc79",
    "cqf_contains(x_cqf, c_smallint)" -> "9263497a53672fac176261f60134164c445a8895c7d27ebbdb4b826478b7d9a3",
    "cqf_contains(x_cqf, c_int)" -> "ec422672b4b43311ee8586b4aee80715d7fb8025e1a78e01060cc68a6d00cc79",
    "cqf_contains(x_cqf, c_bigint)" -> "d719d4172d550fe3ec7d860012f6841689af1cca845681b3f258f893ab5c2efc",
    "cqf_contains(x_cqf, c_string)" -> "74cc7b030ee957485cd0c3f34de26dfb25883c68485efd7352ff97e771a89e7a",
    "cqf_contains(x_cqf, c_binary)" -> "81ae22bd9b94ab974e49c99dd8efca77acf1fd5c8b084c85841af8ebb9557b6d",
    "cms_estimate(x_cms, c_tinyint)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "cms_estimate(x_cms, c_smallint)" -> "ed9dec31cca47b75b433e5be70b360f5afb31c88641f5326b1b9c3a7a77bd901",
    "cms_estimate(x_cms, c_int)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "cms_estimate(x_cms, c_bigint)" -> "db1bbbe369a6a8a005b0537037db90850d6f64986e64526cd06ea84c91dc8a8f",
    "cms_estimate(x_cms, c_string)" -> "3b1b453ea1d68d84ee7aed31c23bf77404421326ac6dfedbf8a97fed9ae70f29",
    "cms_estimate(x_cms, c_binary)" -> "ae09eca5caa492ac294969c9ad5b11ed5cb589cf818023e30a33838888859d59",
    "ss_estimate(x_ss, c_tinyint)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "ss_estimate(x_ss, c_smallint)" -> "ed9dec31cca47b75b433e5be70b360f5afb31c88641f5326b1b9c3a7a77bd901",
    "ss_estimate(x_ss, c_int)" -> "83ce11ed38303f9b1d675f6542a3fdc6da4688aeb8d3c9a93f8ce5b17893009d",
    "ss_estimate(x_ss, c_bigint)" -> "db1bbbe369a6a8a005b0537037db90850d6f64986e64526cd06ea84c91dc8a8f",
    "ss_estimate(x_sst, c_string)" -> "3b1b453ea1d68d84ee7aed31c23bf77404421326ac6dfedbf8a97fed9ae70f29",
    "ss_estimate(x_sst, c_binary)" -> "0d6c63a51d7c68f4c8b9bbde17a0f1c5e2fbbce100b724950b7cc06c02ad93b4",
    "bloom_might_contain(x_bloom, c_tinyint)" -> "ec422672b4b43311ee8586b4aee80715d7fb8025e1a78e01060cc68a6d00cc79",
    "bloom_might_contain(x_bloom, c_smallint)" -> "9263497a53672fac176261f60134164c445a8895c7d27ebbdb4b826478b7d9a3",
    "bloom_might_contain(x_bloom, c_int)" -> "ec422672b4b43311ee8586b4aee80715d7fb8025e1a78e01060cc68a6d00cc79",
    "bloom_might_contain(x_bloom, c_bigint)" -> "d719d4172d550fe3ec7d860012f6841689af1cca845681b3f258f893ab5c2efc",
    "bloom_might_contain(x_bloom, c_string)" -> "74cc7b030ee957485cd0c3f34de26dfb25883c68485efd7352ff97e771a89e7a",
    "bloom_might_contain(x_bloom, c_binary)" -> "81ae22bd9b94ab974e49c99dd8efca77acf1fd5c8b084c85841af8ebb9557b6d",
    "td_quantile(x_td, c_tinyint)" -> "03f1a1bc710f2b810dcf51950b34484e01a90a5c184e5c4d5b6874f34e5a1cf1",
    "td_quantile(x_td, c_smallint)" -> "d5510109f2a62cd283e595babbd8aa64fadc8947f498bbf5b88598a3952c60b8",
    "td_quantile(x_td, c_int)" -> "d5510109f2a62cd283e595babbd8aa64fadc8947f498bbf5b88598a3952c60b8",
    "td_quantile(x_td, c_bigint)" -> "e2ccdc4bad9ffa47a4447533d9061f19226cfb440a39f010181435a9d624fd07",
    "td_quantile(x_td, c_float)" -> "1a09d419f2fcc582d43421bb0fb4146635abfe94d1c398bd0542fcabad4d8fee",
    "td_quantile(x_td, c_double)" -> "b14dceab0268ea01ceb0895d04ae9e53a7359e513f1bede767b06027e9eaa7eb",
    "td_quantile(x_td, c_decimal)" -> "db51c5fe89cd815eceea75bf05054fcfe45280d19598ff9aa0efe24caeb829a2",
    "td_cdf(x_td, c_tinyint)" -> "4563f460c225a898f34f4cee3e3e9210c1e2cad53675a0372fddd1cfbf8028a6",
    "td_cdf(x_td, c_smallint)" -> "5268edc281e19125bf09ac7f1dafd5ab926450290f03ca33f0b1ef5f7b2e0771",
    "td_cdf(x_td, c_int)" -> "12da57efae7eaca245723f9ae90de3a786c2b3e162d6f7f1e8f43353164a4f4e",
    "td_cdf(x_td, c_bigint)" -> "a9e99463d71610fe8aace5a3ea785f3e1c86dd78651a635d835d2b475f09ca5c",
    "td_cdf(x_td, c_float)" -> "dc93d5c9d00e3fa699f9bfd0ad3ab05e7074db2ba82e6d276b26b427d80bec95",
    "td_cdf(x_td, c_double)" -> "69b9c020c9fdd4d7c2f66fe3a95d966c2cf1f81f5a5dca95a483b423326ed6be",
    "td_cdf(x_td, c_decimal)" -> "33c889dd4471661e36c0939959038e046b3829c0c2eb7c6c1de23f0645f4ed47",
    "kll_quantile(x_kll, c_tinyint)" -> "7397538986004cc2e89f3b1f2b24df8f84931fdc38a836566e66ae64e218b45a",
    "kll_quantile(x_kll, c_smallint)" -> "d5510109f2a62cd283e595babbd8aa64fadc8947f498bbf5b88598a3952c60b8",
    "kll_quantile(x_kll, c_int)" -> "d5510109f2a62cd283e595babbd8aa64fadc8947f498bbf5b88598a3952c60b8",
    "kll_quantile(x_kll, c_bigint)" -> "8598e4ba6190c08f90c690fe28be876dbb6e809bb6aa20a7077f0e72edda647c",
    "kll_quantile(x_kll, c_float)" -> "6871bab9d7be053479d189b8c70cfc7b5cfed6715bcee7ecf29dfebc6696187e",
    "kll_quantile(x_kll, c_double)" -> "5235e582da72535467ddb1cee3e761c28f9fa34bc3f8ad8faa3e1b36682df05c",
    "kll_quantile(x_kll, c_decimal)" -> "1032ddf91fe997ee4b8711a1d97c3313abee243eb3c74d78b6ba51cb3c3e7e45",
    "kll_rank(x_kll, c_tinyint)" -> "87c7a86b7336711db0e497d1da9c03526308f90e7add33633c41aeaefb53bb99",
    "kll_rank(x_kll, c_smallint)" -> "00043f54d8e97622fc17fac06d8e97dd9c8a325f699baf68ebbbafc610af9284",
    "kll_rank(x_kll, c_int)" -> "bd1120706a67452c39a2e90d67a04876d6c821c0ff5ee7e6c1d6638a86b21cf4",
    "kll_rank(x_kll, c_bigint)" -> "8ecebc91838b5e14d7698d75709ce10c2354dd8789cdf765780af08889a2ccd6",
    "kll_rank(x_kll, c_float)" -> "cb119015c3ec5a18575ee1b856936756028a4bb204cf7972493768637a22334f",
    "kll_rank(x_kll, c_double)" -> "d2c8cddbd76d3a20fe810ea5dce5f6b615549850389562b8179162ec030ad1fc",
    "kll_rank(x_kll, c_decimal)" -> "53fc634626d266838a1b4fbcebfd44156fc25b155e8d61588df15e1bbc75fbbd",
    "hll_union(x_hll, y_hll)" -> "07af1c7f9ebc0dec8e351d34285db3e5de0bedc49ff2aa8231a12329f30accb1",
    "cms_union(x_cms, y_cms)" -> "cc1ec0b353d0c3b99324e82d24cbf21d649191657da530c8bc1569ea3250c788",
    "bloom_union(x_bloom, y_bloom)" -> "5094f827f4bf4e861d8b1113c6ea5d036d23c19b0b7226ef701229a199b52560",
    "td_union(x_td, y_td)" -> "a3a43e61f97005e26441ae4e3568a2b205176ea1b4de2b5d91f5b04ba1ab6450",
    "kll_union(x_kll, y_kll)" -> "f7c44d4a60b033a103cf982bd4441423aaf7315aea4be28e225fd218531a85ca",
    "ss_union(x_ss, y_ss)" -> "bb33042408a545abc94f2c82b4295a6718deb4a127dd9a8dd98ac37b368b0e47",
    "ss_union(x_sst, y_sst)" -> "dab7b5b846eb2e13eacf763276ac1435f2d298edaa600b87911bedc375692c63",
    "kmv_union(x_kmv, y_kmv)" -> "65a2d4275e1cbbb1e3e5534a8406bdc220358e9935d8cac3c3fcd09661fb364c",
    "kmv_union(x_kmvt, y_kmvt)" -> "dc3aad2171cc7c252932102094b27d5b9bd46502a8e498aff28863c584be3b67",
    "cqf_intersect(x_cqf, y_cqf)" -> "ae087d86f9e0246b29f01e86a1baefa4e82580c7066b824aa7a365a5d3357a22",
    "cqf_diff(x_cqf, y_cqf)" -> "86f20a7256b2c496195b4233abc96c47426d65b9d37c98d9faf0c0c3073dd1fb")

  test("every probe's results over every admitted type are pinned, in both codegen modes") {
    val gen = results(wholeStage = true, "CODEGEN_ONLY")
    val interp = results(wholeStage = false, "NO_CODEGEN")
    for (c <- calls) assert(gen(c) == interp(c), s"$c: codegen ${gen(c)} vs interpreted ${interp(c)}")
    // null in, null out: row 11 has null keys, row 12 a null x, row 13 a null y
    for (c <- calls; (v, i) <- gen(c).zipWithIndex) {
      val nullIn = i == 12 || (i == 11 && c.contains(", c_")) || (i == 13 && c.contains("y_"))
      assert((v == "null") == nullIn, s"$c row $i: $v")
    }
    val got = gen.map { case (c, vs) => c -> sha256(vs.mkString(",").getBytes("UTF-8")) }
    val wrong = calls.filterNot(c => pinned.get(c).contains(got(c)))
    assert(wrong.isEmpty, wrong.map(c => s"""    "$c" -> "${got(c)}",""").mkString("\n", "\n", ""))
  }

  test("output columns are named by the call and plans print fn(children) only") {
    for (c <- calls) {
      val df = input.selectExpr(c)
      assert(df.columns.toSeq == Seq(c), c)
      val plan = df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#N")
      val printed = c.replaceAll("\\b([xyc]_\\w+)", "$1#N")
      assert(plan.contains(s"Project [$printed AS $c#N]"), s"$c:\n$plan")
    }
  }

  test("each probe rejects a non-binary sketch and a bad key or argument at analysis") {
    val sketchMsg = "requires a binary sketch column, got IntegerType"
    val cases =
      readouts.map { case (f, _) => s"$f(c_int)" -> s"$f $sketchMsg" } ++
      keyedProbes.flatMap { case (f, k) => Seq(s"$f(c_int, c_int)" -> s"$f $sketchMsg",
        s"$f(x_$k, c_double)" -> s"$f: key must be integral or string, got DoubleType") } ++
      numericProbes.flatMap { case (f, k) => Seq(s"$f(c_int, c_double)" -> s"$f $sketchMsg",
        s"$f(x_$k, c_string)" -> s"$f: argument must be numeric, got StringType") } ++
      setOps.map { case (f, k) => s"$f(c_int, y_${variantsOf(k).head})" ->
        s"$f requires two binary sketch columns, got (IntegerType, BinaryType)" }
    for ((call, message) <- cases) {
      val e = intercept[AnalysisException](input.selectExpr(call).schema)
      assert(e.getMessage.contains(message), s"$call: ${e.getMessage}")
    }
  }
}
