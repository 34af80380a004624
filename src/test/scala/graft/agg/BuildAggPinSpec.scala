package graft.agg

import graft.GraftFunctions
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the SQL surface of every sketch BUILD function: the output bytes
  * over every input type its analysis check admits (as SHA-256), the
  * executed-plan text of its partial and final sides, and the analysis
  * message for a rejected type. The input is one fixed partition, so
  * each aggregate sees the rows in one order and builds one partial. */
class BuildAggPinSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-buildpin-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val keyedCols = Seq("c_tinyint", "c_smallint", "c_int", "c_bigint",
    "c_string", "c_binary", "c_arr_int", "c_arr_bigint", "c_arr_string")
  private val numericCols = Seq("c_int", "c_float", "c_double", "c_decimal",
    "c_arr_double")

  /** 240 deterministic rows; scalar nulls every 23rd row, null array
    * elements every 29th. */
  private lazy val input: DataFrame = {
    val schema = StructType(Seq(
      StructField("c_tinyint", ByteType), StructField("c_smallint", ShortType),
      StructField("c_int", IntegerType), StructField("c_bigint", LongType),
      StructField("c_string", StringType), StructField("c_binary", BinaryType),
      StructField("c_arr_int", ArrayType(IntegerType)),
      StructField("c_arr_bigint", ArrayType(LongType)),
      StructField("c_arr_string", ArrayType(StringType)),
      StructField("c_float", FloatType), StructField("c_double", DoubleType),
      StructField("c_decimal", DecimalType(10, 2)),
      StructField("c_arr_double", ArrayType(DoubleType))))
    val rows = (0 until 240).map { i =>
      def orNull[T](v: T): Any = if (i % 23 == 0) null else v
      def elem[T](v: T): Any = if (i % 29 == 0) null else v
      Row(orNull((i % 50 - 25).toByte), orNull((i * 7 % 300).toShort),
        orNull(i * 31 % 97), orNull(i.toLong * 1000003L - 5000L),
        orNull(s"w${i % 37}"), orNull(Array[Byte]((i % 11).toByte, (i % 5).toByte)),
        Seq(i % 13, elem(i % 17), i * 3 % 19),
        Seq(i.toLong << 20, elem(-i.toLong)),
        Seq(s"t${i % 7}", elem(s"u${i % 41}")),
        orNull(i * 0.5f), orNull(math.sin(i) * 100),
        orNull(BigDecimal(i) * BigDecimal("1.25")),
        Seq(i / 3.0, elem(math.cos(i)), -i.toDouble))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      .coalesce(1)
      .selectExpr("*", "pack_ints(c_arr_int) AS c_packed")
  }

  /** (SQL call with `?` for the column, the column it runs over). Every
    * function appears once with explicit non-default arguments per
    * admitted type, and once with the SQL defaults. */
  private val calls: Seq[(String, String)] =
    Seq("cqf_agg(?, 12, 64)", "hll_agg(?, 10)", "cms_agg(?, 4, 512)",
      "bloom_agg(?, 4096, 3)", "ss_agg(?, 64)", "kmv_agg(?, 128)")
      .flatMap(f => keyedCols.map(f -> _)) ++
    Seq("td_agg(?, 50.0)", "kll_agg(?, 256)").flatMap(f => numericCols.map(f -> _)) ++
    Seq("cqf_agg_packed(?, 12, 40, 1)", "ss_agg_packed(?, 64)",
      "kmv_agg_packed(?, 128)").map(_ -> "c_packed") ++
    Seq("cqf_agg(?, 12, 40, 1)" -> "c_arr_int") ++
    Seq("cqf_agg(?)", "hll_agg(?)", "cms_agg(?)", "bloom_agg(?)", "ss_agg(?)",
      "kmv_agg(?)").map(_ -> "c_int") ++
    Seq("td_agg(?)", "kll_agg(?)").map(_ -> "c_double") ++
    Seq("cqf_agg_packed(?)", "ss_agg_packed(?)", "kmv_agg_packed(?)").map(_ -> "c_packed")

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private val pinned: Map[String, String] = Map(
    "cqf_agg(c_tinyint, 12, 64)" -> "9b5646766b0deb3fd789cf23085b4786b8f8fdced1103bb99707ccc09a0b5177",
    "cqf_agg(c_smallint, 12, 64)" -> "f5b3e7ba19d924261055c52ff90d2bfe46cb68fbc00577cd3222d70f692d0d4b",
    "cqf_agg(c_int, 12, 64)" -> "9ada6bf53d7acb76b7a7df9ea2650ba30c2a82dce0f633ea8f1a02c75c4b6374",
    "cqf_agg(c_bigint, 12, 64)" -> "9726629165fcc449fe953c05aafa6eeffa82947b7ec93b741cba3ea42f6e6e61",
    "cqf_agg(c_string, 12, 64)" -> "c8bcf34f47c4296ed2311c6d70c8dbf94357495e6ec7d308bc85f24603790dee",
    "cqf_agg(c_binary, 12, 64)" -> "538de9a0f3c6e8ca8d4610f2c28add36a3732ac4dbfffb75ac0528005466793e",
    "cqf_agg(c_arr_int, 12, 64)" -> "6b789c3f782820d43cf3e3697fa883206e85dcd94a7a2fc18f0d50217143abdb",
    "cqf_agg(c_arr_bigint, 12, 64)" -> "7f4c6d23414983f0dc1921bd727e9c9596c34c89a64f0494d0b9c49d98cfaaf4",
    "cqf_agg(c_arr_string, 12, 64)" -> "59321f67401c2adc6db15e7950c863f2b200e4c7e26dbeeb5d00f6faecf197df",
    "hll_agg(c_tinyint, 10)" -> "77c6d67d4adf1d3d35de807994b4df7f37e4dc3c265d47184f2b4d93b389f034",
    "hll_agg(c_smallint, 10)" -> "32adbabd6aad3b0fd38ddcef0bef26f3e0a83fd45776c488aea8b0eb93b05093",
    "hll_agg(c_int, 10)" -> "2dcee883998ff4b3df9c26e74e3366c3487a35a07b2486e1111250a79bdcb6bc",
    "hll_agg(c_bigint, 10)" -> "00b8976da65544bf0cc256d56538aea6f78bae181d17496e97e6fb294a6b03d6",
    "hll_agg(c_string, 10)" -> "8d4bc174394640cf37468c1110a5ee9de26686bd510f13d2f72713b41ae8eb3d",
    "hll_agg(c_binary, 10)" -> "5b1a7d8dc37348b5d5dc2fa3d5f0599ee1c7f0551e8d8f4b9c00a69704bc125e",
    "hll_agg(c_arr_int, 10)" -> "175957e5113655b5ce1f922d9fd03b824d548b2af26b510744a6b0a2b758a891",
    "hll_agg(c_arr_bigint, 10)" -> "93a906f441558e379816ce975e93a90dc96ae8fd6ee61590c8f40536f4f32e48",
    "hll_agg(c_arr_string, 10)" -> "42155cd8fc229aa86cc86e02f85341502a8e0afeb30d6f22ef64caf15a2b00fe",
    "cms_agg(c_tinyint, 4, 512)" -> "cc2b3fcd03e364faefa31f2c4df71cd79fddba3755b5a7e461a6ce497efc60da",
    "cms_agg(c_smallint, 4, 512)" -> "4de398d7d245ec47fff16e341906b8ec00180ced49043f55b661abfaab149dd4",
    "cms_agg(c_int, 4, 512)" -> "4b7c1fac8e5810ad5b44eb575c80f15e014013ae44a1576b01fc2aaa9f7e2371",
    "cms_agg(c_bigint, 4, 512)" -> "24156744fc94ba2a54a0c0d67a5f9d9702a9a06d6cadec2bf50fc429b437763c",
    "cms_agg(c_string, 4, 512)" -> "3adbde3a82d843cab923aa5110cd81494d4f4901f18438d2b76e1a738b4e124d",
    "cms_agg(c_binary, 4, 512)" -> "0bd6f21ca42dded0ef2f47bfdee3fd9a0056cb03a5608330290146e2b344c083",
    "cms_agg(c_arr_int, 4, 512)" -> "a27067049d455fd48d27bb85009a4f324cc9243144bb18918cad74f67dcf80c9",
    "cms_agg(c_arr_bigint, 4, 512)" -> "7f89f87ac70e416179da71f38016983a50868e3ac51eaa479d8b56a30bdded53",
    "cms_agg(c_arr_string, 4, 512)" -> "9b400dd122a7bbb31ada54651dd8bac6b2e25151f78cfc9c6c347d8c121f083b",
    "bloom_agg(c_tinyint, 4096, 3)" -> "3aae123188891d157af0a22514df3cd309e1c7e2d73fc024e156f84aa13c9af2",
    "bloom_agg(c_smallint, 4096, 3)" -> "3388a003872f23a406fd41e1b592e1369a3cb650465a2721ca2eb0ad021321d8",
    "bloom_agg(c_int, 4096, 3)" -> "3263cf486878b88a1995057f5e3ee6bb19b9fb98b4163f685244baf377196e95",
    "bloom_agg(c_bigint, 4096, 3)" -> "fb9e209cc9764bdaa30ec4833d7eb08449c8a390a8a8505438416317d7a40be9",
    "bloom_agg(c_string, 4096, 3)" -> "b095ed862c44dbc10b3457b52982b361ad29bd1c41c5c59982dcb1f041748818",
    "bloom_agg(c_binary, 4096, 3)" -> "66f650fd568e5a19e719e7bc3804d3fc5681b40db00c91a50d91566e28640fb3",
    "bloom_agg(c_arr_int, 4096, 3)" -> "da5498c0503c43c67b112c18076f23ca23841520509f59c749ca76cc624f6b07",
    "bloom_agg(c_arr_bigint, 4096, 3)" -> "8ca06028cd4ef0b27217a187f8b91b49de7bf555cd81fc1e9f0e80a48f495b4c",
    "bloom_agg(c_arr_string, 4096, 3)" -> "df507ece33ad1826cb456a44e7b6810ce70fc47244cb8698a70e3ded9d6e56d2",
    "ss_agg(c_tinyint, 64)" -> "809840123e4d819716e34d813d41583c6054c5fe1a4732b9ffa6a5714652278d",
    "ss_agg(c_smallint, 64)" -> "535c05c41b1c78e28d67a0b9a2aef4d442101e59d43a4008ae7169cc89efea88",
    "ss_agg(c_int, 64)" -> "0a45e5ec5c644ce4020a7e920a79f7c9e46f496afa179aa4748c4f7ca16f85a8",
    "ss_agg(c_bigint, 64)" -> "416636188afd00b00d1354db0b93eb26f12e6df41410a77a41368a6f0e93a1c0",
    "ss_agg(c_string, 64)" -> "920f58da69466fad670b055be543d45214768ba3383902ed93010240bc170e73",
    "ss_agg(c_binary, 64)" -> "d9f48c8b8a5606610031b614798be9f786eb1e43f41d9403b13ee1f7439c8c02",
    "ss_agg(c_arr_int, 64)" -> "293a6cf046541195fddc1ee7c833e838fc8c5be4d7ab6867c62c1a0ff6cd3fd0",
    "ss_agg(c_arr_bigint, 64)" -> "e50c86b36813770bb6cb1dce7dbb68e5e85478e97ad8dba3ffc9ae1aed681db9",
    "ss_agg(c_arr_string, 64)" -> "54d9ef1d9d507eb18ed9881469e51e31075b3f017e2a02ceb7540feaa1a8d9d7",
    "kmv_agg(c_tinyint, 128)" -> "0ac987db19493a6ca4c978b448852af40db47ebbb98a06540b6a3d676157bf1d",
    "kmv_agg(c_smallint, 128)" -> "06ea9162925dcffb4444339a1c8f4a8a28b68afde437ed64b23aae2808fa6673",
    "kmv_agg(c_int, 128)" -> "c49af8565827f790bc7fea9d9f15a0835a302150cd53d13a5759802b4a01ea49",
    "kmv_agg(c_bigint, 128)" -> "32c0407c7badd68ae0ea2cae083702bb8f8724f8e0ed637e1667c9d197cb8455",
    "kmv_agg(c_string, 128)" -> "9e106f7013c60ea18566e00f7f33a4745a6a5e5d5b7b5fba976e758292400af1",
    "kmv_agg(c_binary, 128)" -> "725710851fee1bc7baea538055dd3f46d18f084baeed0e2e204288411a26bbd2",
    "kmv_agg(c_arr_int, 128)" -> "ab79e156c5951cd82439bfe436004c28db2a934a8bee54db2b6db611b0284e02",
    "kmv_agg(c_arr_bigint, 128)" -> "47d1689a49e3eb5eb42ba2d85d8ca1d5d5ba837b534dedd01e927bbbb9966953",
    "kmv_agg(c_arr_string, 128)" -> "cbb0a0c1112baa778b7ee6a6550883cd49e54cd3a0b24cc18e66738a53833dd0",
    "td_agg(c_int, 50.0)" -> "6146953e313b7a07c2e56ba15fea68813d1f7809ed53a1cfae4c5dddc8d93612",
    "td_agg(c_float, 50.0)" -> "24034b44846455e85b1b6503964f4fba3bc5d08277c1ab9d19be19191d19a039",
    "td_agg(c_double, 50.0)" -> "33cc520e5ce7338bbf9c9e4eb176c572b80c87c850e84c9760e5e129c3e81d0c",
    "td_agg(c_decimal, 50.0)" -> "57b7ae9673cc7adf2bc0528405c87bf5dd6675683fefd0e4f462261e9b9b36a7",
    "td_agg(c_arr_double, 50.0)" -> "40e39e5778d7b01e862e1b2a97e716613cd44b3fba27dbc3e36e5b38f7acf4c9",
    "kll_agg(c_int, 256)" -> "46f2474f043e7831c2f5ba3ab530f01909fde4fc87f2efafcd4d9f1499cad9d6",
    "kll_agg(c_float, 256)" -> "4717f472a79111e59c12352490a5e5bb17cd1be2d9eb51da11d7b06c89aaac3c",
    "kll_agg(c_double, 256)" -> "8505e4c44a4cdbf2b126303f2bc834dc1d1005ea1944849d36c62febfc66062f",
    "kll_agg(c_decimal, 256)" -> "1561b7fd53b3ad06c067c022467d4db7e945738a410c0fca035178b6b0260353",
    "kll_agg(c_arr_double, 256)" -> "a004f2863f52061ddc0bc28ce2339f2e5486b462b898b33a8fb3e07c4e14120d",
    "cqf_agg_packed(c_packed, 12, 40, 1)" -> "8c66d0b7709c5a909121df8cf0ae8bfedb4bf9f67e8d077927f9c6bd0d962b7c",
    "ss_agg_packed(c_packed, 64)" -> "293a6cf046541195fddc1ee7c833e838fc8c5be4d7ab6867c62c1a0ff6cd3fd0",
    "kmv_agg_packed(c_packed, 128)" -> "ab79e156c5951cd82439bfe436004c28db2a934a8bee54db2b6db611b0284e02",
    "cqf_agg(c_arr_int, 12, 40, 1)" -> "8c66d0b7709c5a909121df8cf0ae8bfedb4bf9f67e8d077927f9c6bd0d962b7c",
    "cqf_agg(c_int)" -> "4ea0aabd0cba6b95c5462cfd996daf026e807b765fc489afa60deead40d1f403",
    "hll_agg(c_int)" -> "a8fa6477d0a2f11a4d5a3d89e65f1f74b56ce600bf3c54442e6985c4217bd292",
    "cms_agg(c_int)" -> "cc5db159993fea56797cd14364f1233be54a821502d6b3bff9f079d309b19c20",
    "bloom_agg(c_int)" -> "fd404874a7d63faf52cf34f6195f4e4c3c56647c9caa4984c54cce93cea6524f",
    "ss_agg(c_int)" -> "b79a083ec93f9799f2fcd688a180d3a37661d92ab322ca0d5f31a91e94528faf",
    "kmv_agg(c_int)" -> "074c5a1a1cc8229ad2beed370a2397555ed98bf055af08385cd1fdfb57c9fded",
    "td_agg(c_double)" -> "30555af99c2f3d5f975ba8e8393e9ac703fc1ef5cb8b6655285f5688574fd363",
    "kll_agg(c_double)" -> "4cab5f047bce13613efee0badeb2c7f3e5d63bdb2fa0129f80af545092024dc0",
    "cqf_agg_packed(c_packed)" -> "b00a213d35daca58c2eaf76e02b569d049dac92573c885586c81a6a4ff8d7e39",
    "ss_agg_packed(c_packed)" -> "c042140f68e115cb7cd60cd763dced22670b4441f17dd9f786ec23d197992ff2",
    "kmv_agg_packed(c_packed)" -> "8c099b99f972911b39ce7d521304f6e72a8567e373b8e5106ff7a183e7b6e53d")

  test("every build function's bytes over every admitted input type are pinned") {
    val exprs = calls.map { case (f, c) => f.replace("?", c) }
    val got = calls.grouped(16).flatMap { batch =>
      val sql = batch.map { case (f, c) => f.replace("?", c) }
      val row = input.selectExpr(sql: _*).head()
      sql.indices.map(i => sql(i) -> sha256(row.getAs[Array[Byte]](i)))
    }.toMap
    val wrong = exprs.filterNot(e => pinned.get(e).contains(got(e)))
    assert(wrong.isEmpty, wrong.map(e => s"""    "$e" -> "${got(e)}",""").mkString("\n", "\n", ""))
  }

  test("executed plans print fn(child, args..., 0, 0) on the partial and final side") {
    val cases = Seq(
      "cqf_agg(c_int, 12, 64)" -> "cqf_agg(c_int#N, 12, 64, false, 0, 0)",
      "cqf_agg_packed(c_packed, 12, 40, 1)" -> "cqf_agg_packed(c_packed#N, 12, 40, true, 0, 0)",
      "hll_agg(c_string, 10)" -> "hll_agg(c_string#N, 10, 0, 0)",
      "cms_agg(c_bigint, 4, 512)" -> "cms_agg(c_bigint#N, 4, 512, 0, 0)",
      "bloom_agg(c_int, 4096, 3)" -> "bloom_agg(c_int#N, 4096, 3, 0, 0)",
      "ss_agg(c_arr_int, 64)" -> "ss_agg(c_arr_int#N, 64, 0, 0)",
      "ss_agg_packed(c_packed, 64)" -> "ss_agg_packed(c_packed#N, 64, 0, 0)",
      "kmv_agg(c_arr_string, 128)" -> "kmv_agg(c_arr_string#N, 128, 0, 0)",
      "kmv_agg_packed(c_packed, 128)" -> "kmv_agg_packed(c_packed#N, 128, 0, 0)",
      "td_agg(c_double, 50.0)" -> "td_agg(c_double#N, 50.0, 0, 0)",
      "kll_agg(c_double, 256)" -> "kll_agg(c_double#N, 256, 0, 0)",
      "cqf_agg(c_int)" -> "cqf_agg(c_int#N, 10, 64, false, 0, 0)",
      "bloom_agg(c_int)" -> "bloom_agg(c_int#N, 65536, 5, 0, 0)",
      "td_agg(c_double)" -> "td_agg(c_double#N, 100.0, 0, 0)")
    for ((call, printed) <- cases) {
      val df = input.selectExpr(s"$call AS sk")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#N")
      assert(plan.contains(s"partial_$printed"), s"$call:\n$plan")
      assert(plan.contains(s"functions=[$printed]"), s"$call:\n$plan")
      assert(plan.contains("ObjectHashAggregate"), s"$call:\n$plan")
    }
  }

  test("each build function rejects an inadmissible type at analysis with its message") {
    val keyed = "requires an integral/string column or array thereof, got"
    val numeric = "requires a numeric column or array thereof, got"
    val packed = "requires a binary packed-int column, got"
    val cases = Seq(
      "cqf_agg(c_double)" -> s"cqf_agg $keyed DoubleType",
      "hll_agg(c_float)" -> s"hll_agg $keyed FloatType",
      "cms_agg(c_decimal)" -> s"cms_agg $keyed DecimalType(10,2)",
      "bloom_agg(c_arr_double)" -> s"bloom_agg $keyed ArrayType(DoubleType,true)",
      "ss_agg(c_double)" -> s"ss_agg $keyed DoubleType",
      "kmv_agg(c_float)" -> s"kmv_agg $keyed FloatType",
      "td_agg(c_string)" -> s"td_agg $numeric StringType",
      "kll_agg(c_arr_string)" -> s"kll_agg $numeric ArrayType(StringType,true)",
      "cqf_agg_packed(c_arr_int)" -> s"cqf_agg_packed $packed ArrayType(IntegerType,true)",
      "ss_agg_packed(c_int)" -> s"ss_agg_packed $packed IntegerType",
      "kmv_agg_packed(c_string)" -> s"kmv_agg_packed $packed StringType")
    for ((call, message) <- cases) {
      val e = intercept[AnalysisException](input.selectExpr(call).collect())
      assert(e.getMessage.contains(message), s"$call: ${e.getMessage}")
    }
  }
}
