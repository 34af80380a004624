package graft.agg

import graft.GraftFunctions
import graft.api
import graft.sketch._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 Spark-side regressions: merge aggregates with null-only
  * partition slices (non-default sketch parameters must survive), the
  * typed-Aggregator/udaf surface, sketch aggregates over windows, and the
  * vector-mean aggregate. */
class Round2AggSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-round2-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  /** Two-partition frame: partition 0 holds real partials with NON-DEFAULT
    * parameters, partition 1 holds ONLY a null row — its never-updated
    * map-side buffer used to serialize as a default-parameter placeholder
    * and crash the final merge with a parameter mismatch. */
  private def withNullSlice(partials: Seq[Array[Byte]]) = {
    val rows: Seq[Row] = partials.map(b => Row("g", b)) :+ Row("g", null)
    // two explicit slices: the null row is guaranteed alone in its partition
    val rdd = spark.sparkContext
      .makeRDD(Seq(rows.init, Seq(rows.last)), 2)
      .flatMap(identity)
    spark.createDataFrame(rdd,
      StructType(Seq(StructField("g", StringType), StructField("sk", BinaryType))))
  }

  test("merge aggs survive a null-only partition slice with non-default params") {
    // HLL p=14 (default is 12)
    val h = HllSketch(14); (1L to 500L).foreach(h.add)
    val hllDf = withNullSlice(Seq(h.serialize()))
    val est = hllDf.groupBy($"g").agg(api.hll_merge_agg($"sk").as("m"))
      .select(api.hll_estimate($"m")).head().getLong(0)
    assert(math.abs(est - 500L) <= 25L)

    // CQF hashBits=32 compact (defaults are 64/wide)
    val c = Cqf(10, 32, invertible = true, compact = true)
    (1L to 300L).foreach(c.insert(_))
    val cqfDf = withNullSlice(Seq(c.serialize()))
    val out = cqfDf.groupBy($"g").agg(api.cqf_merge_agg($"sk").as("m"))
      .select(api.cqf_distinct($"m"), api.cqf_total($"m")).head()
    assert(out.getLong(0) == 300L && out.getLong(1) == 300L)

    // KLL k=400 (default 200)
    val k = KllSketch(400); (1 to 1000).foreach(i => k.add(i.toDouble))
    val kllDf = withNullSlice(Seq(k.serialize()))
    val p50 = kllDf.groupBy($"g").agg(api.kll_merge_agg($"sk").as("m"))
      .select(api.kll_quantile($"m", lit(0.5))).head().getDouble(0)
    assert(math.abs(p50 - 500.0) <= 50.0)

    // whole-group-null still yields a usable empty sketch (not null/crash)
    val allNull = withNullSlice(Seq.empty).where($"sk".isNull)
    val empty = allNull.groupBy($"g").agg(api.cqf_merge_agg($"sk").as("m"))
      .select(api.cqf_total($"m")).head().getLong(0)
    assert(empty == 0L)
  }

  test("typed Aggregator udafs build byte-identical-semantics sketches") {
    val df = (1 to 2000).map(i => (i % 7, (i % 131).toLong, i.toDouble))
      .toDF("g", "key", "x")
    df.createOrReplaceTempView("typed_src")
    val rows = spark.sql("""
      SELECT g,
        cqf_distinct(cqf_agg_udaf(key)) AS udaf_distinct,
        cqf_distinct(cqf_agg(key, 10, 64)) AS agg_distinct,
        hll_estimate(hll_agg_udaf(key)) AS udaf_hll,
        hll_estimate(hll_agg(key, 12)) AS agg_hll,
        td_quantile(td_agg_udaf(x), 0.5d) AS udaf_p50,
        td_quantile(td_agg(x, 100.0d), 0.5d) AS agg_p50,
        kll_n(kll_agg_udaf(x)) AS udaf_n
      FROM typed_src GROUP BY g""").collect()
    assert(rows.length == 7)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(2))  // exact CQF distinct agree
      assert(r.getLong(3) == r.getLong(4))  // same HLL kernel, same estimate
      assert(math.abs(r.getDouble(5) - r.getDouble(6)) < 1e-9)
      assert(r.getLong(7) > 0L)
    }
  }

  test("Dataset-typed Aggregator surface: groupByKey(...).agg(agg.toColumn)") {
    import TypedAggregators._
    val ds = (1 to 1000).map(i => ((i % 4).toString, (i % 97).toLong)).toDS()
    // boxed values: the aggregator takes java.lang.Long so SQL NULLs can
    // be skipped instead of crashing the deserializer (see TypedAggregators)
    val typed = ds.groupByKey(_._1)
      .mapValues(v => java.lang.Long.valueOf(v._2))(
        org.apache.spark.sql.Encoders.LONG)
      .agg(new KeyedAggregator(SketchBuild.CqfBuild(10, 64, compact = false)).toColumn.name("sk"))
      .map { case (g, bytes) =>
        (g, graft.sketch.Cqf.deserialize(bytes).distinctCount)
      }
      .collect().toMap
    val oracle = ds.collect().groupBy(_._1)
      .map { case (g, rows) => g -> rows.map(_._2).distinct.length.toLong }
    assert(typed == oracle)
  }

  test("udaf surface skips SQL nulls like the expression surface") {
    // the primitive-encoder registration crashed the whole query on the
    // first NULL row ("Null value appeared in non-nullable field") where
    // cqf_agg/hll_agg skip nulls — the two surfaces must agree
    val df = Seq[(Int, java.lang.Long)]((1, 1L), (2, 2L), (3, null),
      (4, 2L), (5, null), (6, 3L)).toDF("i", "x")
    df.createOrReplaceTempView("nulludaf")
    val r = spark.sql(
      """SELECT cqf_distinct(cqf_agg_udaf(x)) AS du,
        |       cqf_distinct(cqf_agg(x)) AS de,
        |       hll_estimate(hll_agg_udaf(x)) AS hu,
        |       td_quantile(td_agg_udaf(CAST(x AS DOUBLE)), 0.5) AS tq,
        |       kll_n(kll_agg_udaf(CAST(x AS DOUBLE))) AS kn
        |FROM nulludaf""".stripMargin).collect()(0)
    assert(r.getLong(0) === 3L)
    assert(r.getLong(0) === r.getLong(1))
    assert(r.getLong(2) === 3L)
    assert(r.getDouble(3) >= 1.0 && r.getDouble(3) <= 3.0)
    assert(r.getLong(4) === 4L, "kll must count only the 4 non-null values")
  }

  test("sketch aggregate over a window: running exact distinct") {
    val df = (1 to 300).map(i => ("t" + (i % 3), i.toLong, (i % 17).toLong))
      .toDF("typ", "seq", "user")
    val w = Window.partitionBy($"typ").orderBy($"seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = df.select($"typ", $"seq",
        api.cqf_distinct(api.cqf_agg($"user", 8, 64).over(w)).as("rd"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    // driver-side oracle (Spark/DuckDB-free running distinct)
    val oracle = df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        val sorted = rows.sortBy(_._2)
        val seen = scala.collection.mutable.Set.empty[Long]
        sorted.map { case (typ, seq, user) => seen += user; (typ, seq) -> seen.size.toLong }
      }.toMap
    assert(got == oracle)
  }

  test("packed-token aggregate equals the array<int> aggregate exactly") {
    val df = (1 to 500).map { i =>
      (i % 5, Array.tabulate(1 + i % 40)(d => (i * 31 + d * 7) % 997))
    }.toDF("g", "tokens0")
      // null elements sprinkled in: both paths must SKIP them identically
      .withColumn("tokens",
        expr("transform(tokens0, (x, i) -> IF(i % 7 = 3, NULL, x))"))
    val both = df.groupBy($"g").agg(
        api.cqf_agg($"tokens", 10, 64).as("a"),
        api.cqf_agg_packed(api.pack_ints($"tokens"), 10, 64).as("b"))
      .select($"g",
        api.cqf_total($"a").as("ta"), api.cqf_total($"b").as("tb"),
        api.cqf_distinct($"a").as("da"), api.cqf_distinct($"b").as("db"),
        api.cqf_count($"a", lit(38L)).as("ca"), api.cqf_count($"b", lit(38L)).as("cb"))
      .collect()
    assert(both.length == 5)
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2) && r.getLong(3) == r.getLong(4) &&
        r.getLong(5) == r.getLong(6), s"packed != array: $r")
    }
  }

  test("vec_mean_agg equals exploded element-wise average") {
    val df = (1 to 200).map { i =>
      (i % 4, Array.tabulate(8)(d => (i * (d + 1)).toFloat / 7f))
    }.toDF("g", "v")
    val got = df.groupBy($"g").agg(api.vec_mean_agg($"v").as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val oracle = df.select($"g", posexplode($"v"))
      .groupBy($"g", $"pos").agg(avg($"col").as("m"))
      .collect().groupBy(_.getInt(0)).map { case (g, rows) =>
        g -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
    got.foreach { case (g, m) =>
      val o = oracle(g)
      assert(m.size == o.size)
      m.zip(o).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
    }
    // empty group -> empty array, no crash
    val empty = df.where($"g" === 99).agg(api.vec_mean_agg($"v")).head().getSeq[Double](0)
    assert(empty.isEmpty)
  }
}
