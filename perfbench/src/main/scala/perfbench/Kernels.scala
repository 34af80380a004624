package perfbench

import graft.api
import graft.agg.CqfPackedAgg
import graft.sketch._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Per-layer measurements of the `sketch`, `agg` and `functions` layers,
  * driven through their public functions on inputs drawn from the
  * workload's own data. Each figure is the median of `reps` timed
  * repetitions after two untimed ones. */
object Kernels {
  val reps = 5

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median ns of `timed` over reps; `prep` runs untimed before each. */
  private def ns[A](prep: => A)(timed: A => Any): Double =
    median((0 until reps + 2).map { _ =>
      val a = prep
      val t0 = System.nanoTime()
      timed(a)
      (System.nanoTime() - t0).toDouble
    }.drop(2))

  def sketch(in: KernelInputs, q: Int): Map[String, Double] = {
    val keys = in.keys
    val n = keys.length.toDouble
    val (lo, hi) = keys.splitAt(keys.length / 2)
    def cqfOf(ks: Array[Long]) = { val c = Cqf(q, 64); ks.foreach(c.insert(_)); c }
    val full = cqfOf(keys)
    val bytes = full.serialize()
    val kb = bytes.length / 1024.0
    val half = cqfOf(hi)
    Map(
      "sketch.cqf_builder_add_ns" -> ns(CqfBuilder(q, 64)) { b =>
        keys.foreach(b.add); b.result() } / n,
      "sketch.cqf_insert_ns" -> ns(Cqf(q, 64))(c => keys.foreach(c.insert(_))) / n,
      "sketch.cqf_merge_ns_per_entry" -> ns(cqfOf(lo))(_.mergeInPlace(half)) /
        half.distinctCount.toDouble,
      "sketch.cqf_serialize_ns_per_kb" -> ns(())(_ => full.serialize()) / kb,
      "sketch.cqf_deserialize_ns_per_kb" -> ns(())(_ => Cqf.deserialize(bytes)) / kb,
      "sketch.cqf_count_ns" -> ns(()) { _ =>
        var s = 0L; keys.foreach(k => s += full.count(k)); s } / n,
      "sketch.hll_add_ns" -> ns(HllSketch(12))(h => keys.foreach(h.add)) / n,
      "sketch.cms_add_ns" -> ns(CountMinSketch(5, 2048))(c => keys.foreach(c.add(_))) / n,
      "sketch.bloom_add_ns" -> ns(BloomSketch(1 << 20, 5))(b => keys.foreach(b.add)) / n,
      "sketch.kmv_add_ns" -> ns(KmvSketch(1024)) { k => keys.foreach(k.add); k.size } / n,
      "sketch.ss_add_ns" -> ns(FrequentItems(256))(f => keys.foreach(f.add(_))) / n,
      "sketch.kll_add_ns" -> ns(KllSketch(200))(k => in.values.foreach(k.add)) /
        in.values.length,
      "sketch.td_add_ns" -> ns(TDigest(100.0)) { t =>
        in.values.foreach(t.add(_)); t.compress() } / in.values.length,
      "sketch.cqf_bytes_per_key" -> bytes.length.toDouble / full.distinctCount,
      "sketch.cqf_load_factor" -> full.occupiedSlots.toDouble / full.numSlots)
  }

  /** The CQF aggregate buffer (`CqfPackedAgg`) driven as Spark drives it. */
  def agg(in: KernelInputs, q: Int): Map[String, Double] = {
    val agg = CqfPackedAgg(BoundReference(0, BinaryType, nullable = false), q, 64)
    val rows = in.packedRows.map(b => InternalRow(b))
    val tokens = in.packedRows.map(_.length / 4).sum.toDouble
    def built(rs: Array[InternalRow]) = {
      val buf = agg.createAggregationBuffer()
      rs.foreach(agg.update(buf, _))
      buf.result()
      buf
    }
    val (lo, hi) = rows.splitAt(rows.length / 2)
    val bytes = agg.serialize(built(rows))
    val hiBytes = agg.serialize(built(hi))
    val loBytes = agg.serialize(built(lo))
    Map(
      "agg.cqf_packed_update_ns_per_tok" -> ns(())(_ => built(rows)) / tokens,
      "agg.cqf_merge_ns" -> ns((agg.deserialize(loBytes), agg.deserialize(hiBytes))) {
        case (a, b) => agg.merge(a, b) },
      "agg.serialize_ns" -> ns(agg.deserialize(bytes))(agg.serialize),
      "agg.deserialize_ns" -> ns(())(_ => agg.deserialize(bytes)),
      "agg.cqf_partial_bytes" -> bytes.length.toDouble)
  }

  /** Probe and set-op expressions, through Spark over cached inputs. */
  def functions(spark: SparkSession, in: KernelInputs, q: Int, cores: Int)
      : Map[String, Double] = {
    val sess = spark
    import sess.implicits._
    val sk = { val c = Cqf(q, 64); in.keys.foreach(c.insert(_)); c.serialize() }
    val keys = in.keys.toSeq.toDF("k").crossJoin(spark.range(4).toDF("r"))
      .select(col("k")).repartition(cores).cache()
    val nKeys = keys.count().toDouble
    val (lo, hi) = in.keys.splitAt(in.keys.length / 2)
    def skOf(ks: Array[Long]) = { val c = Cqf(q, 64); ks.foreach(c.insert(_)); c.serialize() }
    val pairRows = 32
    val pairs = Seq.fill(pairRows)((skOf(lo), skOf(hi))).toDF("a", "b")
      .repartition(cores).cache()
    pairs.count()
    val out = Map(
      "functions.cqf_count_ns_per_row" -> ns(()) { _ =>
        keys.select(sum(api.cqf_count(lit(sk), col("k")))).collect() } / nKeys,
      "functions.cqf_union_ms" -> ns(()) { _ =>
        pairs.select(sum(length(api.cqf_union(col("a"), col("b"))))).collect()
      } / 1e6 / pairRows)
    keys.unpersist(); pairs.unpersist()
    out
  }
}
