package graft.agg

import graft.sketch._
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions

/** Typed `Aggregator` wrappers over the sketch kernels, registered via
  * `functions.udaf` (SURVEY.md §2.2) — the Dataset-typed and
  * SQL-registered counterpart of the Catalyst TypedImperativeAggregates
  * in [[SketchAggregates]]. Same kernels, same serialized bytes, so the
  * two surfaces interoperate (a udaf-built sketch probes/merges
  * identically to an agg-expression-built one). Registered functions:
  * cqf_agg_udaf(key), hll_agg_udaf(key), td_agg_udaf(value),
  * kll_agg_udaf(value) — fixed default parameters; parameterized shapes
  * use the expression API. */
object TypedAggregators {

  // Boxed input types + nullable encoders: the scalaLong/scalaDouble
  // primitive encoders made a NULL input row fail the whole query at
  // deserialization ("Null value appeared in non-nullable field"),
  // where the expression-API counterparts (SketchBuildAgg.update) skip
  // nulls — the two surfaces must agree, so reduce skips nulls too.

  /** CQF over long keys (quotientBits/hashBits fixed at construction).
    * Buffer is the [[CqfBuilder]] pre-aggregation layer, not the bare
    * kernel: one rank/select insert per DISTINCT key instead of per
    * occurrence (~3x on duplicate-heavy streams), with serialized bytes
    * identical to direct inserts (CqfBuilderSpec). */
  class CqfLongAggregator(quotientBits: Int = 10, hashBits: Int = 64)
      extends Aggregator[java.lang.Long, CqfBuilder, Array[Byte]] {
    override def zero: CqfBuilder = CqfBuilder(quotientBits, hashBits)
    override def reduce(b: CqfBuilder, key: java.lang.Long): CqfBuilder = {
      if (key != null) b.add(key)
      b
    }
    override def merge(a: CqfBuilder, b: CqfBuilder): CqfBuilder = a.mergeInPlace(b)
    override def finish(r: CqfBuilder): Array[Byte] = r.result().serialize()
    override def bufferEncoder: Encoder[CqfBuilder] = Encoders.javaSerialization[CqfBuilder]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  class HllLongAggregator(p: Int = 12)
      extends Aggregator[java.lang.Long, HllSketch, Array[Byte]] {
    override def zero: HllSketch = HllSketch(p)
    override def reduce(b: HllSketch, key: java.lang.Long): HllSketch = {
      if (key != null) b.add(key)
      b
    }
    override def merge(a: HllSketch, b: HllSketch): HllSketch = a.mergeInPlace(b)
    override def finish(r: HllSketch): Array[Byte] = r.serialize()
    override def bufferEncoder: Encoder[HllSketch] = Encoders.javaSerialization[HllSketch]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  class TDigestAggregator(compression: Double = 100.0)
      extends Aggregator[java.lang.Double, TDigest, Array[Byte]] {
    override def zero: TDigest = TDigest(compression)
    override def reduce(b: TDigest, x: java.lang.Double): TDigest = {
      if (x != null) b.add(x)
      b
    }
    override def merge(a: TDigest, b: TDigest): TDigest = a.mergeInPlace(b)
    override def finish(r: TDigest): Array[Byte] = r.serialize()
    override def bufferEncoder: Encoder[TDigest] = Encoders.javaSerialization[TDigest]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  class KllAggregator(k: Int = 200)
      extends Aggregator[java.lang.Double, KllSketch, Array[Byte]] {
    override def zero: KllSketch = KllSketch(k)
    override def reduce(b: KllSketch, x: java.lang.Double): KllSketch = {
      if (x != null) b.add(x)
      b
    }
    override def merge(a: KllSketch, b: KllSketch): KllSketch = a.mergeInPlace(b)
    override def finish(r: KllSketch): Array[Byte] = r.serialize()
    override def bufferEncoder: Encoder[KllSketch] = Encoders.javaSerialization[KllSketch]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  def registerAll(spark: SparkSession): Unit = {
    spark.udf.register("cqf_agg_udaf",
      functions.udaf(new CqfLongAggregator(), Encoders.LONG))
    spark.udf.register("hll_agg_udaf",
      functions.udaf(new HllLongAggregator(), Encoders.LONG))
    spark.udf.register("td_agg_udaf",
      functions.udaf(new TDigestAggregator(), Encoders.DOUBLE))
    spark.udf.register("kll_agg_udaf",
      functions.udaf(new KllAggregator(), Encoders.DOUBLE))
  }

  /** The same four functions as expression builders, for the declarative
    * `spark.sql.extensions` path (extensions run before any session
    * exists, so `udf.register` is unavailable there): each builder
    * applies the UserDefinedAggregator to the argument columns and
    * unwraps the resulting aggregate expression. */
  def udafBuilders: Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
      org.apache.spark.sql.catalyst.expressions.Expression)] = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    def wrap(uda: org.apache.spark.sql.expressions.UserDefinedFunction)
        : Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression =
      args => GraftBridge.resolvedExpression(uda(args.map(GraftBridge.column): _*))
    Seq(
      "cqf_agg_udaf" -> wrap(functions.udaf(new CqfLongAggregator(), Encoders.LONG)),
      "hll_agg_udaf" -> wrap(functions.udaf(new HllLongAggregator(), Encoders.LONG)),
      "td_agg_udaf" -> wrap(functions.udaf(new TDigestAggregator(), Encoders.DOUBLE)),
      "kll_agg_udaf" -> wrap(functions.udaf(new KllAggregator(), Encoders.DOUBLE)))
  }
}
