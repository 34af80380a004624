package graft.agg

import graft.agg.SketchBuild._
import org.apache.spark.sql.{Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions
import org.apache.spark.sql.types.{DoubleType, LongType}
import scala.reflect.ClassTag

/** Typed `Aggregator` wrappers over the [[SketchBuild]] entries,
  * registered via `functions.udaf` (SURVEY.md §2.2) — the Dataset-typed
  * and SQL-registered counterpart of [[SketchBuildAgg]]. Same entries,
  * same buffers, same serialized bytes, so the two surfaces interoperate
  * (a udaf-built sketch probes/merges identically to an
  * agg-expression-built one). Registered functions: cqf_agg_udaf(key),
  * hll_agg_udaf(key), td_agg_udaf(value), kll_agg_udaf(value) — fixed
  * default parameters; parameterized shapes use the expression API. */
object TypedAggregators {

  // Boxed input types + nullable encoders: the scalaLong/scalaDouble
  // primitive encoders made a NULL input row fail the whole query at
  // deserialization ("Null value appeared in non-nullable field"),
  // where the expression-API counterparts (SketchBuildAgg.update) skip
  // nulls — the two surfaces must agree, so reduce skips nulls too.

  /** Long keys into a keyed entry's buffer (for CQF the [[CqfBuilder]]
    * pre-aggregation layer: one rank/select insert per DISTINCT key,
    * bytes identical to direct inserts, CqfBuilderSpec). */
  class KeyedAggregator[B >: Null <: AnyRef : ClassTag](build: KeyedBuild[B])
      extends Aggregator[java.lang.Long, B, Array[Byte]] {
    override def zero: B = build.newBuffer(LongType)
    override def reduce(b: B, key: java.lang.Long): B = {
      if (key != null) build.addLong(b, key)
      b
    }
    override def merge(a: B, b: B): B = build.merge(a, b)
    override def finish(r: B): Array[Byte] = build.result(r)
    override def bufferEncoder: Encoder[B] = Encoders.javaSerialization[B]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Double values into a numeric entry's buffer. */
  class NumericAggregator[B >: Null <: AnyRef : ClassTag](build: NumericBuild[B])
      extends Aggregator[java.lang.Double, B, Array[Byte]] {
    override def zero: B = build.newBuffer(DoubleType)
    override def reduce(b: B, x: java.lang.Double): B = {
      if (x != null) build.addDouble(b, x)
      b
    }
    override def merge(a: B, b: B): B = build.merge(a, b)
    override def finish(r: B): Array[Byte] = build.result(r)
    override def bufferEncoder: Encoder[B] = Encoders.javaSerialization[B]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** The four functions, for both registration paths. */
  private def udafs: Seq[(String, UserDefinedFunction)] = Seq(
    "cqf_agg_udaf" -> functions.udaf(
      new KeyedAggregator(CqfBuild(10, 64, compact = false)), Encoders.LONG),
    "hll_agg_udaf" -> functions.udaf(new KeyedAggregator(HllBuild(12)), Encoders.LONG),
    "td_agg_udaf" -> functions.udaf(new NumericAggregator(TDigestBuild(100.0)), Encoders.DOUBLE),
    "kll_agg_udaf" -> functions.udaf(new NumericAggregator(KllBuild(200)), Encoders.DOUBLE))

  def registerAll(spark: SparkSession): Unit =
    udafs.foreach { case (name, uda) => spark.udf.register(name, uda) }

  /** The same four functions as expression builders, for the declarative
    * `spark.sql.extensions` path (extensions run before any session
    * exists, so `udf.register` is unavailable there): each builder
    * applies the UserDefinedAggregator to the argument columns and
    * unwraps the resulting aggregate expression. */
  def udafBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    import org.apache.spark.sql.graftbridge.GraftBridge
    udafs.map { case (name, uda) =>
      name -> ((args: Seq[Expression]) =>
        GraftBridge.resolvedExpression(uda(args.map(GraftBridge.column): _*)))
    }
  }
}
