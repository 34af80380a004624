package graft.agg

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Catalyst TypedImperativeAggregate layer for the graft sketches.
  *
  * Design (SURVEY.md §3.4): each sketch kernel is the aggregation buffer —
  * the partial-aggregation split Catalyst applies to ObjectHashAggregateExec
  * gives per-partition kernels updated in place (the reference's insert hot
  * path, /root/reference/src/cqf/u64_cqf.rs:194-261), serialized once at
  * shuffle, then kernel-merged on the final side (the reference's sorted
  * merge, /root/reference/src/cqf.rs:218-334). `tokens: array<int>` inputs
  * are consumed element-wise from ArrayData — explode-free, single pass.
  *
  * Every aggregate outputs sketch BYTES (BinaryType) so states compose
  * across queries; the probe expressions in graft.functions read them.
  */
abstract class SketchAggBase[S >: Null <: AnyRef]
    extends TypedImperativeAggregate[S] {

  def child: Expression
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  /** Built once from the child's data type: feeds one non-null input value
    * (scalar or array) to the kernel without per-row type dispatch. */
  @transient protected lazy val updater: (S, Any) => Unit = makeUpdater

  protected def makeUpdater: (S, Any) => Unit

  final override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) updater(buffer, v)
    buffer
  }

  /** Helper for key-style sketches (CQF/HLL/CMS/Bloom): dispatch int-ish,
    * string, and array-of-int-ish child types onto two kernel callbacks. */
  protected final def keyedUpdater(
      insertLong: (S, Long) => Unit,
      insertBytes: (S, Array[Byte]) => Unit): (S, Any) => Unit =
    child.dataType match {
      case ByteType => (s, v) => insertLong(s, v.asInstanceOf[Byte].toLong)
      case ShortType => (s, v) => insertLong(s, v.asInstanceOf[Short].toLong)
      case IntegerType => (s, v) => insertLong(s, v.asInstanceOf[Int].toLong)
      case LongType => (s, v) => insertLong(s, v.asInstanceOf[Long])
      case StringType =>
        (s, v) => insertBytes(s, v.asInstanceOf[UTF8String].getBytes)
      case BinaryType =>
        (s, v) => insertBytes(s, v.asInstanceOf[Array[Byte]])
      case ArrayType(StringType, _) =>
        (s, v) => {
          val a = v.asInstanceOf[ArrayData]
          val n = a.numElements()
          var i = 0
          while (i < n) {
            if (!a.isNullAt(i)) insertBytes(s, a.getUTF8String(i).getBytes)
            i += 1
          }
        }
      case ArrayType(et, _) =>
        val get: (ArrayData, Int) => Long = et match {
          case ByteType => (a, i) => a.getByte(i).toLong
          case ShortType => (a, i) => a.getShort(i).toLong
          case IntegerType => (a, i) => a.getInt(i).toLong
          case LongType => (a, i) => a.getLong(i)
          case other => throw new IllegalStateException(
            s"$prettyName: unsupported array element type $other")
        }
        (s, v) => {
          val a = v.asInstanceOf[ArrayData]
          val n = a.numElements()
          var i = 0
          while (i < n) {
            if (!a.isNullAt(i)) insertLong(s, get(a, i))
            i += 1
          }
        }
      case other => throw new IllegalStateException(
        s"$prettyName: unsupported input type $other")
    }

  /** Helper for value-style sketches (t-digest/KLL): numeric scalars or
    * arrays of numerics. */
  protected final def numericUpdater(add: (S, Double) => Unit): (S, Any) => Unit =
    child.dataType match {
      case ByteType => (s, v) => add(s, v.asInstanceOf[Byte].toDouble)
      case ShortType => (s, v) => add(s, v.asInstanceOf[Short].toDouble)
      case IntegerType => (s, v) => add(s, v.asInstanceOf[Int].toDouble)
      case LongType => (s, v) => add(s, v.asInstanceOf[Long].toDouble)
      case FloatType => (s, v) => add(s, v.asInstanceOf[Float].toDouble)
      case DoubleType => (s, v) => add(s, v.asInstanceOf[Double])
      case _: DecimalType => (s, v) => add(s, v.asInstanceOf[org.apache.spark.sql.types.Decimal].toDouble)
      case at: ArrayType =>
        // shared getter: covers every NumericType checkNumericInput
        // admits (a local copy was missing DecimalType and crashed at
        // runtime on a type its own analysis check had approved)
        val get = graft.functions.CosineSim.getter(at)
        (s, v) => {
          val a = v.asInstanceOf[ArrayData]
          val n = a.numElements()
          var i = 0
          while (i < n) {
            if (!a.isNullAt(i)) add(s, get(a, i))
            i += 1
          }
        }
      case other => throw new IllegalStateException(
        s"$prettyName: unsupported input type $other")
    }

  protected final def checkKeyedInput: TypeCheckResult = child.dataType match {
    case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(ByteType | ShortType | IntegerType | LongType | StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an integral/string column or array thereof, got $other")
  }

  protected final def checkNumericInput: TypeCheckResult = child.dataType match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case ArrayType(_: NumericType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric column or array thereof, got $other")
  }
}

/** `<fn>_merge_agg` for every [[SketchKind]]: aggregates a BinaryType
  * column of serialized sketches by kernel merge — the second stage of
  * salted/two-level builds and of checkpoint resume.
  *
  * The aggregation buffer starts as `null` ("no sketch seen yet") and a
  * null buffer serializes as a ZERO-LENGTH byte array, which deserializes
  * back to null and is ignored by merge. A never-updated partition slice
  * therefore contributes nothing — it must NOT serialize a default-shaped
  * kernel, because that placeholder would crash the final merge whenever
  * the real sketches carry non-default parameters (precision, width, k,
  * hash bits...). Only `eval` over a whole-null group materializes
  * `kind.empty()`, so the output column stays non-null. */
case class SketchMergeAgg[S >: Null <: AnyRef](
    child: Expression,
    kind: SketchKind[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[S] {
  override def prettyName: String = s"${kind.fn}_merge_agg"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  // the name already says the kind, so plans print only the SQL arguments
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): S = null
  override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v == null) buffer
    else {
      val bytes = v.asInstanceOf[Array[Byte]]
      if (bytes.isEmpty) buffer
      else if (buffer == null) kind.read(bytes)
      else kind.mergeInPlace(buffer, kind.read(bytes))
    }
  }
  override def merge(a: S, b: S): S =
    if (a == null) b else if (b == null) a else kind.mergeInPlace(a, b)
  override def eval(buffer: S): Any =
    kind.write(if (buffer == null) kind.empty() else buffer)
  override def serialize(buffer: S): Array[Byte] =
    if (buffer == null) Array.emptyByteArray else kind.write(buffer)
  override def deserialize(bytes: Array[Byte]): S =
    if (bytes.isEmpty) null else kind.read(bytes)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch column, got $other")
  }
  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg[S] =
    copy(child = c.head)
}

// ---------------------------------------------------------------- CQF

case class CqfAgg(
    child: Expression,
    quotientBits: Int = 10,
    hashBits: Int = 64,
    compact: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[CqfBuilder] {
  override def prettyName: String = "cqf_agg"
  override def createAggregationBuffer(): CqfBuilder = {
    val invertible = child.dataType match {
      case StringType | BinaryType | ArrayType(StringType, _) => false
      case _ => true
    }
    CqfBuilder(quotientBits, hashBits, invertible, compact)
  }
  protected def makeUpdater: (CqfBuilder, Any) => Unit =
    keyedUpdater((s, k) => s.add(k), (s, b) => s.addBytes(b))
  override def merge(a: CqfBuilder, b: CqfBuilder): CqfBuilder = a.mergeInPlace(b)
  override def eval(buffer: CqfBuilder): Any = buffer.result().serialize()
  override def serialize(buffer: CqfBuilder): Array[Byte] = buffer.result().serialize()
  override def deserialize(bytes: Array[Byte]): CqfBuilder = CqfBuilder.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): CqfAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CqfAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CqfAgg =
    copy(child = c.head)
}

/** Little-endian packed-int walk shared by the *_agg_packed aggregates
  * (the pack_ints layout: 4-byte LE ints, no header). Function1[Long,
  * Unit] is @specialized, so the per-element call does not box. */
private[agg] object PackedInts {
  @inline def foreach(name: String, b: Array[Byte])(f: Long => Unit): Unit = {
    require((b.length & 3) == 0,
      s"$name: binary length ${b.length} is not a multiple of 4 " +
      "(truncated or non-pack_ints input)")
    var i = 0
    val n = b.length - 3
    while (i < n) {
      val t = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)
      f(t.toLong)
      i += 4
    }
  }
}

/** CQF aggregate over PACKED tokens: a BinaryType column holding
  * little-endian 4-byte ints (see graft.functions.PackIntsLE). Same
  * kernel, same output bytes as CqfAgg over the equivalent array<int> —
  * the binary layout exists so scan-bound builds can use parquet's
  * vectorized primitive-binary read path instead of row-by-row nested
  * array assembly (BASELINE.md scan-path analysis). */
case class CqfPackedAgg(
    child: Expression,
    quotientBits: Int = 10,
    hashBits: Int = 64,
    compact: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[CqfBuilder] {
  override def prettyName: String = "cqf_agg_packed"
  override def createAggregationBuffer(): CqfBuilder =
    CqfBuilder(quotientBits, hashBits, invertible = true, compact)
  protected def makeUpdater: (CqfBuilder, Any) => Unit = (s, v) =>
    PackedInts.foreach("cqf_agg_packed", v.asInstanceOf[Array[Byte]])(s.add)
  override def merge(a: CqfBuilder, b: CqfBuilder): CqfBuilder = a.mergeInPlace(b)
  override def eval(buffer: CqfBuilder): Any = buffer.result().serialize()
  override def serialize(buffer: CqfBuilder): Array[Byte] = buffer.result().serialize()
  override def deserialize(bytes: Array[Byte]): CqfBuilder = CqfBuilder.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cqf_agg_packed requires a binary packed-int column, got $other")
  }
  override def withNewMutableAggBufferOffset(o: Int): CqfPackedAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CqfPackedAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CqfPackedAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- HLL

case class HllAgg(
    child: Expression,
    p: Int = 12,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[HllSketch] {
  override def prettyName: String = "hll_agg"
  override def createAggregationBuffer(): HllSketch = HllSketch(p)
  protected def makeUpdater: (HllSketch, Any) => Unit =
    keyedUpdater((s, k) => s.add(k),
      (s, b) => s.addHash(WangHash.mixBytes(b, HllSketch.Seed)))
  override def merge(a: HllSketch, b: HllSketch): HllSketch = a.mergeInPlace(b)
  override def eval(buffer: HllSketch): Any = buffer.serialize()
  override def serialize(buffer: HllSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): HllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- CMS

case class CmsAgg(
    child: Expression,
    depth: Int = 5,
    width: Int = 2048,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[CmsBuilder] {
  override def prettyName: String = "cms_agg"
  override def createAggregationBuffer(): CmsBuilder =
    new CmsBuilder(CountMinSketch(depth, width))
  protected def makeUpdater: (CmsBuilder, Any) => Unit =
    keyedUpdater((s, k) => s.add(k),
      (s, b) => s.addBytes(WangHash.mixBytes(b, CountMinSketch.Seed1),
        WangHash.mixBytes(b, CountMinSketch.Seed2)))
  override def merge(a: CmsBuilder, b: CmsBuilder): CmsBuilder = a.mergeInPlace(b)
  override def eval(buffer: CmsBuilder): Any = buffer.result().serialize()
  override def serialize(buffer: CmsBuilder): Array[Byte] = buffer.result().serialize()
  override def deserialize(bytes: Array[Byte]): CmsBuilder =
    new CmsBuilder(CountMinSketch.deserialize(bytes))
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): CmsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): CmsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- Bloom

case class BloomAgg(
    child: Expression,
    numBits: Long = 1L << 16,
    numHashes: Int = 5,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[BloomBuilder] {
  override def prettyName: String = "bloom_agg"
  override def createAggregationBuffer(): BloomBuilder =
    new BloomBuilder(BloomSketch(numBits, numHashes))
  protected def makeUpdater: (BloomBuilder, Any) => Unit =
    keyedUpdater((s, k) => s.add(k),
      (s, b) => s.addBytes(WangHash.mixBytes(b, BloomSketch.Seed1),
        WangHash.mixBytes(b, BloomSketch.Seed2)))
  override def merge(a: BloomBuilder, b: BloomBuilder): BloomBuilder = a.mergeInPlace(b)
  override def eval(buffer: BloomBuilder): Any = buffer.result().serialize()
  override def serialize(buffer: BloomBuilder): Array[Byte] = buffer.result().serialize()
  override def deserialize(bytes: Array[Byte]): BloomBuilder =
    new BloomBuilder(BloomSketch.deserialize(bytes))
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomAgg =
    copy(child = c.head)
}

// ------------------------------------------------- frequent items (ss)

/** Heavy-hitters aggregate (Misra-Gries/SpaceSaving, graft.sketch
  * .FrequentItems): k counters + offset per group, O(1) amortized per
  * row, associative merge — the scale-safe candidate stage for
  * heavy-hitter queries (no all-distinct-keys scan). */
case class SsAgg(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[FrequentItems] {
  override def prettyName: String = "ss_agg"
  override def createAggregationBuffer(): FrequentItems = {
    val f = FrequentItems(k)
    // string-typed inputs are known UTF-8 text, so ss_topk may render
    // the stored key bytes as key_str; raw binary keys stay opaque
    child.dataType match {
      case StringType | ArrayType(StringType, _) => f.markTextKeys()
      case _ =>
    }
    f
  }
  protected def makeUpdater: (FrequentItems, Any) => Unit =
    keyedUpdater((s, key) => s.add(key), (s, b) => s.addBytes(b))
  override def merge(a: FrequentItems, b: FrequentItems): FrequentItems = a.mergeInPlace(b)
  override def eval(buffer: FrequentItems): Any = buffer.serialize()
  override def serialize(buffer: FrequentItems): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): SsAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SsAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SsAgg =
    copy(child = c.head)
}

/** Frequent-items aggregate over PACKED tokens (pack_ints layout) —
  * top-k vocabulary over the production packed corpus in one vectorized
  * scan, byte-identical to SsAgg over the equivalent array<int>
  * (spec-asserted), same rationale as [[CqfPackedAgg]]. */
case class SsPackedAgg(
    child: Expression,
    k: Int = 256,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[FrequentItems] {
  override def prettyName: String = "ss_agg_packed"
  override def createAggregationBuffer(): FrequentItems = FrequentItems(k)
  protected def makeUpdater: (FrequentItems, Any) => Unit = (s, v) =>
    PackedInts.foreach("ss_agg_packed", v.asInstanceOf[Array[Byte]])(t => s.add(t))
  override def merge(a: FrequentItems, b: FrequentItems): FrequentItems = a.mergeInPlace(b)
  override def eval(buffer: FrequentItems): Any = buffer.serialize()
  override def serialize(buffer: FrequentItems): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ss_agg_packed requires a binary packed-int column, got $other")
  }
  override def withNewMutableAggBufferOffset(o: Int): SsPackedAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SsPackedAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SsPackedAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- KMV

/** Bottom-k distinct sketch aggregate: exact distinct + full sample below
  * capacity k, the (k-1)/u_k estimator above it, deterministic
  * hash-order sampling and set-resemblance either way (see
  * [[graft.sketch.KmvSketch]]). */
case class KmvAgg(
    child: Expression,
    k: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[KmvSketch] {
  override def prettyName: String = "kmv_agg"
  override def createAggregationBuffer(): KmvSketch = {
    val s = KmvSketch(k)
    // string-typed inputs are known UTF-8 text, so kmv_sample may render
    // the stored key bytes as key_str; raw binary keys stay opaque
    child.dataType match {
      case StringType | ArrayType(StringType, _) => s.markTextKeys()
      case _ =>
    }
    s
  }
  protected def makeUpdater: (KmvSketch, Any) => Unit =
    keyedUpdater((s, key) => s.add(key), (s, b) => s.addBytes(b))
  override def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.mergeInPlace(b)
  override def eval(buffer: KmvSketch): Any = buffer.serialize()
  override def serialize(buffer: KmvSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkKeyedInput
  override def withNewMutableAggBufferOffset(o: Int): KmvAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvAgg =
    copy(child = c.head)
}

/** KMV aggregate over PACKED tokens (pack_ints layout) — distinct-token
  * audit over the production packed corpus in one vectorized scan,
  * byte-identical to KmvAgg over the equivalent array<int>
  * (spec-asserted), same rationale as [[CqfPackedAgg]]. */
case class KmvPackedAgg(
    child: Expression,
    k: Int = 1024,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[KmvSketch] {
  override def prettyName: String = "kmv_agg_packed"
  override def createAggregationBuffer(): KmvSketch = KmvSketch(k)
  protected def makeUpdater: (KmvSketch, Any) => Unit = (s, v) =>
    PackedInts.foreach("kmv_agg_packed", v.asInstanceOf[Array[Byte]])(t => s.add(t))
  override def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.mergeInPlace(b)
  override def eval(buffer: KmvSketch): Any = buffer.serialize()
  override def serialize(buffer: KmvSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"kmv_agg_packed requires a binary packed-int column, got $other")
  }
  override def withNewMutableAggBufferOffset(o: Int): KmvPackedAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KmvPackedAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KmvPackedAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- t-digest

case class TDigestAgg(
    child: Expression,
    compression: Double = 100.0,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[TDigest] {
  override def prettyName: String = "td_agg"
  override def createAggregationBuffer(): TDigest = TDigest(compression)
  protected def makeUpdater: (TDigest, Any) => Unit = numericUpdater((s, x) => s.add(x))
  override def merge(a: TDigest, b: TDigest): TDigest = a.mergeInPlace(b)
  override def eval(buffer: TDigest): Any = buffer.serialize()
  override def serialize(buffer: TDigest): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkNumericInput
  override def withNewMutableAggBufferOffset(o: Int): TDigestAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TDigestAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestAgg =
    copy(child = c.head)
}

// ---------------------------------------------------------------- KLL

case class KllAgg(
    child: Expression,
    k: Int = 200,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends SketchAggBase[KllSketch] {
  override def prettyName: String = "kll_agg"
  override def createAggregationBuffer(): KllSketch = KllSketch(k)
  protected def makeUpdater: (KllSketch, Any) => Unit = numericUpdater((s, x) => s.add(x))
  override def merge(a: KllSketch, b: KllSketch): KllSketch = a.mergeInPlace(b)
  override def eval(buffer: KllSketch): Any = buffer.serialize()
  override def serialize(buffer: KllSketch): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
  override def checkInputDataTypes(): TypeCheckResult = checkNumericInput
  override def withNewMutableAggBufferOffset(o: Int): KllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllAgg =
    copy(child = c.head)
}

