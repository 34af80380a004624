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
  * Two aggregates serve every family. [[SketchBuildAgg]] builds sketches
  * from raw values; all it needs to know about a family is one
  * [[SketchBuild]] entry (kernel, parameters, insert, merge, codec).
  * [[SketchMergeAgg]] merges serialized sketches through the
  * [[graft.sketch.SketchKind]] table. They stay two classes because their
  * buffers mean different things: a build buffer is a kernel from the
  * first row on, while a merge buffer is null until a sketch arrives, so a
  * slice that saw no sketch serializes to nothing instead of to a
  * default-shaped kernel that would not merge with the real ones.
  *
  * Every aggregate outputs sketch BYTES (BinaryType) so states compose
  * across queries; the probe expressions in graft.functions read them.
  */

/** How one sketch family builds: its [[SketchKind]], its build parameters
  * (the case-class fields, in SQL argument order — plans print them), its
  * buffer, insert, merge and codec, and the `build_params` string that
  * `BuildSketches` persists. Keyed families insert longs and byte strings
  * ([[KeyedBuild]]); value families insert doubles ([[NumericBuild]]). */
sealed abstract class SketchBuild[B >: Null <: AnyRef](
    val kind: SketchKind[_ >: Null <: AnyRef]) extends Product with Serializable {
  /** Canonical encoding of the build parameters, written into every
    * checkpoint partial so a resume with drifted parameters is rejected
    * before it appends partials that stage 2 could not merge. Existing
    * checkpoints compare against it verbatim. */
  def paramString: String
  /** Whether the family has `<fn>_agg_packed` (pack_ints input). */
  def packable: Boolean = false
  /** An empty buffer for keys of type `keys`: an array's element type,
    * and IntegerType for packed input. */
  def newBuffer(keys: DataType): B
  def merge(a: B, b: B): B
  def result(buffer: B): Array[Byte]
  def read(bytes: Array[Byte]): B
}

sealed abstract class KeyedBuild[B >: Null <: AnyRef](kind: SketchKind[_ >: Null <: AnyRef])
    extends SketchBuild[B](kind) {
  def addLong(buffer: B, key: Long): Unit
  def addBytes(buffer: B, key: Array[Byte]): Unit
}

sealed abstract class NumericBuild[B >: Null <: AnyRef](kind: SketchKind[_ >: Null <: AnyRef])
    extends SketchBuild[B](kind) {
  def addDouble(buffer: B, x: Double): Unit
}

object SketchBuild {
  import SketchKind._

  final case class CqfBuild(quotientBits: Int, hashBits: Int, compact: Boolean)
      extends KeyedBuild[CqfBuilder](CqfKind) {
    override def packable: Boolean = true
    def paramString: String = s"cqf;q=$quotientBits;hb=$hashBits;compact=$compact"
    // integral keys stay invertible (cqf_items returns them); byte-string
    // keys fold lossily into hashes
    def newBuffer(keys: DataType): CqfBuilder = CqfBuilder(quotientBits, hashBits,
      invertible = keys != StringType && keys != BinaryType, compact)
    def addLong(s: CqfBuilder, key: Long): Unit = s.add(key)
    def addBytes(s: CqfBuilder, key: Array[Byte]): Unit = s.addBytes(key)
    def merge(a: CqfBuilder, b: CqfBuilder): CqfBuilder = a.mergeInPlace(b)
    def result(s: CqfBuilder): Array[Byte] = s.result().serialize()
    def read(bytes: Array[Byte]): CqfBuilder = CqfBuilder.deserialize(bytes)
  }

  final case class HllBuild(p: Int) extends KeyedBuild[HllSketch](HllKind) {
    def paramString: String = s"hll;p=$p"
    def newBuffer(keys: DataType): HllSketch = HllSketch(p)
    def addLong(s: HllSketch, key: Long): Unit = s.add(key)
    def addBytes(s: HllSketch, key: Array[Byte]): Unit =
      s.addHash(WangHash.mixBytes(key, HllSketch.Seed))
    def merge(a: HllSketch, b: HllSketch): HllSketch = a.mergeInPlace(b)
    def result(s: HllSketch): Array[Byte] = s.serialize()
    def read(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)
  }

  final case class CmsBuild(depth: Int, width: Int) extends KeyedBuild[CmsBuilder](CmsKind) {
    def paramString: String = s"cms;d=$depth;w=$width"
    def newBuffer(keys: DataType): CmsBuilder = new CmsBuilder(CountMinSketch(depth, width))
    def addLong(s: CmsBuilder, key: Long): Unit = s.add(key)
    def addBytes(s: CmsBuilder, key: Array[Byte]): Unit = s.addBytes(
      WangHash.mixBytes(key, CountMinSketch.Seed1), WangHash.mixBytes(key, CountMinSketch.Seed2))
    def merge(a: CmsBuilder, b: CmsBuilder): CmsBuilder = a.mergeInPlace(b)
    def result(s: CmsBuilder): Array[Byte] = s.result().serialize()
    def read(bytes: Array[Byte]): CmsBuilder = new CmsBuilder(CountMinSketch.deserialize(bytes))
  }

  final case class BloomBuild(numBits: Long, numHashes: Int)
      extends KeyedBuild[BloomBuilder](BloomKind) {
    def paramString: String = s"bloom;bits=$numBits;h=$numHashes"
    def newBuffer(keys: DataType): BloomBuilder = new BloomBuilder(BloomSketch(numBits, numHashes))
    def addLong(s: BloomBuilder, key: Long): Unit = s.add(key)
    def addBytes(s: BloomBuilder, key: Array[Byte]): Unit = s.addBytes(
      WangHash.mixBytes(key, BloomSketch.Seed1), WangHash.mixBytes(key, BloomSketch.Seed2))
    def merge(a: BloomBuilder, b: BloomBuilder): BloomBuilder = a.mergeInPlace(b)
    def result(s: BloomBuilder): Array[Byte] = s.result().serialize()
    def read(bytes: Array[Byte]): BloomBuilder = new BloomBuilder(BloomSketch.deserialize(bytes))
  }

  // kind name `tdigest`, SQL prefix `td`
  final case class TDigestBuild(compression: Double) extends NumericBuild[TDigest](TDigestKind) {
    def paramString: String = s"tdigest;c=$compression"
    def newBuffer(keys: DataType): TDigest = TDigest(compression)
    def addDouble(s: TDigest, x: Double): Unit = s.add(x)
    def merge(a: TDigest, b: TDigest): TDigest = a.mergeInPlace(b)
    def result(s: TDigest): Array[Byte] = s.serialize()
    def read(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
  }

  final case class KllBuild(k: Int) extends NumericBuild[KllSketch](KllKind) {
    def paramString: String = s"kll;k=$k"
    def newBuffer(keys: DataType): KllSketch = KllSketch(k)
    def addDouble(s: KllSketch, x: Double): Unit = s.add(x)
    def merge(a: KllSketch, b: KllSketch): KllSketch = a.mergeInPlace(b)
    def result(s: KllSketch): Array[Byte] = s.serialize()
    def read(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
  }

  /** Heavy hitters (Misra-Gries/SpaceSaving, graft.sketch.FrequentItems):
    * k counters + offset per group, O(1) amortized per row, associative
    * merge — the scale-safe candidate stage for heavy-hitter queries. */
  final case class SsBuild(k: Int) extends KeyedBuild[FrequentItems](SsKind) {
    override def packable: Boolean = true
    def paramString: String = s"ss;k=$k"
    // string keys are known UTF-8 text, so ss_topk may render the stored
    // key bytes as key_str; raw binary keys stay opaque
    def newBuffer(keys: DataType): FrequentItems = {
      val f = FrequentItems(k)
      if (keys == StringType) f.markTextKeys()
      f
    }
    def addLong(s: FrequentItems, key: Long): Unit = s.add(key)
    def addBytes(s: FrequentItems, key: Array[Byte]): Unit = s.addBytes(key)
    def merge(a: FrequentItems, b: FrequentItems): FrequentItems = a.mergeInPlace(b)
    def result(s: FrequentItems): Array[Byte] = s.serialize()
    def read(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  }

  /** Bottom-k distinct sketch: exact distinct + full sample below capacity
    * k, the (k-1)/u_k estimator above it (see [[graft.sketch.KmvSketch]]). */
  final case class KmvBuild(k: Int) extends KeyedBuild[KmvSketch](KmvKind) {
    override def packable: Boolean = true
    def paramString: String = s"kmv;k=$k"
    // as for ss: kmv_sample renders string keys as key_str
    def newBuffer(keys: DataType): KmvSketch = {
      val s = KmvSketch(k)
      if (keys == StringType) s.markTextKeys()
      s
    }
    def addLong(s: KmvSketch, key: Long): Unit = s.add(key)
    def addBytes(s: KmvSketch, key: Array[Byte]): Unit = s.addBytes(key)
    def merge(a: KmvSketch, b: KmvSketch): KmvSketch = a.mergeInPlace(b)
    def result(s: KmvSketch): Array[Byte] = s.serialize()
    def read(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
  }
}

/** `<fn>_agg`, and `<fn>_agg_packed` for packable families, for every
  * [[SketchBuild]] entry.
  *
  * `packed` input is a BinaryType column of little-endian 4-byte ints
  * (the pack_ints layout, see graft.functions.PackIntsLE). It yields the
  * same kernel and the same output bytes as the array<int> form; the
  * binary layout lets scan-bound builds use parquet's vectorized
  * primitive-binary read path instead of row-by-row nested array assembly
  * (BASELINE.md scan-path analysis). */
case class SketchBuildAgg[B >: Null <: AnyRef](
    child: Expression,
    build: SketchBuild[B],
    packed: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0
) extends TypedImperativeAggregate[B] {
  override def prettyName: String =
    if (packed) s"${build.kind.fn}_agg_packed" else s"${build.kind.fn}_agg"
  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  // plans print the SQL arguments: the entry's fields, not the entry
  override protected def stringArgs: Iterator[Any] = Iterator(child) ++
    build.productIterator ++ Iterator(mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): B = build.newBuffer(
    if (packed) IntegerType
    else child.dataType match {
      case ArrayType(et, _) => et
      case t => t
    })

  /** Built once from the child's data type: feeds one non-null input value
    * (scalar, array or packed ints) to the kernel without per-row type
    * dispatch. */
  @transient private lazy val updater: (B, Any) => Unit = build match {
    case e: KeyedBuild[B @unchecked] => if (packed) packedUpdater(e) else keyedUpdater(e)
    case e: NumericBuild[B @unchecked] => numericUpdater(e)
  }

  override def update(buffer: B, input: InternalRow): B = {
    val v = child.eval(input)
    if (v != null) updater(buffer, v)
    buffer
  }
  override def merge(a: B, b: B): B = build.merge(a, b)
  override def eval(buffer: B): Any = build.result(buffer)
  override def serialize(buffer: B): Array[Byte] = build.result(buffer)
  override def deserialize(bytes: Array[Byte]): B = build.read(bytes)

  override def checkInputDataTypes(): TypeCheckResult = {
    val (admitted, wanted) = build match {
      case _ if packed => (child.dataType == BinaryType, "a binary packed-int column")
      case _: KeyedBuild[_] => (child.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType => true
        case ArrayType(ByteType | ShortType | IntegerType | LongType | StringType, _) => true
        case _ => false
      }, "an integral/string column or array thereof")
      case _: NumericBuild[_] => (child.dataType match {
        case _: NumericType | ArrayType(_: NumericType, _) => true
        case _ => false
      }, "a numeric column or array thereof")
    }
    if (admitted) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires $wanted, got ${child.dataType}")
  }

  /** Integral and string scalars, arrays of them, and binary keys. */
  private def keyedUpdater(e: KeyedBuild[B]): (B, Any) => Unit = child.dataType match {
    case ByteType => (s, v) => e.addLong(s, v.asInstanceOf[Byte].toLong)
    case ShortType => (s, v) => e.addLong(s, v.asInstanceOf[Short].toLong)
    case IntegerType => (s, v) => e.addLong(s, v.asInstanceOf[Int].toLong)
    case LongType => (s, v) => e.addLong(s, v.asInstanceOf[Long])
    case StringType => (s, v) => e.addBytes(s, v.asInstanceOf[UTF8String].getBytes)
    case BinaryType => (s, v) => e.addBytes(s, v.asInstanceOf[Array[Byte]])
    case ArrayType(StringType, _) =>
      (s, v) => {
        val a = v.asInstanceOf[ArrayData]
        val n = a.numElements()
        var i = 0
        while (i < n) {
          if (!a.isNullAt(i)) e.addBytes(s, a.getUTF8String(i).getBytes)
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
          if (!a.isNullAt(i)) e.addLong(s, get(a, i))
          i += 1
        }
      }
    case other => throw new IllegalStateException(
      s"$prettyName: unsupported input type $other")
  }

  /** The pack_ints layout: 4-byte little-endian ints, no header. */
  private def packedUpdater(e: KeyedBuild[B]): (B, Any) => Unit = (s, v) => {
    val b = v.asInstanceOf[Array[Byte]]
    require((b.length & 3) == 0,
      s"$prettyName: binary length ${b.length} is not a multiple of 4 " +
      "(truncated or non-pack_ints input)")
    var i = 0
    val n = b.length - 3
    while (i < n) {
      e.addLong(s, ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
        ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)).toLong)
      i += 4
    }
  }

  /** Numeric scalars or arrays of numerics. */
  private def numericUpdater(e: NumericBuild[B]): (B, Any) => Unit = child.dataType match {
    case ByteType => (s, v) => e.addDouble(s, v.asInstanceOf[Byte].toDouble)
    case ShortType => (s, v) => e.addDouble(s, v.asInstanceOf[Short].toDouble)
    case IntegerType => (s, v) => e.addDouble(s, v.asInstanceOf[Int].toDouble)
    case LongType => (s, v) => e.addDouble(s, v.asInstanceOf[Long].toDouble)
    case FloatType => (s, v) => e.addDouble(s, v.asInstanceOf[Float].toDouble)
    case DoubleType => (s, v) => e.addDouble(s, v.asInstanceOf[Double])
    case _: DecimalType => (s, v) => e.addDouble(s, v.asInstanceOf[Decimal].toDouble)
    case at: ArrayType =>
      // shared getter: covers every NumericType the analysis check admits
      // (a local copy was missing DecimalType and crashed at runtime on a
      // type its own analysis check had approved)
      val get = graft.functions.CosineSim.getter(at)
      (s, v) => {
        val a = v.asInstanceOf[ArrayData]
        val n = a.numElements()
        var i = 0
        while (i < n) {
          if (!a.isNullAt(i)) e.addDouble(s, get(a, i))
          i += 1
        }
      }
    case other => throw new IllegalStateException(
      s"$prettyName: unsupported input type $other")
  }

  override def withNewMutableAggBufferOffset(o: Int): SketchBuildAgg[B] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchBuildAgg[B] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchBuildAgg[B] =
    copy(child = c.head)
}

/** `cqf_agg_packed(child, quotientBits, hashBits)` as an expression, for
  * callers that drive the aggregate buffer directly (perfbench's kernel
  * layer). */
object CqfPackedAgg {
  def apply(child: Expression, quotientBits: Int, hashBits: Int): SketchBuildAgg[CqfBuilder] =
    SketchBuildAgg(child, SketchBuild.CqfBuild(quotientBits, hashBits, compact = false),
      packed = true)
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
