package graft.functions

import graft.sketch._
import graft.sketch.SketchKind._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar probe expressions over serialized sketch bytes — the query
  * surface of every family: counts, membership, stats, quantiles and set
  * ops (for CQF the reference's query/stat entry points,
  * `src/cqf/u64_cqf.rs:263-359`, and set ops over the zipped iterator,
  * `src/cqf.rs:499-549`).
  *
  * Most probes are rows of one table, [[SketchProbe.all]]. An entry holds
  * the SQL name, the [[SketchKind]] whose `read` parses the bytes, the
  * result type and the function itself, in one of four shapes, each
  * served by one generic expression:
  *  - [[Readout]] → [[SketchReadout]]`(sketch)`: the 12 stats readouts,
  *    cqf_distinct … kmv_is_exact;
  *  - [[KeyedProbe]] → [[SketchKeyedProbe]]`(sketch, key)`: cqf_count,
  *    cqf_contains, cms_estimate, ss_estimate, bloom_might_contain, over
  *    integral, string or binary keys, with direct whole-stage codegen;
  *  - [[NumericProbe]] → [[SketchNumericProbe]]`(sketch, x)`: td_quantile,
  *    td_cdf, kll_quantile, kll_rank, over any numeric argument;
  *  - [[SetOp]] → [[SketchSetOp]]`(a, b)`: two sketches of one kind in,
  *    sketch bytes out — `<fn>_union` for every kind but cqf, cqf_intersect
  *    and cqf_diff.
  * `GraftFunctions.builders` registers every entry under its name. Plans
  * and column names print the SQL arguments only, never the entry.
  *
  * The rest are expressions of their own, because they take a literal
  * parameter or return rows, arrays or generator output (cqf_union's
  * combiner mode, cqf_set_count, cqf_items, cqf_zip_items, ss_topk,
  * kmv_sample, kmv_jaccard), read any kind (sketch_meta), convert the
  * reference layout, or hash keys (wang_hash, wang_unhash).
  *
  * Every parse goes through a [[ParseSlot]], which memoizes the last
  * parsed sketch: the dominant pattern probes one (or a few) sketch rows
  * with many keys, so the parse cost amortizes to zero.
  */

/** One operand's parse cache: the last bytes seen and the sketch `kind`
  * parsed from them. Identity fast path, then exact full-content
  * equality. Row accessors (UnsafeRow.getBinary) copy the array per row,
  * so identity alone never hits under joins and every probe row would
  * re-deserialize the sketch. The memcmp is the same cost class as that
  * unavoidable per-row copy; sampled fingerprints are NOT safe here —
  * sparse sketches are mostly zero bytes and collide across groups
  * (caught at sf0.001). For row-heavy prefilters prefer the
  * scalar-subquery pattern (sketch as a plan-level literal), which takes
  * the `eq` fast path.
  *
  * Two-sketch expressions keep one slot per operand, so a varying
  * per-group sketch combined with a broadcast reference sketch parses each
  * distinct image once. Callers must NOT mutate the cached sketch: combine
  * through non-mutating surfaces (`SketchKind.union`, Cqf.merge / mergeBy
  * / intersect / diff). */
private[functions] final class ParseSlot[S >: Null <: AnyRef](kind: SketchKind[S]) {
  private var lastBytes: Array[Byte] = _
  private var last: S = _
  /** Test hook: distinct deserializations observed by this slot. */
  var parses: Long = 0L

  def apply(bytes: Array[Byte]): S = {
    if (bytes eq lastBytes) return last
    if (last == null || !java.util.Arrays.equals(lastBytes, bytes)) {
      last = kind.read(bytes)
      parses += 1L
    }
    lastBytes = bytes
    last
  }
}

/** One probe function: its SQL name, the kind it reads, its result type,
  * and how it builds its expression from the SQL arguments. */
sealed abstract class SketchProbe[S >: Null <: AnyRef](
    val name: String, val kind: SketchKind[S], val dataType: DataType) extends Serializable {
  def expression(args: Seq[Expression]): Expression
  // expressions carry their entry to executors; it comes back as the
  // table's own instance, so plans compare equal on executors too
  protected def readResolve(): AnyRef = SketchProbe.named(name)
  override def toString: String = name
}

/** A stats readout of one sketch. */
final class Readout[S >: Null <: AnyRef](name: String, kind: SketchKind[S], dataType: DataType)(
    val f: S => Any) extends SketchProbe[S](name, kind, dataType) {
  def expression(args: Seq[Expression]): Expression = SketchReadout(args.head, this)
}

/** A (sketch, key) probe. Long keys and byte keys (string or binary) each
  * have their method; both return a long, which a BooleanType probe
  * returns as 0 or 1. */
sealed abstract class KeyedProbe[S >: Null <: AnyRef](name: String, kind: SketchKind[S],
    dataType: DataType) extends SketchProbe[S](name, kind, dataType) {
  def long(s: S, key: Long): Long
  def bytes(s: S, key: Array[Byte]): Long
  def expression(args: Seq[Expression]): Expression = SketchKeyedProbe(args(0), args(1), this)
}

/** A (sketch, numeric argument) probe; the argument arrives as a Double. */
final class NumericProbe[S >: Null <: AnyRef](name: String, kind: SketchKind[S], dataType: DataType)(
    val f: (S, Double) => Any) extends SketchProbe[S](name, kind, dataType) {
  def expression(args: Seq[Expression]): Expression = SketchNumericProbe(args(0), args(1), this)
}

/** A combine of two sketches of one kind into a fresh one; `f` must leave
  * both operands unchanged (they are cached parses). */
final class SetOp[S >: Null <: AnyRef](name: String, kind: SketchKind[S])(val f: (S, S) => S)
    extends SketchProbe[S](name, kind, BinaryType) {
  def expression(args: Seq[Expression]): Expression = SketchSetOp(args(0), args(1), this)
}

object SketchProbe {
  private val cqfStatsSchema: StructType = new StructType()
    .add("quotient_bits", IntegerType).add("hash_bits", IntegerType)
    .add("occupied_slots", LongType).add("num_slots", LongType)
    .add("max_occupied_slots", LongType).add("size_bytes", LongType)
    .add("distinct_keys", LongType).add("total_count", LongType)
    .add("invertible", BooleanType)

  private def union[S >: Null <: AnyRef](k: SketchKind[S]): SetOp[S] =
    new SetOp(s"${k.fn}_union", k)(k.union)

  val all: Seq[SketchProbe[_ >: Null <: AnyRef]] = Seq[SketchProbe[_ >: Null <: AnyRef]](
    new Readout("cqf_distinct", CqfKind, LongType)(_.distinctCount),
    new Readout("cqf_total", CqfKind, LongType)(_.totalCount),
    new Readout("cqf_stats", CqfKind, cqfStatsSchema)(c => InternalRow(c.quotientBits,
      c.hashBits, c.occupiedSlots, c.numSlots, c.maxOccupiedSlots, c.sizeBytes,
      c.distinctCount, c.totalCount, c.invertible)),
    new Readout("hll_estimate", HllKind, LongType)(_.cardinality),
    new Readout("cms_total", CmsKind, LongType)(_.total),
    new Readout("kll_n", KllKind, LongType)(_.n),
    new Readout("bloom_fpp", BloomKind, DoubleType)(_.expectedFpp),
    new Readout("ss_total", SsKind, LongType)(_.total),
    // the global error offset: max undercount of any counter, max true
    // count of any absent key; bounded by 2*total/k. In-query bound checks
    // assert `ss_offset(sk) < threshold` to prove candidate completeness
    new Readout("ss_offset", SsKind, LongType)(_.offset),
    // exact below capacity, the (k-1)/u_k estimator at capacity
    new Readout("kmv_distinct", KmvKind, LongType)(_.estimateLong),
    // retained entries: the exact distinct count while kmv_is_exact
    new Readout("kmv_size", KmvKind, LongType)(_.size.toLong),
    // true while the sketch never evicted, so its answers are exact
    new Readout("kmv_is_exact", KmvKind, BooleanType)(_.isExact),

    new KeyedProbe[Cqf]("cqf_count", CqfKind, LongType) {
      def long(c: Cqf, key: Long): Long = c.count(key)
      def bytes(c: Cqf, key: Array[Byte]): Long = c.countBytes(key)
    },
    new KeyedProbe[Cqf]("cqf_contains", CqfKind, BooleanType) {
      def long(c: Cqf, key: Long): Long = c.count(key)
      def bytes(c: Cqf, key: Array[Byte]): Long = c.countBytes(key)
    },
    new KeyedProbe[CountMinSketch]("cms_estimate", CmsKind, LongType) {
      def long(c: CountMinSketch, key: Long): Long = c.estimate(key)
      def bytes(c: CountMinSketch, key: Array[Byte]): Long = c.estimateHash(
        WangHash.mixBytes(key, CountMinSketch.Seed1), WangHash.mixBytes(key, CountMinSketch.Seed2))
    },
    // the SpaceSaving upper bound: count+offset when the key is monitored,
    // offset when not — never an underestimate
    new KeyedProbe[FrequentItems]("ss_estimate", SsKind, LongType) {
      def long(f: FrequentItems, key: Long): Long = f.estimate(key)
      def bytes(f: FrequentItems, key: Array[Byte]): Long = f.estimateBytes(key)
    },
    new KeyedProbe[BloomSketch]("bloom_might_contain", BloomKind, BooleanType) {
      def long(b: BloomSketch, key: Long): Long = if (b.mightContain(key)) 1L else 0L
      def bytes(b: BloomSketch, key: Array[Byte]): Long =
        if (b.mightContainHash(WangHash.mixBytes(key, BloomSketch.Seed1),
          WangHash.mixBytes(key, BloomSketch.Seed2))) 1L else 0L
    },

    new NumericProbe("td_quantile", TDigestKind, DoubleType)(_.quantile(_)),
    new NumericProbe("td_cdf", TDigestKind, DoubleType)(_.cdf(_)),
    new NumericProbe("kll_quantile", KllKind, DoubleType)(_.quantile(_)),
    new NumericProbe("kll_rank", KllKind, LongType)(_.rank(_)),

    new SetOp("cqf_intersect", CqfKind)(_.intersect(_)),
    new SetOp("cqf_diff", CqfKind)(_.diff(_))
  ) ++ SketchKind.all.filterNot(_ == CqfKind).map(union(_))

  private lazy val byName: Map[String, SketchProbe[_ >: Null <: AnyRef]] =
    all.map(p => p.name -> p).toMap

  def named(name: String): SketchProbe[_ >: Null <: AnyRef] = byName(name)
}

/** Analysis-time guard for probes whose every child is a serialized
  * sketch column: non-binary input must fail the query at analysis, not
  * as a per-row ClassCastException (the same rule the keyed and numeric
  * probes state for their sketch argument). */
private[functions] trait SketchBytesInput { self: Expression =>
  override def checkInputDataTypes(): TypeCheckResult =
    self.children.find(_.dataType != BinaryType) match {
      case Some(c) => TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got ${c.dataType}")
      case None => TypeCheckSuccess
    }
}

/** Whole-stage codegen for (sketch, sketch) binary ops: the generated code
  * calls `compute(byte[], byte[])` directly — no CodegenFallback
  * InternalRow boxing when the op runs down a row-heavy column. Both
  * operands must be binary AT ANALYSIS — unchecked, a non-binary column
  * breaks janino compilation (an int slot into compute(byte[], byte[])). */
private[functions] trait BinaryBytesCodegen { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType || right.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires two binary sketch columns, " +
        s"got (${left.dataType}, ${right.dataType})")
    else TypeCheckSuccess
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte]
  // NOTE: a zero-length image deliberately fails at the kernel parse
  // (truncated-image validation), with no "empty is identity" shortcut:
  // identity would be UNION semantics only — cqf_intersect/cqf_diff and
  // the non-sum cqf_union combiners would silently return the wrong
  // sketch for an empty operand. No internal path produces the empty
  // image (merge-aggs materialize a real default-parameter kernel,
  // which the stateless-adopt merge rule composes safely).
  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("expr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }
}

private[functions] object KeyConv {
  /** Build a converter from a key expression's type to the canonical Long
    * key, or null-marker for byte-keys. */
  def toLong(dt: DataType): Any => Long = dt match {
    case ByteType => v => v.asInstanceOf[Byte].toLong
    case ShortType => v => v.asInstanceOf[Short].toLong
    case IntegerType => v => v.asInstanceOf[Int].toLong
    case LongType => v => v.asInstanceOf[Long]
    case other => throw new IllegalArgumentException(s"unsupported key type $other")
  }
  def isBytesKey(dt: DataType): Boolean = dt == StringType || dt == BinaryType
  def toBytes(v: Any, dt: DataType): Array[Byte] = dt match {
    case StringType => v.asInstanceOf[UTF8String].getBytes
    case BinaryType => v.asInstanceOf[Array[Byte]]
    case other => throw new IllegalArgumentException(s"unsupported key type $other")
  }
}

// ------------------------------------------------- the four probe shapes

case class SketchReadout[S >: Null <: AnyRef](child: Expression, probe: Readout[S])
    extends UnaryExpression with CodegenFallback with SketchBytesInput {
  override def prettyName: String = probe.name
  override def dataType: DataType = probe.dataType
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  @transient private lazy val sketch = new ParseSlot(probe.kind)
  override def nullSafeEval(sk: Any): Any = probe.f(sketch(sk.asInstanceOf[Array[Byte]]))
  override protected def withNewChildInternal(c: Expression): SketchReadout[S] = copy(child = c)
}

/** Whole-stage codegen for (sketchBytes, key) probes: the generated code
  * calls the typed evalLong/evalUtf8/evalBytes helper directly — no
  * InternalRow boxing per row, which matters when the probe is a row-level
  * prefilter over a large scan (e.g. WHERE bloom_might_contain(...)). */
case class SketchKeyedProbe[S >: Null <: AnyRef](left: Expression, right: Expression,
    probe: KeyedProbe[S]) extends BinaryExpression {
  override def prettyName: String = probe.name
  override def dataType: DataType = probe.dataType
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  // bad key types must fail the query at analysis — unchecked they break
  // janino compilation (double arg into a long helper) or throw per-row
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${left.dataType}")
    else right.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType =>
        TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"$prettyName: key must be integral or string, got $other")
    }
  @transient private lazy val sketch = new ParseSlot(probe.kind)
  /** Converter resolved once, not re-pattern-matched per interpreted row. */
  @transient private lazy val longKey: Any => Long = KeyConv.toLong(right.dataType)

  def evalLong(sk: Array[Byte], key: Long): Long = probe.long(sketch(sk), key)
  def evalUtf8(sk: Array[Byte], key: UTF8String): Long = probe.bytes(sketch(sk), key.getBytes)
  def evalBytes(sk: Array[Byte], key: Array[Byte]): Long = probe.bytes(sketch(sk), key)

  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    val v = right.dataType match {
      case BinaryType => evalBytes(bytes, key.asInstanceOf[Array[Byte]])
      case StringType => evalUtf8(bytes, key.asInstanceOf[UTF8String])
      case _ => evalLong(bytes, longKey(key))
    }
    if (dataType == BooleanType) v != 0L else v
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("probe", this, getClass.getName)
    val helper = right.dataType match {
      case BinaryType => "evalBytes"
      case StringType => "evalUtf8"
      case _ => "evalLong"
    }
    val asBoolean = if (dataType == BooleanType) " != 0L" else ""
    nullSafeCodeGen(ctx, ev, (sk, key) =>
      s"${ev.value} = $ref.$helper($sk, $key)$asBoolean;")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchKeyedProbe[S] =
    copy(left = l, right = r)
}

/** (sketchBytes, numeric) probes: the numeric argument accepts ANY
  * numeric type and converts once to Double — SQL literals do NOT arrive
  * as DoubleType (`td_quantile(td, 0.5)` parses 0.5 as DECIMAL(1,1),
  * `kll_rank(sk, 100)` as INT), so a bare asInstanceOf[Double] would pass
  * analysis and then ClassCastException on every row. */
case class SketchNumericProbe[S >: Null <: AnyRef](left: Expression, right: Expression,
    probe: NumericProbe[S]) extends BinaryExpression with CodegenFallback {
  override def prettyName: String = probe.name
  override def dataType: DataType = probe.dataType
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${left.dataType}")
    else right.dataType match {
      case _: NumericType => TypeCheckSuccess
      case other => TypeCheckFailure(s"$prettyName: argument must be numeric, got $other")
    }
  @transient private lazy val sketch = new ParseSlot(probe.kind)
  /** Converter resolved once, not re-pattern-matched per row. */
  @transient private lazy val argToDouble: Any => Double = right.dataType match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case other => throw new IllegalArgumentException(s"unsupported numeric type $other")
  }
  override def nullSafeEval(sk: Any, x: Any): Any =
    probe.f(sketch(sk.asInstanceOf[Array[Byte]]), argToDouble(x))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchNumericProbe[S] =
    copy(left = l, right = r)
}

case class SketchSetOp[S >: Null <: AnyRef](left: Expression, right: Expression, op: SetOp[S])
    extends BinaryExpression with BinaryBytesCodegen {
  override def prettyName: String = op.name
  override def dataType: DataType = BinaryType
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  @transient private lazy val lhs = new ParseSlot(op.kind)
  @transient private lazy val rhs = new ParseSlot(op.kind)
  /** Test hook: distinct deserializations observed by both operands. */
  private[graft] def parses: Long = lhs.parses + rhs.parses
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] = op.kind.write(op.f(lhs(a), rhs(b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchSetOp[S] =
    copy(left = l, right = r)
}

// ------------------------------------------------------------------ CQF

/** Kind-agnostic sketch-state metrics over ANY graft sketch column —
  * dispatches on the serialized magic header (see [[SketchMeta]] for
  * the per-kind field semantics). The monitoring surface for
  * checkpointed builds: per-partial load factor, item counts, and the
  * published error bound at the current state. No parse cache: metadata
  * probes run once per sketch row, and a mixed-kind column would defeat
  * a single-slot cache anyway. */
case class SketchMetaExpr(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchBytesInput {
  override def prettyName: String = "sketch_meta"
  override def dataType: DataType = SketchMetaExpr.schema
  override def nullSafeEval(sk: Any): Any = {
    val m = SketchMeta.of(sk.asInstanceOf[Array[Byte]])
    InternalRow(UTF8String.fromString(m.kind), m.sizeBytes, m.n, m.distinct,
      m.load, m.param, m.errBound)
  }
  override protected def withNewChildInternal(c: Expression): SketchMetaExpr =
    copy(child = c)
}
object SketchMetaExpr {
  val schema: StructType = new StructType()
    .add("kind", StringType).add("size_bytes", LongType)
    .add("n", LongType).add("distinct", LongType)
    .add("load", DoubleType).add("param", LongType)
    .add("err_bound", DoubleType)
}

/** Per-key combine of two CQFs under a NAMED combiner — the SQL surface
  * of the reference's closure-taking merge_by
  * (/root/reference/src/cqf.rs:202-213). Built-in modes: 'sum' (kernel
  * merge fast path), 'max', 'min', 'satsub' (saturating subtract),
  * 'replace' (right-hand count wins where present), 'absdiff'. User
  * combiners register via [[CqfUnion.registerCombiner]]; the expression
  * ships only the NAME, so a user combiner must be registered on every
  * JVM (e.g. from a static initializer in the application jar) — exactly
  * the deployment rule for any UDF body. Combined counts <= 0 drop the
  * key (mergeBy contract). The Scala `Cqf.mergeBy(op)` remains the
  * arbitrary-closure parity surface. */
case class CqfUnion(left: Expression, right: Expression, mode: String = "sum")
    extends BinaryExpression with BinaryBytesCodegen {
  override def prettyName: String = "cqf_union"
  override def dataType: DataType = BinaryType
  // invalid mode literals fail the query at analysis, not on the first row
  override def checkInputDataTypes(): TypeCheckResult =
    if (!CqfUnion.knownMode(mode))
      TypeCheckFailure(
        s"cqf_union mode must be 'sum', a built-in combiner " +
        s"(${CqfUnion.builtinNames.mkString("'", "', '", "'")}), or a " +
        s"registered combiner name, got '$mode'")
    else super.checkInputDataTypes()
  @transient private lazy val lhs = new ParseSlot(CqfKind)
  @transient private lazy val rhs = new ParseSlot(CqfKind)
  @transient private lazy val op: (Long, Long) => Long =
    if (mode == "sum") null // fast path: kernel merge
    else CqfUnion.combiner(mode)
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = lhs(a)
    val y = rhs(b)
    // Cqf.merge / mergeBy build a fresh result — cached operands untouched
    (if (op == null) Cqf.merge(x, y) else Cqf.mergeBy(x, y, op)).serialize()
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfUnion =
    copy(left = l, right = r)
}
object CqfUnion {
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long) => Long]()
  // built-ins live in the class's static init, so every executor JVM that
  // loads the jar resolves them without any runtime registration call
  registry.put("max", (x: Long, y: Long) => math.max(x, y))
  registry.put("min", (x: Long, y: Long) => math.min(x, y))
  registry.put("satsub", (x: Long, y: Long) => math.max(x - y, 0L))
  registry.put("replace", (x: Long, y: Long) => if (y > 0L) y else x)
  registry.put("absdiff", (x: Long, y: Long) => math.abs(x - y))
  val builtinNames: Seq[String] = Seq("max", "min", "satsub", "replace", "absdiff")

  /** Register a user combiner for SQL use: `cqf_union(a, b, 'name')`.
    * Must run on every JVM that executes the query (static initializer
    * of the application jar); absent keys see count 0; results <= 0
    * drop the key. */
  def registerCombiner(name: String, op: (Long, Long) => Long): Unit = {
    require(name.nonEmpty, "combiner name must be non-empty")
    require(name != "sum" && !builtinNames.contains(name),
      s"cannot overwrite built-in combiner '$name'")
    registry.put(name, op)
  }
  def knownMode(name: String): Boolean = name == "sum" || registry.containsKey(name)
  def combiner(name: String): (Long, Long) => Long = {
    val f = registry.get(name)
    require(f != null, s"cqf_union combiner '$name' is not registered on this JVM")
    f
  }
}

/** Returns a copy of the sketch with the key's multiplicity overwritten to
  * `count` (inserted when absent) — the reference's set_count
  * (/root/reference/src/cqf.rs:129-139) as a pure expression. */
case class CqfSetCount(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "cqf_set_count"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${first.dataType}")
    else second.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType =>
        third.dataType match {
          case IntegerType | LongType => TypeCheckSuccess
          case other => TypeCheckFailure(s"$prettyName: count must be integral, got $other")
        }
      case other =>
        TypeCheckFailure(s"$prettyName: key must be integral or string, got $other")
    }
  /** Converter resolved once, not re-pattern-matched per row. */
  @transient private lazy val longKey: Any => Long = KeyConv.toLong(second.dataType)
  override def nullSafeEval(sk: Any, key: Any, count: Any): Any = {
    val cqf = Cqf.deserialize(sk.asInstanceOf[Array[Byte]])
    val c = count match {
      case l: Long => l
      case i: Int => i.toLong
      case other => throw new IllegalArgumentException(s"bad count $other")
    }
    // setCountBytes (not setCountHash over bytesHash) so a byte-key write
    // clears the invertible flag — enumeration must not fabricate longs
    if (KeyConv.isBytesKey(second.dataType))
      cqf.setCountBytes(KeyConv.toBytes(key, second.dataType), c)
    else cqf.setCount(longKey(key), c)
    cqf.serialize()
  }
  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): CqfSetCount = copy(first = a, second = b, third = c)
}

/** UDTF enumerating a CQF: rows (hash, key, count) in ascending hash order;
  * `key` is recovered through the inverse Wang hash when the sketch was
  * built invertibly, else null (the reference's consuming iterator + key
  * recovery, /root/reference/src/cqf/u64_cqf.rs:559-600 +
  * /root/reference/src/reversible_hasher.rs:16-51).
  */
case class CqfItems(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback
    with SketchBytesInput {
  override def prettyName: String = "cqf_items"
  override def elementSchema: StructType = new StructType()
    .add("hash", LongType, nullable = false)
    .add("key", LongType, nullable = true)
    .add("count", LongType, nullable = false)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Nil
    else {
      val cqf = Cqf.deserialize(v.asInstanceOf[Array[Byte]])
      val inv = cqf.invertible
      val bits = cqf.hashBits
      val cur = cqf.cursor // allocation-free kernel enumeration
      new Iterator[InternalRow] {
        private var has = cur.advance()
        def hasNext: Boolean = has
        def next(): InternalRow = {
          val h = cur.hash
          val row = InternalRow(h,
            if (inv) WangHash.unhash(h, bits) else null, cur.count)
          has = cur.advance()
          row
        }
      }
    }
  }
  override protected def withNewChildInternal(c: Expression): CqfItems = copy(child = c)
}

/** UDTF enumerating TWO sketches aligned by hash — the reference's
  * ZippedCqfIter (/root/reference/src/cqf.rs:499-549) as a first-class
  * generator: rows (hash, key, count_a, count_b) in ascending hash order,
  * a full-outer sort-merge of the two sorted filters with 0 for "absent
  * on that side"; `key` recovered when BOTH sketches are invertible.
  * Sketch-vs-sketch analytics (per-key count comparison, similarity)
  * become one generator call instead of two cqf_items explosions + a
  * join. */
case class CqfZipItems(left: Expression, right: Expression)
    extends BinaryExpression with Generator with CodegenFallback
    with SketchBytesInput {
  override def prettyName: String = "cqf_zip_items"
  override def elementSchema: StructType = new StructType()
    .add("hash", LongType, nullable = false)
    .add("key", LongType, nullable = true)
    .add("count_a", LongType, nullable = false)
    .add("count_b", LongType, nullable = false)
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val va = left.eval(input)
    val vb = right.eval(input)
    if (va == null || vb == null) Nil
    else {
      val a = Cqf.deserialize(va.asInstanceOf[Array[Byte]])
      val b = Cqf.deserialize(vb.asInstanceOf[Array[Byte]])
      val inv = a.invertible && b.invertible
      val bits = a.hashBits
      Cqf.zipItems(a, b).map { case (h, ca, cb) =>
        InternalRow(h, if (inv) WangHash.unhash(h, bits) else null, ca, cb)
      }
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfZipItems =
    copy(left = l, right = r)
}

// --------------------------------------------------- reference interop

/** Re-serialize a graft CQF into the reference engine's exact byte image
  * (Metadata ‖ Blocks, /root/reference/src/cqf/u64_cqf.rs:361-430) — the
  * bytes a `new_file` checkpoint holds, so reference users can hand
  * sketches back and forth without re-building. */
case class CqfToRef(child: Expression)
    extends UnaryExpression with SketchBytesInput {
  override def prettyName: String = "cqf_to_ref"
  override def dataType: DataType = BinaryType
  @transient private lazy val sketch = new ParseSlot(CqfKind)
  def compute(a: Array[Byte]): Array[Byte] = Cqf.exportRefLayout(sketch(a))
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("expr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression): CqfToRef = copy(child = c)
}

/** Parse a reference-engine byte image (e.g. a file written by the
  * reference's `new_file`) into a graft CQF. */
case class CqfFromRef(child: Expression)
    extends UnaryExpression with SketchBytesInput {
  override def prettyName: String = "cqf_from_ref"
  override def dataType: DataType = BinaryType
  def compute(a: Array[Byte]): Array[Byte] =
    Cqf.importRefLayout(a).serialize()
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("expr", this, getClass.getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }
  override protected def withNewChildInternal(c: Expression): CqfFromRef = copy(child = c)
}

// ------------------------------------------------------------------ hash

/** Shared key/bits validation + per-row plumbing for wang_hash /
  * wang_unhash: a LONG bits argument would ClassCastException per row,
  * and bits outside [1, 64] degenerates (mask(0) maps every key to 0). */
private[functions] trait WangBitsChecked { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = left.dataType match {
    case ByteType | ShortType | IntegerType | LongType => right.dataType match {
      case IntegerType => TypeCheckSuccess
      case other => TypeCheckFailure(s"$prettyName: bits must be INT, got $other")
    }
    case other => TypeCheckFailure(s"$prettyName: key must be integral, got $other")
  }
  @transient protected lazy val keyConv: Any => Long = KeyConv.toLong(left.dataType)
  protected final def bitsOf(bits: Any): Int = {
    val b = bits.asInstanceOf[Int]
    require(b >= 1 && b <= 64, s"$prettyName: bits must be in [1, 64], got $b")
    b
  }
}

case class WangHashExpr(left: Expression, right: Expression)
    extends BinaryExpression with WangBitsChecked {
  override def prettyName: String = "wang_hash"
  override def dataType: DataType = LongType
  override def nullSafeEval(k: Any, bits: Any): Any =
    WangHash.hash(keyConv(k), bitsOf(bits))
  // full whole-stage codegen (NOT a CodegenFallback): this expression is
  // the per-row hot path of every map-only split/sample/mixture/pack
  // stage — i.e. the code most likely to run over the entire corpus — and
  // a fallback would break stage fusion and pay per-row boxing there. The
  // generated call is one static invoke of ~15 ALU ops; (long) casts
  // cover all four integral child types (sign-extending, matching
  // KeyConv.toLong on the interpreted path).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, b) =>
      s"""${ev.value} = graft.sketch.WangHash.hashChecked((long)$k, $b, "$prettyName");""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WangHashExpr =
    copy(left = l, right = r)
}

case class WangUnhashExpr(left: Expression, right: Expression)
    extends BinaryExpression with WangBitsChecked {
  override def prettyName: String = "wang_unhash"
  override def dataType: DataType = LongType
  override def nullSafeEval(h: Any, bits: Any): Any =
    WangHash.unhash(keyConv(h), bitsOf(bits))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (k, b) =>
      s"""${ev.value} = graft.sketch.WangHash.unhashChecked((long)$k, $b, "$prettyName");""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): WangUnhashExpr =
    copy(left = l, right = r)
}

// -------------------------------------------- frequent items (ss_*)

/** Top-n heavy-hitter entries of a FrequentItems sketch, ordered by
  * lower-bound count desc then key asc (deterministic given content).
  * Row fields: key (canonical long; the 64-bit fold for byte keys),
  * key_str (the original string for STRING-keyed sketches; null for
  * long-keyed and raw-binary-keyed sketches — arbitrary binary keys
  * must not surface as mojibake text),
  * lb <= true count <= ub. ub - lb == the sketch's offset for every
  * entry, so candidate filters use ub (complete: no true heavy hitter
  * can fall below its ub). */
case class SsTopk(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "ss_topk"
  override def dataType: DataType = ArrayType(SsTopk.entrySchema, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${child.dataType}")
    else if (n < 1) TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    else TypeCheckSuccess
  @transient private lazy val sketch = new ParseSlot(SsKind)
  override def nullSafeEval(sk: Any): Any = {
    val f = sketch(sk.asInstanceOf[Array[Byte]])
    val off = f.offset
    // key_str renders only KNOWN-text keys; raw binary keys
    // (fingerprints etc.) must not surface as mojibake strings
    val text = f.textKeys
    val rows: Array[Any] = f.topK(n).map { case (key, cnt, kb) =>
      InternalRow(key,
        if (text && kb != null) UTF8String.fromBytes(kb) else null,
        cnt, cnt + off): Any
    }
    new GenericArrayData(rows)
  }
  override protected def withNewChildInternal(c: Expression): SsTopk = copy(child = c)
}

object SsTopk {
  val entrySchema: StructType = new StructType()
    .add("key", LongType, nullable = false)
    .add("key_str", StringType, nullable = true)
    .add("lb", LongType, nullable = false)
    .add("ub", LongType, nullable = false)
}

// ------------------------------------------------------------------ KMV

/** Up to n sampled distinct keys in hash order — a deterministic,
  * partitioning-invariant uniform sample. key_str renders only
  * KNOWN-text keys (same policy as ss_topk). */
case class KmvSample(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  override def prettyName: String = "kmv_sample"
  override def dataType: DataType = ArrayType(KmvSample.entrySchema, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${child.dataType}")
    else if (n < 1) TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    else TypeCheckSuccess
  @transient private lazy val sketch = new ParseSlot(KmvKind)
  override def nullSafeEval(sk: Any): Any = {
    val s = sketch(sk.asInstanceOf[Array[Byte]])
    val text = s.textKeys
    val rows: Array[Any] = s.sample(n).map { case (key, kb) =>
      InternalRow(key,
        if (text && kb != null) UTF8String.fromBytes(kb) else null): Any
    }
    new GenericArrayData(rows)
  }
  override protected def withNewChildInternal(c: Expression): KmvSample = copy(child = c)
}

object KmvSample {
  val entrySchema: StructType = new StructType()
    .add("key", LongType, nullable = false)
    .add("key_str", StringType, nullable = true)
}

/** Bottom-k Jaccard resemblance between two kmv sketch columns: exact
  * while both sides are exact (never evicted), else within ~O(1/sqrt(k)). */
case class KmvJaccard(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with SketchBytesInput {
  override def prettyName: String = "kmv_jaccard"
  override def dataType: DataType = DoubleType
  @transient private lazy val lhs = new ParseSlot(KmvKind)
  @transient private lazy val rhs = new ParseSlot(KmvKind)
  override def nullSafeEval(a: Any, b: Any): Any =
    lhs(a.asInstanceOf[Array[Byte]]).jaccard(rhs(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvJaccard =
    copy(left = l, right = r)
}
