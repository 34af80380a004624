package graft.functions

import graft.sketch._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar probe expressions over serialized sketch bytes — the Spark
  * counterparts of the reference's query/stat entry points
  * (query: /root/reference/src/cqf/u64_cqf.rs:263-293, stats getters
  * :330-359, set ops over the zipped iterator /root/reference/src/cqf.rs:499-549).
  *
  * Each expression memoizes the last deserialized sketch by byte-array
  * identity: the dominant pattern probes one (or a few) sketch rows with
  * many keys, so the parse cost amortizes to zero.
  */
private[functions] trait SketchCache[S <: AnyRef] {
  @transient private var lastBytes: Array[Byte] = _
  @transient private var lastSketch: S = _
  protected def parse(bytes: Array[Byte]): S

  /** Identity fast path, then exact full-content equality. Row accessors
    * (UnsafeRow.getBinary) copy the array per row, so identity alone never
    * hits under joins and every probe row would re-deserialize the sketch.
    * The memcmp is the same cost class as that unavoidable per-row copy;
    * sampled fingerprints are NOT safe here — sparse sketches are mostly
    * zero bytes and collide across groups (caught at sf0.001). For
    * row-heavy prefilters prefer the scalar-subquery pattern (sketch as a
    * plan-level literal), which takes the `eq` fast path. */
  protected final def cached(bytes: Array[Byte]): S = {
    if (bytes eq lastBytes) return lastSketch
    if (lastSketch == null || !java.util.Arrays.equals(lastBytes, bytes)) {
      lastSketch = parse(bytes)
    }
    lastBytes = bytes
    lastSketch
  }
}

/** Two-slot variant of [[SketchCache]] for binary (sketch, sketch)
  * expressions: each operand memoizes independently, so the common shapes —
  * a varying per-group sketch column combined with a broadcast reference
  * sketch, or a singleton pair probed repeatedly — deserialize each
  * distinct byte image once instead of twice per row. Combines must NOT
  * mutate the cached instances: use the non-mutating kernel surfaces
  * (Cqf.merge / mergeBy / intersect / diff) or `copied` clones. */
private[functions] trait SketchCache2[S <: AnyRef] {
  protected def parse(bytes: Array[Byte]): S
  @transient private var lBytes: Array[Byte] = _
  @transient private var lSketch: S = _
  @transient private var rBytes: Array[Byte] = _
  @transient private var rSketch: S = _
  /** Test hook: distinct deserializations observed by this instance. */
  @transient private[graft] var parses: Long = 0L

  protected final def cachedLeft(bytes: Array[Byte]): S = {
    if (bytes eq lBytes) return lSketch
    if (lSketch == null || !java.util.Arrays.equals(lBytes, bytes)) {
      lSketch = parse(bytes); parses += 1L
    }
    lBytes = bytes
    lSketch
  }
  protected final def cachedRight(bytes: Array[Byte]): S = {
    if (bytes eq rBytes) return rSketch
    if (rSketch == null || !java.util.Arrays.equals(rBytes, bytes)) {
      rSketch = parse(bytes); parses += 1L
    }
    rBytes = bytes
    rSketch
  }
}

/** Analysis-time guard for probes whose every child is a serialized
  * sketch column: non-binary input must fail the query at analysis, not
  * as a per-row ClassCastException (same rule KeyedProbeCodegen states
  * for keyed probes). */
private[functions] trait SketchBytesInput { self: Expression =>
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    self.children.find(_.dataType != BinaryType) match {
      case Some(c) => TypeCheckFailure(
        s"$prettyName requires a binary sketch column, got ${c.dataType}")
      case None => TypeCheckSuccess
    }
  }
}

/** Whole-stage codegen for (sketch, sketch) binary ops: the generated code
  * calls `compute(byte[], byte[])` directly — no CodegenFallback
  * InternalRow boxing when the op runs down a row-heavy column. Both
  * operands must be binary AT ANALYSIS — unchecked, a non-binary column
  * breaks janino compilation (an int slot into compute(byte[], byte[])). */
private[functions] trait BinaryBytesCodegen { self: BinaryExpression =>
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != BinaryType || right.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires two binary sketch columns, " +
        s"got (${left.dataType}, ${right.dataType})")
    else TypeCheckSuccess
  }
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
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
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

/** Whole-stage codegen for (sketchBytes, key) probes: the generated code
  * calls the expression's typed evalLong/evalUtf8 helper directly — no
  * InternalRow boxing per row, which matters when the probe is a row-level
  * prefilter over a large scan (e.g. WHERE bloom_might_contain(...)). */
private[functions] trait KeyedProbeCodegen { self: BinaryExpression =>
  protected def withStringKey: Boolean = KeyConv.isBytesKey(right.dataType)
  // bad key types must fail the query at analysis — unchecked they break
  // janino compilation (double arg into a long helper) or throw per-row
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${left.dataType}")
    else right.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType | BinaryType =>
        TypeCheckSuccess
      case other =>
        TypeCheckFailure(s"$prettyName: key must be integral or string, got $other")
    }
  }
  /** Converter resolved once, not re-pattern-matched per interpreted row. */
  @transient protected lazy val longKey: Any => Long = KeyConv.toLong(right.dataType)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("probe", this, getClass.getName)
    val helper = right.dataType match {
      case BinaryType => "evalBytes"
      case StringType => "evalUtf8"
      case _ => "evalLong"
    }
    nullSafeCodeGen(ctx, ev, (sk, key) =>
      s"${ev.value} = $ref.$helper($sk, $key);")
  }
}

// ------------------------------------------------------------------ CQF

case class CqfCount(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache[Cqf] with KeyedProbeCodegen {
  override def prettyName: String = "cqf_count"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  def evalLong(sk: Array[Byte], key: Long): Long = cached(sk).count(key)
  def evalUtf8(sk: Array[Byte], key: UTF8String): Long =
    cached(sk).countBytes(key.getBytes)
  def evalBytes(sk: Array[Byte], key: Array[Byte]): Long =
    cached(sk).countBytes(key)
  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (KeyConv.isBytesKey(right.dataType))
      cached(bytes).countBytes(KeyConv.toBytes(key, right.dataType))
    else evalLong(bytes, longKey(key))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfCount =
    copy(left = l, right = r)
}

case class CqfContains(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache[Cqf] with KeyedProbeCodegen {
  override def prettyName: String = "cqf_contains"
  override def dataType: DataType = BooleanType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  def evalLong(sk: Array[Byte], key: Long): Boolean = cached(sk).count(key) > 0
  def evalUtf8(sk: Array[Byte], key: UTF8String): Boolean =
    cached(sk).countBytes(key.getBytes) > 0
  def evalBytes(sk: Array[Byte], key: Array[Byte]): Boolean =
    cached(sk).countBytes(key) > 0
  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (KeyConv.isBytesKey(right.dataType))
      cached(bytes).countBytes(KeyConv.toBytes(key, right.dataType)) > 0
    else evalLong(bytes, longKey(key))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfContains =
    copy(left = l, right = r)
}

case class CqfDistinct(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[Cqf]
    with SketchBytesInput {
  override def prettyName: String = "cqf_distinct"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).distinctCount
  override protected def withNewChildInternal(c: Expression): CqfDistinct = copy(child = c)
}

case class CqfTotal(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[Cqf]
    with SketchBytesInput {
  override def prettyName: String = "cqf_total"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).totalCount
  override protected def withNewChildInternal(c: Expression): CqfTotal = copy(child = c)
}

case class CqfStats(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[Cqf]
    with SketchBytesInput {
  override def prettyName: String = "cqf_stats"
  override def dataType: DataType = CqfStats.schema
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any = {
    val c = cached(sk.asInstanceOf[Array[Byte]])
    InternalRow(c.quotientBits, c.hashBits, c.occupiedSlots, c.numSlots,
      c.maxOccupiedSlots, c.sizeBytes, c.distinctCount, c.totalCount, c.invertible)
  }
  override protected def withNewChildInternal(c: Expression): CqfStats = copy(child = c)
}
object CqfStats {
  val schema: StructType = new StructType()
    .add("quotient_bits", IntegerType).add("hash_bits", IntegerType)
    .add("occupied_slots", LongType).add("num_slots", LongType)
    .add("max_occupied_slots", LongType).add("size_bytes", LongType)
    .add("distinct_keys", LongType).add("total_count", LongType)
    .add("invertible", BooleanType)
}

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

/** `<fn>_union` for every [[SketchKind]] but cqf (whose [[CqfUnion]]
  * takes a combiner mode): the union of two serialized sketches of one
  * kind, by the kind's non-mutating `union`, so the cached operands
  * stay valid for the next row. */
case class SketchUnion[S >: Null <: AnyRef](left: Expression, right: Expression,
    kind: SketchKind[S])
    extends BinaryExpression with SketchCache2[S] with BinaryBytesCodegen {
  override def prettyName: String = s"${kind.fn}_union"
  override def dataType: DataType = BinaryType
  // the name already says the kind, so plans print only the SQL arguments
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)
  protected def parse(bytes: Array[Byte]): S = kind.read(bytes)
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    kind.write(kind.union(cachedLeft(a), cachedRight(b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SketchUnion[S] =
    copy(left = l, right = r)
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
    extends BinaryExpression with SketchCache2[Cqf] with BinaryBytesCodegen {
  override def prettyName: String = "cqf_union"
  override def dataType: DataType = BinaryType
  // invalid mode literals fail the query at analysis, not on the first row
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (!CqfUnion.knownMode(mode))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cqf_union mode must be 'sum', a built-in combiner " +
        s"(${CqfUnion.builtinNames.mkString("'", "', '", "'")}), or a " +
        s"registered combiner name, got '$mode'")
    else super.checkInputDataTypes()
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  @transient private lazy val op: (Long, Long) => Long =
    if (mode == "sum") null // fast path: kernel merge
    else CqfUnion.combiner(mode)
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] = {
    val x = cachedLeft(a)
    val y = cachedRight(b)
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

case class CqfIntersect(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache2[Cqf] with BinaryBytesCodegen {
  override def prettyName: String = "cqf_intersect"
  override def dataType: DataType = BinaryType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    cachedLeft(a).intersect(cachedRight(b)).serialize()
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfIntersect =
    copy(left = l, right = r)
}

case class CqfDiff(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache2[Cqf] with BinaryBytesCodegen {
  override def prettyName: String = "cqf_diff"
  override def dataType: DataType = BinaryType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    cachedLeft(a).diff(cachedRight(b)).serialize()
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CqfDiff =
    copy(left = l, right = r)
}

/** Returns a copy of the sketch with the key's multiplicity overwritten to
  * `count` (inserted when absent) — the reference's set_count
  * (/root/reference/src/cqf.rs:129-139) as a pure expression. */
case class CqfSetCount(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def prettyName: String = "cqf_set_count"
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
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

// ------------------------------------------------------------------ HLL

case class HllEstimate(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[HllSketch]
    with SketchBytesInput {
  override def prettyName: String = "hll_estimate"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).cardinality
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

// ------------------------------------------------------------------ CMS

case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache[CountMinSketch] with KeyedProbeCodegen {
  override def prettyName: String = "cms_estimate"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
  def evalLong(sk: Array[Byte], key: Long): Long = cached(sk).estimate(key)
  def evalUtf8(sk: Array[Byte], key: UTF8String): Long =
    evalBytes(sk, key.getBytes)
  def evalBytes(sk: Array[Byte], b: Array[Byte]): Long =
    cached(sk).estimateHash(WangHash.mixBytes(b, CountMinSketch.Seed1),
      WangHash.mixBytes(b, CountMinSketch.Seed2))
  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (KeyConv.isBytesKey(right.dataType))
      evalBytes(bytes, KeyConv.toBytes(key, right.dataType))
    else evalLong(bytes, longKey(key))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CmsEstimate =
    copy(left = l, right = r)
}

case class CmsTotal(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[CountMinSketch]
    with SketchBytesInput {
  override def prettyName: String = "cms_total"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).total
  override protected def withNewChildInternal(c: Expression): CmsTotal = copy(child = c)
}

// ------------------------------------------------------------------ t-digest

/** (sketchBytes, numeric) probes: the numeric argument accepts ANY
  * numeric type and converts once to Double — SQL literals do NOT arrive
  * as DoubleType (`td_quantile(td, 0.5)` parses 0.5 as DECIMAL(1,1),
  * `kll_rank(sk, 100)` as INT), so a bare asInstanceOf[Double] would pass
  * analysis and then ClassCastException on every row. */
private[functions] trait SketchDoubleArg { self: BinaryExpression =>
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (left.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${left.dataType}")
    else right.dataType match {
      case _: NumericType => TypeCheckSuccess
      case other => TypeCheckFailure(s"$prettyName: argument must be numeric, got $other")
    }
  }
  /** Converter resolved once, not re-pattern-matched per row. */
  @transient protected lazy val argToDouble: Any => Double = right.dataType match {
    case DoubleType => v => v.asInstanceOf[Double]
    case FloatType => v => v.asInstanceOf[Float].toDouble
    case _: DecimalType => v => v.asInstanceOf[Decimal].toDouble
    case ByteType => v => v.asInstanceOf[Byte].toDouble
    case ShortType => v => v.asInstanceOf[Short].toDouble
    case IntegerType => v => v.asInstanceOf[Int].toDouble
    case LongType => v => v.asInstanceOf[Long].toDouble
    case other => throw new IllegalArgumentException(s"unsupported numeric type $other")
  }
}

case class TdQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with SketchCache[TDigest]
    with SketchDoubleArg {
  override def prettyName: String = "td_quantile"
  override def dataType: DataType = DoubleType
  protected def parse(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
  override def nullSafeEval(sk: Any, q: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).quantile(argToDouble(q))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TdQuantile =
    copy(left = l, right = r)
}

case class TdCdf(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with SketchCache[TDigest]
    with SketchDoubleArg {
  override def prettyName: String = "td_cdf"
  override def dataType: DataType = DoubleType
  protected def parse(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
  override def nullSafeEval(sk: Any, x: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).cdf(argToDouble(x))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): TdCdf =
    copy(left = l, right = r)
}

// ------------------------------------------------------------------ KLL

case class KllQuantile(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with SketchCache[KllSketch]
    with SketchDoubleArg {
  override def prettyName: String = "kll_quantile"
  override def dataType: DataType = DoubleType
  protected def parse(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any, q: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).quantile(argToDouble(q))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllQuantile =
    copy(left = l, right = r)
}

case class KllRank(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback with SketchCache[KllSketch]
    with SketchDoubleArg {
  override def prettyName: String = "kll_rank"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any, x: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).rank(argToDouble(x))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KllRank =
    copy(left = l, right = r)
}

case class KllN(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[KllSketch]
    with SketchBytesInput {
  override def prettyName: String = "kll_n"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any = cached(sk.asInstanceOf[Array[Byte]]).n
  override protected def withNewChildInternal(c: Expression): KllN = copy(child = c)
}

// ------------------------------------------------------------------ Bloom

case class BloomMightContain(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache[BloomSketch] with KeyedProbeCodegen {
  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  protected def parse(bytes: Array[Byte]): BloomSketch = BloomSketch.deserialize(bytes)
  def evalLong(sk: Array[Byte], key: Long): Boolean = cached(sk).mightContain(key)
  def evalUtf8(sk: Array[Byte], key: UTF8String): Boolean =
    evalBytes(sk, key.getBytes)
  def evalBytes(sk: Array[Byte], b: Array[Byte]): Boolean =
    cached(sk).mightContainHash(WangHash.mixBytes(b, BloomSketch.Seed1),
      WangHash.mixBytes(b, BloomSketch.Seed2))
  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (KeyConv.isBytesKey(right.dataType))
      evalBytes(bytes, KeyConv.toBytes(key, right.dataType))
    else evalLong(bytes, longKey(key))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): BloomMightContain =
    copy(left = l, right = r)
}

case class BloomFpp(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[BloomSketch]
    with SketchBytesInput {
  override def prettyName: String = "bloom_fpp"
  override def dataType: DataType = DoubleType
  protected def parse(bytes: Array[Byte]): BloomSketch = BloomSketch.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).expectedFpp
  override protected def withNewChildInternal(c: Expression): BloomFpp = copy(child = c)
}

// --------------------------------------------------- reference interop

/** Re-serialize a graft CQF into the reference engine's exact byte image
  * (Metadata ‖ Blocks, /root/reference/src/cqf/u64_cqf.rs:361-430) — the
  * bytes a `new_file` checkpoint holds, so reference users can hand
  * sketches back and forth without re-building. */
case class CqfToRef(child: Expression)
    extends UnaryExpression with SketchCache[Cqf] with SketchBytesInput {
  override def prettyName: String = "cqf_to_ref"
  override def dataType: DataType = BinaryType
  protected def parse(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
  def compute(a: Array[Byte]): Array[Byte] =
    Cqf.exportRefLayout(cached(a))
  override def nullSafeEval(a: Any): Any = compute(a.asInstanceOf[Array[Byte]])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
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
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
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
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    left.dataType match {
      case ByteType | ShortType | IntegerType | LongType => right.dataType match {
        case IntegerType => TypeCheckSuccess
        case other => TypeCheckFailure(s"$prettyName: bits must be INT, got $other")
      }
      case other => TypeCheckFailure(s"$prettyName: key must be integral, got $other")
    }
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
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
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
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
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
    extends UnaryExpression with CodegenFallback with SketchCache[FrequentItems] {
  override def prettyName: String = "ss_topk"
  override def dataType: DataType = ArrayType(SsTopk.entrySchema, containsNull = false)
  protected def parse(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${child.dataType}")
    else if (n < 1) TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    else TypeCheckSuccess
  }
  override def nullSafeEval(sk: Any): Any = {
    val f = cached(sk.asInstanceOf[Array[Byte]])
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

/** Upper-bound frequency estimate (the SpaceSaving count): count+offset
  * when the key is monitored, offset when not — never an underestimate. */
case class SsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with SketchCache[FrequentItems] with KeyedProbeCodegen {
  override def prettyName: String = "ss_estimate"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  def evalLong(sk: Array[Byte], key: Long): Long = cached(sk).estimate(key)
  def evalUtf8(sk: Array[Byte], key: UTF8String): Long = evalBytes(sk, key.getBytes)
  def evalBytes(sk: Array[Byte], b: Array[Byte]): Long = cached(sk).estimateBytes(b)
  override def nullSafeEval(sk: Any, key: Any): Any = {
    val bytes = sk.asInstanceOf[Array[Byte]]
    if (KeyConv.isBytesKey(right.dataType))
      evalBytes(bytes, KeyConv.toBytes(key, right.dataType))
    else evalLong(bytes, longKey(key))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SsEstimate =
    copy(left = l, right = r)
}

case class SsTotal(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[FrequentItems]
    with SketchBytesInput {
  override def prettyName: String = "ss_total"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).total
  override protected def withNewChildInternal(c: Expression): SsTotal = copy(child = c)
}

/** The sketch's global error offset: max undercount of any counter, max
  * true count of any absent key; bounded by 2*total/k. In-query bound
  * checks assert `ss_offset(sk) < threshold` to prove candidate
  * completeness in the same pass that uses the candidates. */
case class SsOffset(child: Expression)
    extends UnaryExpression with CodegenFallback with SketchCache[FrequentItems]
    with SketchBytesInput {
  override def prettyName: String = "ss_offset"
  override def dataType: DataType = LongType
  protected def parse(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).offset
  override protected def withNewChildInternal(c: Expression): SsOffset = copy(child = c)
}

// ------------------------------------------------------------------ KMV

private[functions] trait KmvUnaryProbe extends SketchCache[KmvSketch]
    with SketchBytesInput { self: UnaryExpression =>
  protected def parse(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
}

/** Distinct-count readout of a bottom-k sketch: exact below capacity,
  * the (k-1)/u_k estimator at capacity. */
case class KmvDistinct(child: Expression)
    extends UnaryExpression with CodegenFallback with KmvUnaryProbe {
  override def prettyName: String = "kmv_distinct"
  override def dataType: DataType = LongType
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).estimateLong
  override protected def withNewChildInternal(c: Expression): KmvDistinct = copy(child = c)
}

/** Retained-entry count; equals the exact distinct count whenever it is
  * below the sketch's k (see kmv_is_exact). */
case class KmvSize(child: Expression)
    extends UnaryExpression with CodegenFallback with KmvUnaryProbe {
  override def prettyName: String = "kmv_size"
  override def dataType: DataType = LongType
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).size.toLong
  override protected def withNewChildInternal(c: Expression): KmvSize = copy(child = c)
}

/** True while the sketch never evicted — its answers are exact, not
  * estimates. In-query assertions use this to prove a readout is exact
  * in the same pass that consumes it. */
case class KmvIsExact(child: Expression)
    extends UnaryExpression with CodegenFallback with KmvUnaryProbe {
  override def prettyName: String = "kmv_is_exact"
  override def dataType: DataType = BooleanType
  override def nullSafeEval(sk: Any): Any =
    cached(sk.asInstanceOf[Array[Byte]]).isExact
  override protected def withNewChildInternal(c: Expression): KmvIsExact = copy(child = c)
}

/** Up to n sampled distinct keys in hash order — a deterministic,
  * partitioning-invariant uniform sample. key_str renders only
  * KNOWN-text keys (same policy as ss_topk). */
case class KmvSample(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback with SketchCache[KmvSketch] {
  override def prettyName: String = "kmv_sample"
  override def dataType: DataType = ArrayType(KmvSample.entrySchema, containsNull = false)
  protected def parse(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != BinaryType)
      TypeCheckFailure(s"$prettyName requires a binary sketch column, got ${child.dataType}")
    else if (n < 1) TypeCheckFailure(s"$prettyName: n must be >= 1, got $n")
    else TypeCheckSuccess
  }
  override def nullSafeEval(sk: Any): Any = {
    val s = cached(sk.asInstanceOf[Array[Byte]])
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
    extends BinaryExpression with CodegenFallback with SketchCache2[KmvSketch]
    with SketchBytesInput {
  override def prettyName: String = "kmv_jaccard"
  override def dataType: DataType = DoubleType
  protected def parse(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
  override def nullSafeEval(a: Any, b: Any): Any =
    cachedLeft(a.asInstanceOf[Array[Byte]])
      .jaccard(cachedRight(b.asInstanceOf[Array[Byte]]))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): KmvJaccard =
    copy(left = l, right = r)
}
