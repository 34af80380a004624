package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** One graft sketch family: the facts every kind-generic layer needs —
  * its name (as `BuildSketches` and `sketch_meta` spell it), its SQL
  * prefix (`<fn>_merge_agg`, `<fn>_union`), the 8-byte magic its
  * serialization starts with, its byte codec, its merge, and its empty
  * value. Entries are `object`s, so an expression carrying one ships to
  * executors and deserializes back to the same singleton.
  *
  * `mergeInPlace(a, b)` may mutate `a` and callers must use its return
  * value (a stateless `a` may adopt a copy of `b`). `union(a, b)` builds
  * a fresh result and leaves both operands usable, so cached parses can
  * feed it row after row. `empty()` is the default-parameter empty
  * sketch a merge over no rows returns; every kernel's merge treats it as
  * an identity whatever the real sketches' parameters. */
sealed abstract class SketchKind[S >: Null <: AnyRef](
    val name: String, val fn: String, val magic: Long) extends Serializable {
  def read(bytes: Array[Byte]): S
  def write(s: S): Array[Byte]
  def mergeInPlace(a: S, b: S): S
  def union(a: S, b: S): S
  def empty(): S
  override def toString: String = name
}

object SketchKind {

  object CqfKind extends SketchKind[Cqf]("cqf", "cqf", Cqf.Magic) {
    def read(bytes: Array[Byte]): Cqf = Cqf.deserialize(bytes)
    def write(s: Cqf): Array[Byte] = s.serialize()
    def mergeInPlace(a: Cqf, b: Cqf): Cqf = a.mergeInPlace(b)
    def union(a: Cqf, b: Cqf): Cqf = Cqf.merge(a, b)
    def empty(): Cqf = Cqf(4, 64)
  }

  object HllKind extends SketchKind[HllSketch]("hll", "hll", HllSketch.Magic) {
    def read(bytes: Array[Byte]): HllSketch = HllSketch.deserialize(bytes)
    def write(s: HllSketch): Array[Byte] = s.serialize()
    def mergeInPlace(a: HllSketch, b: HllSketch): HllSketch = a.mergeInPlace(b)
    def union(a: HllSketch, b: HllSketch): HllSketch = a.copied.mergeInPlace(b)
    def empty(): HllSketch = HllSketch()
  }

  object CmsKind extends SketchKind[CountMinSketch]("cms", "cms", CountMinSketch.Magic) {
    def read(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
    def write(s: CountMinSketch): Array[Byte] = s.serialize()
    def mergeInPlace(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.mergeInPlace(b)
    def union(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.copied.mergeInPlace(b)
    def empty(): CountMinSketch = CountMinSketch()
  }

  object BloomKind extends SketchKind[BloomSketch]("bloom", "bloom", BloomSketch.Magic) {
    def read(bytes: Array[Byte]): BloomSketch = BloomSketch.deserialize(bytes)
    def write(s: BloomSketch): Array[Byte] = s.serialize()
    def mergeInPlace(a: BloomSketch, b: BloomSketch): BloomSketch = a.mergeInPlace(b)
    def union(a: BloomSketch, b: BloomSketch): BloomSketch = a.copied.mergeInPlace(b)
    def empty(): BloomSketch = BloomSketch()
  }

  object TDigestKind extends SketchKind[TDigest]("tdigest", "td", TDigest.Magic) {
    def read(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
    def write(s: TDigest): Array[Byte] = s.serialize()
    def mergeInPlace(a: TDigest, b: TDigest): TDigest = a.mergeInPlace(b)
    // mergeInPlace compresses `b` in place — an idempotent
    // canonicalization, so a cached right operand stays reusable
    def union(a: TDigest, b: TDigest): TDigest = a.copied.mergeInPlace(b)
    def empty(): TDigest = TDigest()
  }

  object KllKind extends SketchKind[KllSketch]("kll", "kll", KllSketch.Magic) {
    def read(bytes: Array[Byte]): KllSketch = KllSketch.deserialize(bytes)
    def write(s: KllSketch): Array[Byte] = s.serialize()
    def mergeInPlace(a: KllSketch, b: KllSketch): KllSketch = a.mergeInPlace(b)
    def union(a: KllSketch, b: KllSketch): KllSketch = a.copied.mergeInPlace(b)
    def empty(): KllSketch = KllSketch()
  }

  object SsKind extends SketchKind[FrequentItems]("ss", "ss", FrequentItems.Magic) {
    def read(bytes: Array[Byte]): FrequentItems = FrequentItems.deserialize(bytes)
    def write(s: FrequentItems): Array[Byte] = s.serialize()
    def mergeInPlace(a: FrequentItems, b: FrequentItems): FrequentItems = a.mergeInPlace(b)
    def union(a: FrequentItems, b: FrequentItems): FrequentItems = a.copied.mergeInPlace(b)
    def empty(): FrequentItems = FrequentItems()
  }

  object KmvKind extends SketchKind[KmvSketch]("kmv", "kmv", KmvSketch.Magic) {
    def read(bytes: Array[Byte]): KmvSketch = KmvSketch.deserialize(bytes)
    def write(s: KmvSketch): Array[Byte] = s.serialize()
    def mergeInPlace(a: KmvSketch, b: KmvSketch): KmvSketch = a.mergeInPlace(b)
    // shallowCopied, not copied: KMV merge only REASSIGNS the target's
    // array fields (fresh outputs, inputs read-only), so `a` needs a
    // fresh wrapper object, not clones of up to three k-length arrays
    // that the merge would immediately discard
    def union(a: KmvSketch, b: KmvSketch): KmvSketch = a.shallowCopied.mergeInPlace(b)
    def empty(): KmvSketch = KmvSketch()
  }

  val all: Seq[SketchKind[_ >: Null <: AnyRef]] =
    Seq(CqfKind, HllKind, CmsKind, BloomKind, TDigestKind, KllKind, SsKind, KmvKind)

  private val byMagic: Map[Long, SketchKind[_ >: Null <: AnyRef]] = all.map(k => k.magic -> k).toMap
  private val byName: Map[String, SketchKind[_ >: Null <: AnyRef]] = all.map(k => k.name -> k).toMap

  /** Sniff the serialized kind from the magic header without parsing, or
    * None for anything else (including the reference's headerless mmap
    * image — use cqf_from_ref for that). */
  def of(bytes: Array[Byte]): Option[SketchKind[_ >: Null <: AnyRef]] =
    if (bytes == null || bytes.length < 8) None
    else byMagic.get(ByteBuffer.wrap(bytes, 0, 8).order(ByteOrder.LITTLE_ENDIAN).getLong())

  /** The kind spelled `name` (cqf | hll | cms | bloom | tdigest | kll | ss
    * | kmv); throws IllegalArgumentException for anything else. */
  def named(name: String): SketchKind[_ >: Null <: AnyRef] =
    byName.getOrElse(name, throw new IllegalArgumentException(s"unknown sketch kind $name"))
}
