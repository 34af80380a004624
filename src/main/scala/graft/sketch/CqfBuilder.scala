package graft.sketch

/** Bounded pre-aggregation layer in front of a [[Cqf]] build (table
  * engine: [[LongPreAgg]]).
  *
  * Token streams that feed a CQF are typically heavily duplicated (zipf
  * vocabularies, event ids), so the build's hot path pays a full
  * rank/select insert per OCCURRENCE. This builder instead counts
  * occurrences keyed by the full hash and folds each distinct hash into
  * the filter once per flush epoch — one CQF insert per DISTINCT key
  * instead of per token. Measured on the headline zipf shard workload
  * (`KernelBench altbuild`, a main last present at commit 059525a):
  * 40.6 vs 13.3 M inserts/s single-threaded and 728.6 vs 294.2 M/s at
  * 32 threads. perfbench's `sketch.cqf_builder_add_ns` vs
  * `sketch.cqf_insert_ns` is today's builder-vs-direct comparison.
  *
  * The reference has no analog (its bench drives `insert` per key,
  * /root/reference/src/main.rs:53-62); this is the Spark-side map-side
  * combine pushed one level below Catalyst's partial aggregation.
  *
  * Semantics: `result()` (and any intermediate drain) produces a filter
  * whose content is IDENTICAL to per-token `insertHash` calls — counts
  * are summed longs, and CQF placement is canonical in content, so even
  * the serialized bytes match the direct path (asserted in
  * CqfBuilderSpec).
  */
final class CqfBuilder(val cqf: Cqf) extends LongPreAgg {

  protected def sink(key: Long, count: Long): Unit = cqf.insertHash(key, count)

  @inline def add(key: Long): Unit = tally(cqf.keyHash(key), 1L)
  // byte keys fold lossily: clear the invertible flag up front (not at
  // drain) exactly like Cqf.insertBytes, so even an un-drained builder's
  // filter never fabricates long keys from folded hashes
  @inline def addBytes(b: Array[Byte]): Unit = {
    cqf.markNonInvertible()
    tally(cqf.bytesHash(b), 1L)
  }

  /** Count `count` occurrences of pre-hashed value `h`. */
  @inline def addHash(h: Long, count: Long): Unit = tally(h, count)

  /** The filter with all buffered counts folded in. The builder remains
    * usable afterwards (window frames call eval per frame). */
  def result(): Cqf = { drainAndShrink(); cqf }

  /** Merge `other` into this builder (both drain first — table entries
    * have no cross-builder identity). */
  def mergeInPlace(other: CqfBuilder): CqfBuilder = {
    result().mergeInPlace(other.result())
    this
  }
}

object CqfBuilder {
  def apply(quotientBits: Int, hashBits: Int = 64,
      invertible: Boolean = true, compact: Boolean = false): CqfBuilder =
    new CqfBuilder(Cqf(quotientBits, hashBits, invertible, compact))

  def deserialize(bytes: Array[Byte]): CqfBuilder =
    new CqfBuilder(Cqf.deserialize(bytes))
}
