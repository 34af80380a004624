package graft.sketch

/** Bounded open-addressing pre-aggregation table over 64-bit keys —
  * the shared engine behind [[CqfBuilder]], [[CmsBuilder]] and
  * [[BloomBuilder]]. Counts occurrences of each distinct key in a small
  * linear-probe table and folds them into the wrapped sketch via
  * [[sink]] once per flush epoch: the duplicate-heavy streams that feed
  * key sketches then pay a 2-3-instruction probe per OCCURRENCE and the
  * sketch's full insert cost only per DISTINCT key. Measured on the
  * headline zipf workload (`KernelBench altbuild`, a main last present
  * at commit 059525a; perfbench's `sketch.cqf_builder_add_ns` vs
  * `sketch.cqf_insert_ns` is today's comparison): 2.5-3x at every
  * thread count for the CQF; the same table fronts CMS (whose weighted
  * `addHash` makes the fold exact) and Bloom (bit-OR idempotent, the
  * table just suppresses repeats).
  *
  * Two slot layouts, switched automatically:
  *
  *  - '''packed''' (the start mode): one `long` per slot, key in the
  *    high 40 bits and count in the low 24; empty = 0 (a present entry
  *    always counts >= 1). Half the bytes AND half the cache lines per
  *    probe of the wide layout — at 32 concurrent builders the tables
  *    are what thrash the shared L3, so this is worth ~1.6x at full
  *    fan-out (interleaved A/B, zipf shard workload). A count about to
  *    exceed 24 bits folds early into the sketch (sums stay exact); a
  *    key with any of the high 24 bits set (CMS/Bloom user keys,
  *    hashBits > 40 CQF hashes) migrates the table once, permanently,
  *    to the wide layout.
  *  - '''wide''' (the fallback): parallel `keys`/`cnts` long arrays;
  *    every 64-bit key value is valid (empty marked by count == 0).
  *
  * Memory: starts at 256 slots, quadruples to 2^17 max (1 MiB packed,
  * 2 MiB wide, transient per in-flight group), drains and restarts at
  * max — bounded regardless of distinct-key count. Not thread-safe
  * (one aggregation buffer per task, like the kernels).
  */
abstract class LongPreAgg extends Serializable {
  import LongPreAgg._

  // packed layout (tab != null iff packed mode is active)
  private var tab: Array[Long] = null
  // wide layout
  private var keys: Array[Long] = null
  private var cnts: Array[Long] = null
  private var mask: Long = 0L
  private var growAt: Int = 0
  private var used: Int = 0
  private var calls: Long = 0L
  private var bypass = false

  /** Fibonacci home slot: one multiply spreads strided raw keys (CMS/
    * Bloom tally user keys directly — ids with a power-of-two stride
    * would otherwise land in one probe cluster); high bits taken so
    * every key bit influences the slot. SINGLE-SOURCED: tally, migrate,
    * and both grow rehashes must agree on it or rehashed entries would
    * silently orphan from their probe chains. */
  @inline private def homeSlot(k: Long): Int =
    (((k * 0x9e3779b97f4a7c15L) >>> 17) & mask).toInt

  /** Fold one (key, count) into the wrapped sketch. Called once per
    * distinct key per flush epoch — or per occurrence after a bypass,
    * and possibly more than once per epoch for a key whose count
    * outgrew the packed 24-bit field (the sketch sums occurrences, so
    * split folds are content-identical). */
  protected def sink(key: Long, count: Long): Unit

  /** True once a max-cap drain observed duplication < 1.25× and routed
    * all subsequent tallies straight to the sketch (exposed for specs). */
  private[sketch] def bypassed: Boolean = bypass

  /** True while the one-long-per-slot layout is active (for specs). */
  private[sketch] def packedMode: Boolean = keys == null

  /** Count `count` occurrences of `key`. */
  final def tally(key: Long, count: Long): Unit = {
    if (count == 0L) return
    // a negative count OR-ed into a packed slot would smear its sign
    // bits across the KEY field and the drain would fold garbage into
    // the sketch; fail loudly instead (one predicted-not-taken branch)
    if (count < 0L) throw new IllegalArgumentException(
      s"tally: count must be positive, got $count")
    // adaptive bypass: when a full table drained with ~no duplication,
    // this stream is cardinality-dominated and the table would keep
    // paying probe+rehash+drain on top of every kernel insert (~10-16%
    // measured, `KernelBench distinct` at commit 059525a); route direct
    // from then on.
    // Content is unchanged either way — the sketch sums occurrences.
    if (bypass) { sink(key, count); return }
    calls += 1
    if (keys != null) tallyWide(key, count)
    else tallyPacked(key, count)
  }

  private def tallyPacked(key: Long, count: Long): Unit = {
    if ((key >>> PackedKeyBits) != 0L) { migrateToWide(); tallyWide(key, count); return }
    if (count > PackedCntMask) { sink(key, count); return } // can't buffer; fold now
    if (tab == null) allocPacked(InitSlots)
    var s = homeSlot(key)
    val packedKey = key << PackedCntBits
    while (true) {
      val cur = tab(s)
      if (cur == 0L) {
        tab(s) = packedKey | count
        used += 1
        if (used >= growAt) growOrFlushPacked()
        return
      } else if ((cur >>> PackedCntBits) == key) {
        val nc = (cur & PackedCntMask) + count
        if (nc > PackedCntMask) {
          // fold the oversized count now and free the slot. Clearing a
          // linear-probe slot can orphan a later same-chain entry (it
          // re-inserts at the hole on its next tally); both entries
          // drain and the sketch sums them — content stays exact.
          sink(key, nc); tab(s) = 0L; used -= 1
        } else tab(s) = packedKey | nc
        return
      } else s = ((s + 1).toLong & mask).toInt
    }
  }

  private def tallyWide(key: Long, count: Long): Unit = {
    if (keys == null) allocWide(InitSlots)
    var s = homeSlot(key)
    while (true) {
      if (cnts(s) == 0L) {
        keys(s) = key
        cnts(s) = count
        used += 1
        if (used >= growAt) growOrFlushWide()
        return
      } else if (keys(s) == key) {
        cnts(s) += count
        return
      } else s = ((s + 1).toLong & mask).toInt
    }
  }

  private def allocPacked(slots: Int): Unit = {
    tab = new Array[Long](slots)
    mask = (slots - 1).toLong
    growAt = slots * 7 / 10
    used = 0
  }

  private def allocWide(slots: Int): Unit = {
    tab = null
    keys = new Array[Long](slots)
    cnts = new Array[Long](slots)
    mask = (slots - 1).toLong
    growAt = slots * 7 / 10
    used = 0
  }

  /** One-way packed→wide rehash, triggered by the first key with high
    * bits set (e.g. the first tally of a hashBits=64 builder — a
    * 256-slot rehash, paid once). */
  private def migrateToWide(): Unit = {
    val ot = tab
    allocWide(if (ot == null) InitSlots else ot.length)
    if (ot == null) return
    var i = 0
    while (i < ot.length) {
      val cur = ot(i)
      if (cur != 0L) {
        val k = cur >>> PackedCntBits
        var s = homeSlot(k)
        while (cnts(s) != 0L) s = ((s + 1).toLong & mask).toInt
        keys(s) = k; cnts(s) = cur & PackedCntMask; used += 1
      }
      i += 1
    }
  }

  private def growOrFlushPacked(): Unit = {
    val cap = tab.length
    if (cap < MaxSlots) {
      // quadruple-capped rehash: hot keys keep accumulating in the table.
      // The cap must CLAMP (quadrupling from 2^8 steps 2^16 -> 2^18 and
      // never lands on 2^17, doubling the documented memory bound and
      // moving the drain/bypass point)
      val ot = tab
      allocPacked(math.min(cap << 2, MaxSlots))
      var i = 0
      while (i < ot.length) {
        val cur = ot(i)
        if (cur != 0L) {
          val k = cur >>> PackedCntBits
          var s = homeSlot(k)
          while (tab(s) != 0L) s = ((s + 1).toLong & mask).toInt
          tab(s) = cur; used += 1
        }
        i += 1
      }
    } else {
      if (calls < used.toLong * 5 / 4) bypass = true
      drain()
    }
  }

  private def growOrFlushWide(): Unit = {
    val cap = keys.length
    if (cap < MaxSlots) {
      // clamped like growOrFlushPacked — see the comment there
      val ok = keys; val oc = cnts
      allocWide(math.min(cap << 2, MaxSlots))
      var i = 0
      while (i < ok.length) {
        if (oc(i) != 0L) {
          var s = homeSlot(ok(i))
          while (cnts(s) != 0L) s = ((s + 1).toLong & mask).toInt
          keys(s) = ok(i); cnts(s) = oc(i); used += 1
        }
        i += 1
      }
    } else {
      if (calls < used.toLong * 5 / 4) bypass = true
      drain()
    }
  }

  /** Fold every table entry into the sketch and clear the table. The
    * scan is O(capacity); mid-stream callers (growOrFlush at max cap)
    * keep the table hot, but epoch-boundary callers go through
    * [[drainAndShrink]] so a table grown by one heavy epoch does not
    * make every later epoch's eval scan megabytes for a handful of
    * entries (the windowed-aggregation shape: result() per frame). */
  protected final def drain(): Unit = {
    calls = 0L
    if (used == 0) return
    if (keys != null) {
      var i = 0
      while (i < keys.length) {
        if (cnts(i) != 0L) { sink(keys(i), cnts(i)); cnts(i) = 0L }
        i += 1
      }
    } else if (tab != null) {
      var i = 0
      while (i < tab.length) {
        val cur = tab(i)
        if (cur != 0L) { sink(cur >>> PackedCntBits, cur & PackedCntMask); tab(i) = 0L }
        i += 1
      }
    }
    used = 0
  }

  /** Java-serialization hook (the typed-Aggregator udaf path ships the
    * builder as its shuffle buffer): fold the buffered counts into the
    * sketch and release a grown table FIRST, so a partial buffer ships
    * kilobytes of live sketch instead of megabytes of mostly-empty
    * probe slots. Content is identical — the sketch sums occurrences. */
  @throws[java.io.IOException]
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    drainAndShrink()
    out.defaultWriteObject()
  }

  /** [[drain]], then release a grown-but-now-sparse table back to the
    * initial size when the epoch used under 1/8 of its slots. */
  protected final def drainAndShrink(): Unit = {
    val sparse = used.toLong * 8 < (if (keys != null) keys.length
      else if (tab != null) tab.length else 0).toLong
    drain()
    if (sparse) {
      if (keys != null && keys.length > InitSlots) allocWide(InitSlots)
      else if (tab != null && tab.length > InitSlots) allocPacked(InitSlots)
    }
  }
}

object LongPreAgg {
  private final val InitSlots = 1 << 8
  private final val MaxSlots = 1 << 17
  private final val PackedCntBits = 24
  private final val PackedKeyBits = 64 - PackedCntBits
  private final val PackedCntMask = (1L << PackedCntBits) - 1
}

/** Pre-aggregated Count-Min build: long keys tally in the table (the
  * two seed mixes deferred to the fold, so repeats pay neither mix);
  * byte keys go straight to the sketch (their mixes must run per
  * occurrence anyway, and CMS counter addition commutes, so interleaved
  * direct/table updates stay exact). Output bytes identical to direct
  * per-token adds. */
final class CmsBuilder(val cms: CountMinSketch) extends LongPreAgg {
  protected def sink(key: Long, count: Long): Unit = cms.add(key, count)
  @inline def add(key: Long): Unit = tally(key, 1L)
  @inline def addBytes(h1: Long, h2: Long): Unit = cms.addHash(h1, h2, 1L)
  def result(): CountMinSketch = { drainAndShrink(); cms }
  def mergeInPlace(other: CmsBuilder): CmsBuilder = {
    // the builder wraps `cms` immutably, so a merge that ADOPTS the
    // other operand (stateless side + mismatched shape) would be
    // silently dropped — builders always share one aggregate's config,
    // so demand the in-place path and fail loudly otherwise
    val merged = result().mergeInPlace(other.result())
    require(merged eq cms,
      "CmsBuilder merge adopted the other operand (shape mismatch?) — " +
      "builders require identical sketch parameters")
    this
  }
}

/** Pre-aggregated Bloom build: the table suppresses repeated keys (bit
  * OR is idempotent — the count is ignored at the fold). */
final class BloomBuilder(val bloom: BloomSketch) extends LongPreAgg {
  protected def sink(key: Long, count: Long): Unit = bloom.add(key)
  @inline def add(key: Long): Unit = tally(key, 1L)
  @inline def addBytes(h1: Long, h2: Long): Unit = bloom.addHash(h1, h2)
  def result(): BloomSketch = { drainAndShrink(); bloom }
  def mergeInPlace(other: BloomBuilder): BloomBuilder = {
    // see CmsBuilder.mergeInPlace — an adopting merge must not be
    // silently dropped by the immutable wrapper
    val merged = result().mergeInPlace(other.result())
    require(merged eq bloom,
      "BloomBuilder merge adopted the other operand (shape mismatch?) — " +
      "builders require identical sketch parameters")
    this
  }
}
