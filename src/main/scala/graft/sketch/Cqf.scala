package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** Counting Quotient Filter — a from-scratch JVM implementation of the
  * Pandey et al. (SIGMOD'17) counting quotient filter with the same
  * observable semantics as the reference Rust crate:
  *
  *   - a 64-bit hash is split into quotient (high `quotientBits` bits) and
  *     remainder (low `hashBits - quotientBits` bits)
  *     (ref: /root/reference/src/cqf/u64_cqf.rs:346-355);
  *   - slots are grouped in blocks of 64 with three metadata bitvectors
  *     (occupieds / runends / counts) plus a per-block offset
  *     (ref: /root/reference/src/blocks/u64_blocks.rs:9-16);
  *   - a multiplicity > 1 is encoded by placing the count value in the slot
  *     after the remainder and setting that slot's `counts` bit
  *     (ref: /root/reference/src/blocks/u64_blocks.rs:43-62);
  *   - runs are remainder-sorted and located by rank/select over the
  *     metadata bitvectors (ref: /root/reference/src/blocks.rs:32-83);
  *   - iteration yields (hash, count) in ascending hash order; with the
  *     invertible Wang hash the original keys are recoverable
  *     (ref: /root/reference/src/cqf/u64_cqf.rs:551-706);
  *   - merge is an O(n+m) sorted two-pointer merge with counts summed on
  *     equal hashes (ref: /root/reference/src/cqf.rs:218-334).
  *
  * Deliberate deviations from the reference (documented in SURVEY.md §7.1):
  * counts are 64-bit in the default wide mode (the `compact` mode mirrors
  * the reference's U32Cqf half-width slots, with counts saturating at
  * 2^32-1 instead of silently truncating); the filter auto-grows (rebuilds
  * at q+1) instead of surfacing a Filled error — required because a
  * distributed aggregation cannot fail mid-merge; storage is a plain heap
  * Array[Long] (no mmap).
  *
  * Layout: one flat Array[Long]; per block [offset, occupieds, runends,
  * counts] metadata words followed by the 64 remainder slots (64 longs
  * wide mode, 32 longs compact mode).
  */
final class Cqf private (
    private var _quotientBits: Int,
    val hashBits: Int,
    private var _invertible: Boolean,
    private var _compact: Boolean,
    private var blocks: Array[Long],
    private var _occupiedSlots: Long
) extends Serializable {
  import Cqf._

  /** Keys are recoverable from hashes only when EVERY merged-in source was
    * built invertibly; merges reconcile this with a logical AND. */
  def invertible: Boolean = _invertible
  /** Half-width (u32) slots; merges reconcile to wide unless both sides
    * are compact (a rebuild widens the layout when flags disagree). */
  def compact: Boolean = _compact

  /** Longs per block: metadata (offset/occupieds/runends/counts) + slots. */
  @inline private def Stride: Int = if (compact) 36 else 68

  def quotientBits: Int = _quotientBits
  def remainderBits: Int = hashBits - _quotientBits
  def occupiedSlots: Long = _occupiedSlots
  def numSlots: Long = 1L << _quotientBits
  // hot-path constants (numRealSlots involves a sqrt, numBlocks a division;
  // both sit inside per-insert loops) — cached, refreshed when blocks swap
  private var _numRealSlots: Long = realSlots(_quotientBits)
  private var _numBlocks: Int = blocks.length / Stride
  private var _maxOccupied: Long = (LoadFactor * (1L << _quotientBits)).toLong
  def numRealSlots: Long = _numRealSlots
  def numBlocks: Int = _numBlocks
  def maxOccupiedSlots: Long = _maxOccupied
  private def refreshDerived(): Unit = {
    _numRealSlots = realSlots(_quotientBits)
    _numBlocks = blocks.length / Stride
    _maxOccupied = (LoadFactor * (1L << _quotientBits)).toLong
  }
  def sizeBytes: Long = 8L * (HeaderLongs + blocks.length)

  // ---- block/bit primitives -------------------------------------------

  @inline private def base(b: Int): Int = b * Stride
  @inline private def offsetOf(b: Int): Long = blocks(base(b))
  @inline private def setOffset(b: Int, v: Long): Unit = blocks(base(b)) = v
  @inline private def occWord(b: Int): Long = blocks(base(b) + 1)
  @inline private def runWord(b: Int): Long = blocks(base(b) + 2)
  @inline private def cntWord(b: Int): Long = blocks(base(b) + 3)
  @inline private def slotGet(i: Long): Long =
    if (!compact) blocks(((i >>> 6) * Stride + 4 + (i & 63L)).toInt)
    else {
      val slot = (i & 63L).toInt
      val w = blocks(((i >>> 6) * Stride + 4 + (slot >> 1)).toInt)
      if ((slot & 1) == 0) w & 0xffffffffL else w >>> 32
    }
  @inline private def slotSet(i: Long, v0: Long): Unit =
    if (!compact) blocks(((i >>> 6) * Stride + 4 + (i & 63L)).toInt) = v0
    else {
      // compact slots are 32-bit; remainders always fit (remainderBits <=
      // 32 enforced at construction), counts SATURATE at 2^32-1 — the
      // reference's U32Cqf truncates instead (/root/reference/src/cqf/
      // u32_cqf.rs:160); saturation is the safer analog
      val v = if (v0 > 0xffffffffL || v0 < 0) 0xffffffffL else v0
      val slot = (i & 63L).toInt
      val idx = ((i >>> 6) * Stride + 4 + (slot >> 1)).toInt
      val w = blocks(idx)
      blocks(idx) =
        if ((slot & 1) == 0) (w & 0xffffffff00000000L) | v
        else (w & 0x00000000ffffffffL) | (v << 32)
    }

  @inline private def getBit(word: Int, i: Long): Boolean = {
    val b = (i >>> 6).toInt
    if (b >= numBlocks) false
    else (blocks(base(b) + word) & (1L << (i & 63L))) != 0L
  }
  @inline private def setBit(word: Int, i: Long, bit: Boolean): Unit = {
    val idx = base((i >>> 6).toInt) + word
    if (bit) blocks(idx) |= (1L << (i & 63L))
    else blocks(idx) &= ~(1L << (i & 63L))
  }

  @inline private def isOccupied(i: Long): Boolean = getBit(1, i)
  @inline private def isRunend(i: Long): Boolean = getBit(2, i)
  @inline private def isCountSlot(i: Long): Boolean = getBit(3, i)
  @inline private def setOccupied(i: Long, v: Boolean): Unit = setBit(1, i, v)
  @inline private def setRunend(i: Long, v: Boolean): Unit = setBit(2, i, v)
  @inline private def setCountBit(i: Long, v: Boolean): Unit = setBit(3, i, v)
  @inline private def anyMetaBits(i: Long): Boolean =
    isOccupied(i) || isRunend(i) || isCountSlot(i)

  // ---- rank/select ----------------------------------------------------

  /** Position of the runend terminating quotient q's run (standard RSQF
    * rank/select walk, semantics of /root/reference/src/blocks.rs:32-83). */
  private def runEnd(quotient: Long): Long = {
    val bi = (quotient >>> 6).toInt
    val si = (quotient & 63L).toInt
    val blockOffset = offsetOf(bi)
    val intraRank = bitrank(occWord(bi), si)
    if (intraRank == 0) {
      if (blockOffset <= si) return quotient
      else return (bi.toLong << 6) + blockOffset - 1
    }
    var rbi = bi + (blockOffset >>> 6).toInt
    var ignore = (blockOffset & 63L).toInt
    var rank = intraRank - 1
    // same bound the loop applies after each jump: a last-block offset of
    // 64 (cluster ending at the final real slot) lands the INITIAL rbi
    // one past the array
    if (rbi >= numBlocks) return quotient // defensive; cushion prevents
    var pos = bitselectv(runWord(rbi), ignore, rank)
    while (pos == 64) {
      rank -= popcntv(runWord(rbi), ignore)
      rbi += 1
      ignore = 0
      if (rbi >= numBlocks) return quotient // defensive; cushion prevents
      pos = bitselectv(runWord(rbi), ignore, rank)
    }
    val runendIndex = (rbi.toLong << 6) + pos
    if (runendIndex < quotient) quotient else runendIndex
  }

  @inline private def runStart(quotient: Long): Long =
    if (quotient == 0L) 0L else runEnd(quotient - 1) + 1

  /** Cheap lower bound on the displacement of quotient's slot
    * (ref: /root/reference/src/blocks.rs:142-156). */
  private def offsetLowerBound(quotient: Long): Long = {
    val bi = (quotient >>> 6).toInt
    val si = (quotient & 63L).toInt
    val occ = occWord(bi) & bitmask(si + 1)
    val off = offsetOf(bi)
    if (off <= si) {
      val run = (runWord(bi) & bitmask(si)) >>> off
      java.lang.Long.bitCount(occ).toLong - java.lang.Long.bitCount(run)
    } else off + java.lang.Long.bitCount(occ) - si
  }

  private def findFirstEmptySlot(from0: Long): Long = {
    var from = from0
    // the ENTRY position needs the same bound as the jump loop: a run
    // ending at the last real slot makes callers pass from0 ==
    // numRealSlots (insertIndex = runend + 1), and offsetLowerBound
    // there reads one block past the array — that must surface as
    // FullException (grow-and-retry), not ArrayIndexOutOfBounds
    if (from >= numRealSlots) throw FullException
    var jump = offsetLowerBound(from)
    while (jump != 0L) {
      from += jump
      if (from >= numRealSlots) throw FullException
      jump = offsetLowerBound(from)
    }
    from
  }

  // ---- decode ---------------------------------------------------------

  // decode scratch (kernel instances are per-task buffers, single-threaded)
  @transient private var decRemainder: Long = 0L
  @transient private var decCount: Long = 0L

  /** Decode the counter at slot `pos` (which must hold a remainder).
    * Returns the slot the entry ends at (== pos, or pos+1 when a count
    * slot follows); fills decRemainder/decCount.
    * Semantics of /root/reference/src/blocks/u64_blocks.rs:43-62. */
  @inline private def decodeEnd(pos: Long): Long = {
    decRemainder = slotGet(pos)
    if (isRunend(pos) || !isCountSlot(pos + 1)) { decCount = 1L; pos }
    else { decCount = slotGet(pos + 1); pos + 1 }
  }

  // ---- insert ---------------------------------------------------------

  /** Insert `count` occurrences of pre-hashed value `hash`. Auto-grows when
    * the 95% load cap is reached (deviation from the reference's Filled
    * error, see class doc). */
  def insertHash(hash: Long, count: Long): Unit = {
    if (count == 0L) return
    // a negative count would saturate compact slots to 2^32-1 and store
    // raw sign bits in wide slots (breaking queryHash/contains/merge);
    // fail loudly at the entry point — deletion is setCountHash(h, 0)
    if (count < 0L) throw new IllegalArgumentException(
      s"insert: count must be non-negative, got $count")
    if (_occupiedSlots + 2 > maxOccupiedSlots) grow()
    var retry = true
    while (retry) {
      retry = false
      try insertHashInternal(hash, count)
      catch { case FullException => grow(); retry = true }
    }
  }

  private def insertHashInternal(hash: Long, count: Long): Unit = {
    val rBits = remainderBits
    val quotient = (hash >>> rBits) & bitmask(_quotientBits)
    val remainder = hash & bitmask(rBits)
    var runstart = runStart(quotient)
    if (!anyMetaBits(quotient) && runstart == quotient) {
      if (count == 1L) {
        // empty, unshifted home slot: place directly
        setRunend(quotient, true)
        slotSet(quotient, remainder)
        setOccupied(quotient, true)
        _occupiedSlots += 1
      } else {
        // new run with a count slot; insertAndShift pre-checks capacity
        // before mutating, keeping insert transactional under grow-retry
        insertAndShift(0, quotient, remainder, count, quotient, 0)
        setOccupied(quotient, true)
      }
    } else {
      if (!isOccupied(quotient)) {
        insertAndShift(0, quotient, remainder, count, runstart, 0)
      } else {
        var qend = decodeEnd(runstart)
        while (decRemainder < remainder && !isRunend(qend)) {
          runstart = qend + 1
          qend = decodeEnd(runstart)
        }
        if (decRemainder < remainder) {
          insertAndShift(1, quotient, remainder, count, qend + 1, 0)
        } else if (decRemainder == remainder) {
          if (qend != runstart) {
            // dominant path in heavy-duplicate workloads: a count slot
            // already exists — bump it in place, no shifting/re-encoding
            slotSet(qend, decCount + count)
          } else insertAndShift(
            if (isRunend(qend)) 1 else 2,
            quotient, remainder, decCount + count,
            runstart, qend - runstart + 1)
        } else {
          insertAndShift(2, quotient, remainder, count, runstart, 0)
        }
      }
      setOccupied(quotient, true)
    }
  }

  /** Open an empty slot at `insertIndex` by shifting [insertIndex, empty)
    * right by one; maintains per-block offsets exactly
    * (semantics of /root/reference/src/cqf/u64_cqf.rs:446-456).
    * `empty` must be the first empty slot at or after insertIndex. */
  private def makeGapAt(quotient: Long, insertIndex: Long, empty: Long): Unit = {
    var i = empty - 1
    while (i >= insertIndex) {
      slotSet(i + 1, slotGet(i))
      setRunend(i + 1, isRunend(i))
      setCountBit(i + 1, isCountSlot(i))
      i -= 1
    }
    var b = (quotient >>> 6) + 1
    val lastB = empty >>> 6
    while (b <= lastB) {
      setOffset(b.toInt, offsetOf(b.toInt) + 1)
      b += 1
    }
  }

  /** Insert (remainder[, count]) at insertIndex inside quotient's run.
    * operation: 0 = brand-new run, 1 = append/extend at run end,
    * 2 = insert before an existing element (run continues after).
    * noverwrites: existing slots of this entry being re-encoded in place.
    * Mirrors /root/reference/src/cqf/u64_cqf.rs:433-527. */
  private def insertAndShift(operation: Int, quotient: Long, remainder: Long,
      count: Long, insertIndex: Long, noverwrites: Long): Unit = {
    val ninserts = (if (count == 1L) 1L else 2L) - noverwrites
    if (ninserts > 0) {
      // Locate all needed empty slots BEFORE mutating, so a FullException
      // (cushion exhausted) leaves the filter untouched and insertHash can
      // grow and retry safely.
      if (ninserts == 1) {
        val e = findFirstEmptySlot(insertIndex)
        makeGapAt(quotient, insertIndex, e)
      } else if (ninserts == 2) {
        val e1 = findFirstEmptySlot(insertIndex)
        val e2 = findFirstEmptySlot(e1 + 1) // slots past e1 unchanged by gap 1
        makeGapAt(quotient, insertIndex, e1)
        makeGapAt(quotient, insertIndex + 1, e2)
      } else throw new IllegalStateException(s"ninserts=$ninserts")
      operation match {
        case 0 =>
          if (count == 1L) setRunend(insertIndex, true)
          else { setRunend(insertIndex, false); setRunend(insertIndex + 1, true) }
        case 1 =>
          if (noverwrites == 0) setRunend(insertIndex - 1, false)
          if (count == 1L) setRunend(insertIndex, true)
          else { setRunend(insertIndex, false); setRunend(insertIndex + 1, true) }
        case 2 =>
          setRunend(insertIndex, false)
          if (count != 1L) setRunend(insertIndex + 1, false)
      }
    }
    slotSet(insertIndex, remainder)
    if (count != 1L) {
      setCountBit(insertIndex + 1, true)
      slotSet(insertIndex + 1, count)
    }
    _occupiedSlots += math.max(ninserts, 0)
  }

  // ---- query ----------------------------------------------------------

  /** Multiplicity of pre-hashed value `hash` (0 when absent; no false
    * negatives; semantics of /root/reference/src/cqf/u64_cqf.rs:263-293). */
  def queryHash(hash: Long): Long = {
    val rBits = remainderBits
    val quotient = (hash >>> rBits) & bitmask(_quotientBits)
    val remainder = hash & bitmask(rBits)
    if (!isOccupied(quotient)) return 0L
    var pos = runStart(quotient)
    if (pos < quotient) pos = quotient
    while (true) {
      val qend = decodeEnd(pos)
      if (decRemainder == remainder) return decCount
      // runs are kept remainder-sorted by every write path (insert scans
      // to sorted position; append emits sorted; set_count overwrites in
      // place), so the first larger remainder proves absence — halves
      // the average probe cost of absent keys on loaded filters
      if (decRemainder > remainder) return 0L
      if (isRunend(qend)) return 0L
      pos = qend + 1
    }
    0L
  }

  /** Overwrite the multiplicity of `hash` to exactly `count`; inserts when
    * absent; `count = 0` deletes by overwrite (semantics of
    * /root/reference/src/cqf.rs:129-139). Auto-grows like insertHash when
    * opening the count slot needs space the cushion can't provide. */
  def setCountHash(hash: Long, count: Long): Unit = {
    if (count < 0L) throw new IllegalArgumentException(
      s"set_count: count must be non-negative, got $count")
    var retry = true
    while (retry) {
      retry = false
      // grow() rebuilds at a new quotient width, so the retry must
      // re-derive quotient/remainder from `hash` — hence internal split
      try setCountHashInternal(hash, count)
      catch { case FullException => grow(); retry = true }
    }
  }

  private def setCountHashInternal(hash: Long, count: Long): Unit = {
    val rBits = remainderBits
    val quotient = (hash >>> rBits) & bitmask(_quotientBits)
    val remainder = hash & bitmask(rBits)
    if (!isOccupied(quotient)) { insertHash(hash, count); return }
    var runstart = runStart(quotient)
    if (runstart < quotient) runstart = quotient
    var qend = decodeEnd(runstart)
    while (decRemainder < remainder && !isRunend(qend)) {
      runstart = qend + 1
      qend = decodeEnd(runstart)
    }
    if (decRemainder != remainder) { insertHash(hash, count); return }
    if (decCount == count) return
    if (isCountSlot(runstart + 1)) {
      slotSet(runstart + 1, count) // count slot exists: overwrite in place
    } else {
      // no count slot yet (current multiplicity 1): open one
      insertAndShift(
        if (isRunend(qend)) 1 else 2,
        quotient, remainder, count, runstart, qend - runstart + 1)
    }
  }

  // ---- convenience key API -------------------------------------------

  @inline def keyHash(key: Long): Long = WangHash.hash(key, hashBits)
  def insert(key: Long, count: Long = 1L): Unit = insertHash(keyHash(key), count)
  def count(key: Long): Long = queryHash(keyHash(key))
  def contains(key: Long): Boolean = count(key) > 0
  def setCount(key: Long, c: Long): Unit = setCountHash(keyHash(key), c)

  /** Non-invertible byte-key path (string keys): keys are folded through
    * mix64 and masked to hashBits; enumeration cannot recover them.
    * WRITING a byte key therefore clears the invertible flag — otherwise
    * a filter built invertibly over longs would, after one byte-key
    * write, "recover" fabricated long keys for the folded hashes. */
  @inline def bytesHash(bytes: Array[Byte]): Long = Cqf.bytesKeyHash(bytes, hashBits)
  /** For byte-key writers that insert via pre-folded hashes (e.g.
    * [[CqfBuilder.addBytes]]'s tally path): the write is lossy, so the
    * filter must stop claiming key recovery, same as [[insertBytes]]. */
  private[sketch] def markNonInvertible(): Unit = _invertible = false
  def insertBytes(bytes: Array[Byte], count: Long = 1L): Unit = {
    _invertible = false
    insertHash(bytesHash(bytes), count)
  }
  def setCountBytes(bytes: Array[Byte], c: Long): Unit = {
    _invertible = false
    setCountHash(bytesHash(bytes), c)
  }
  def countBytes(bytes: Array[Byte]): Long = queryHash(bytesHash(bytes))

  // ---- iteration ------------------------------------------------------

  /** Allocation-free in-order enumeration (the reference's ref iterator,
    * /root/reference/src/cqf/u64_cqf.rs:559-600, as a primitive cursor):
    * `advance()` steps to the next entry and exposes it via the `hash` /
    * `count` fields — no per-entry tuple, for generator and stats hot
    * paths. Zero-count entries — left behind by `setCountHash(h, 0)`
    * (deletion by overwrite) — are skipped, so rebuilds (grow/merge)
    * re-encode a well-formed filter and never emit an entry whose runend
    * bookkeeping would be dropped by the append cursor. */
  final class EntryCursor private[Cqf] () {
    private var curQ: Long = nextOccupiedQuotient(0L) // -1 if none
    private var pos: Long = curQ
    var hash: Long = 0L
    var count: Long = 0L
    def advance(): Boolean = {
      while (curQ >= 0) {
        val qend = decodeEnd(pos)
        val h = (curQ << remainderBits) | decRemainder
        val c = decCount
        val end = isRunend(qend)
        pos = qend + 1
        if (end) {
          curQ = nextOccupiedQuotient(curQ + 1)
          if (curQ >= 0 && pos < curQ) pos = curQ
        }
        if (c != 0L) { hash = h; count = c; return true }
      }
      false
    }
  }

  def cursor: EntryCursor = new EntryCursor

  /** Tuple view of [[cursor]] in ascending hash order. */
  def iterator: Iterator[(Long, Long)] = {
    val cur = new EntryCursor
    new Iterator[(Long, Long)] {
      private var has = cur.advance()
      def hasNext: Boolean = has
      def next(): (Long, Long) = {
        val t = (cur.hash, cur.count)
        has = cur.advance()
        t
      }
    }
  }

  /** Ascending iteration of (original key, count); requires `invertible`. */
  def keyIterator: Iterator[(Long, Long)] = {
    require(invertible, "keyIterator requires an invertible hash")
    iterator.map { case (h, c) => (WangHash.unhash(h, hashBits), c) }
  }

  private def nextOccupiedQuotient(from: Long): Long = {
    if (from >= numSlots) return -1L
    var b = (from >>> 6).toInt
    var w = occWord(b) & ~bitmask((from & 63L).toInt)
    while (w == 0L) {
      b += 1
      if (b >= numBlocks) return -1L
      w = occWord(b)
    }
    val q = (b.toLong << 6) + java.lang.Long.numberOfTrailingZeros(w)
    if (q >= numSlots) -1L else q
  }

  /** Number of distinct stored hashes (O(#slots/64 + #entries)). */
  def distinctCount: Long = {
    var n = 0L
    val c = cursor
    while (c.advance()) n += 1
    n
  }

  /** Sum of all multiplicities. */
  def totalCount: Long = {
    var n = 0L
    val c = cursor
    while (c.advance()) n += c.count
    n
  }

  /** (distinct, total) in ONE cursor pass — callers that need both
    * (per-key streaming emits on every trigger) would otherwise walk
    * the whole filter twice. */
  def distinctAndTotal: (Long, Long) = {
    var d = 0L
    var t = 0L
    val c = cursor
    while (c.advance()) { d += 1; t += c.count }
    (d, t)
  }

  // ---- merge / grow ---------------------------------------------------

  /** Append (hash, count) with strictly ascending hashes; `isLast` marks
    * the final element of its quotient's run. Exact offset maintenance
    * (cf. /root/reference/src/cqf/u64_cqf.rs:153-192, with the offset
    * update tightened from += to a covered-slots max so post-merge inserts
    * stay exact). */
  private final class AppendCursor {
    var cursor: Long = 0L
    def append(q: Long, rem: Long, cnt: Long, isLast: Boolean): Unit = {
      if (cnt == 0L) return
      if (math.max(cursor, q) + (if (cnt != 1L) 2 else 1) > numRealSlots)
        throw FullException
      setOccupied(q, true)
      if (cursor < q) cursor = q
      val slots = if (cnt != 1L) 2 else 1
      slotSet(cursor, rem)
      if (cnt != 1L) { setCountBit(cursor + 1, true); slotSet(cursor + 1, cnt) }
      cursor += slots
      if (isLast) setRunend(cursor - 1, true)
      _occupiedSlots += slots
      var b = (q >>> 6) + 1
      val lastB = (cursor - 1) >>> 6
      while (b <= lastB) {
        val covered = cursor - (b << 6)
        if (covered > offsetOf(b.toInt)) setOffset(b.toInt, covered)
        b += 1
      }
    }
  }

  /** Rebuild this filter at quotientBits+1 (same hashBits), re-appending
    * all entries in order — adopted from the reference's dead auto-resizing
    * merge (/root/reference/src/old/old_cqf.rs:1032-1062). */
  private def grow(): Unit = {
    val bigger = Cqf.growing(_quotientBits + 1, hashBits)(
      Cqf.fromSortedHashes(iterator, _, hashBits, invertible, compact))
    _quotientBits = bigger._quotientBits
    blocks = bigger.blocks
    _occupiedSlots = bigger._occupiedSlots
    refreshDerived()
  }

  /** Merge `other` into this filter (counts summed on equal hashes).
    * Small-into-large merges insert in place; otherwise an O(n+m) sorted
    * rebuild. Grows as needed. Associative & commutative in content. */
  def mergeInPlace(other: Cqf): Cqf = {
    require(other.hashBits == hashBits,
      s"cannot merge CQFs with hashBits $hashBits vs ${other.hashBits}")
    if (other._occupiedSlots == 0) return this
    // flag reconciliation: keys stay recoverable only if BOTH non-empty
    // sides were built invertibly; the container stays compact only if
    // both are. An EMPTY side contributes no flags (here: an empty
    // accumulator adopts other's; above: an empty delta is a no-op) —
    // the same semantic as Cqf.merge/reconciledFlags, so both merge
    // surfaces produce identical metadata for identical inputs.
    val wasEmpty = _occupiedSlots == 0
    val (inv, outCompact) = Cqf.reconciledFlags(this, other)
    _invertible = inv
    if (wasEmpty && other._quotientBits >= _quotientBits) {
      _quotientBits = other._quotientBits
      _compact = other._compact
      blocks = other.blocks.clone()
      _occupiedSlots = other._occupiedSlots
      refreshDerived()
      return this
    }
    // fast path: a small delta inserted into a large accumulator avoids
    // rebuilding the accumulator per partial (k-way sequential merges of
    // map-side partials would otherwise cost O(k*n)). Only below ~70%
    // occupancy: Robin-Hood cluster lengths blow up as load -> 95%, so
    // high-load merges are cheaper as sorted rebuilds. Requires the layout
    // flag to already match the reconciled result (a compact accumulator
    // absorbing a wide delta must instead widen via rebuild).
    if (_compact == outCompact &&
        other._occupiedSlots * 8 <= _occupiedSlots &&
        _quotientBits >= other._quotientBits &&
        (_occupiedSlots + other._occupiedSlots) * 10 <= numSlots * 7) {
      val cu = other.cursor
      while (cu.advance()) insertHash(cu.hash, cu.count)
      return this
    }
    var q = math.max(_quotientBits, other._quotientBits)
    val needed = _occupiedSlots + other._occupiedSlots
    while ((LoadFactor * (1L << q)).toLong < needed && q < hashBits) q += 1
    val merged = Cqf.growing(q, hashBits)(
      Cqf.mergedFrom(this, other, _, hashBits, _invertible, outCompact))
    _quotientBits = merged._quotientBits
    _compact = outCompact
    blocks = merged.blocks
    _occupiedSlots = merged._occupiedSlots
    refreshDerived()
    this
  }

  // ---- set algebra over sorted enumeration ---------------------------

  /** Intersection: min count on hashes present in both. */
  def intersect(other: Cqf): Cqf =
    Cqf.mergeBy(this, other, (a, b) => if (a > 0 && b > 0) math.min(a, b) else 0L)

  /** Difference: saturating subtract other's counts from this's. */
  def diff(other: Cqf): Cqf =
    Cqf.mergeBy(this, other, (a, b) => math.max(a - b, 0L))

  // ---- serialization --------------------------------------------------

  def serialize(): Array[Byte] = {
    val buf = ByteBuffer.allocate((8 * (HeaderLongs + blocks.length)))
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(Magic)
    buf.putLong(_quotientBits.toLong | (hashBits.toLong << 8) |
      ((if (invertible) 1L else 0L) << 16) |
      ((if (compact) 1L else 0L) << 17))
    buf.putLong(_occupiedSlots)
    buf.putLong(blocks.length.toLong)
    buf.asLongBuffer().put(blocks)
    buf.array()
  }

  override def equals(o: Any): Boolean = o match {
    case c: Cqf =>
      c.hashBits == hashBits && c._quotientBits == _quotientBits &&
        c.invertible == invertible && c.compact == compact &&
        c._occupiedSlots == _occupiedSlots &&
        java.util.Arrays.equals(c.blocks, blocks)
    case _ => false
  }
  override def hashCode(): Int = java.util.Arrays.hashCode(blocks)
  override def toString: String =
    s"Cqf(q=${_quotientBits}, hashBits=$hashBits, occupied=${_occupiedSlots}/" +
      s"$maxOccupiedSlots, invertible=$invertible)"
}

object Cqf {

  /** The capacity-retry loop of every rebuild (grow, mergeInPlace,
    * fromSortedHashesGrowing, mergeBy, importRefLayout): `build` at
    * `startQ`, and on a capacity miss (the private FullException) again
    * one quotient bit larger. Any other failure is a real bug and
    * escapes. Past hashBits (or 62) a build cannot help —
    * fromSortedHashes would derive a negative remainder width / wrapped
    * slot count — so every attempt, the first included, is checked
    * first and fails with a clean error instead of looping or
    * allocating garbage. */
  private def growing(startQ: Int, hashBits: Int)(build: Int => Cqf): Cqf = {
    var q = startQ
    var res: Cqf = null
    while (res == null) {
      if (q > hashBits || q > 62) throw new IllegalStateException(
        s"CQF is full and cannot grow: quotientBits=${q - 1} has " +
        s"reached hashBits=$hashBits, so the filter cannot hold more " +
        s"distinct hashes plus count slots. Configure a larger hashBits " +
        s"(64 is exact for long keys) or fewer distinct keys per group.")
      try res = build(q)
      catch { case FullException => q += 1 }
    }
    res
  }
  private final val HeaderLongs = 4
  private[sketch] final val Magic = 0x3146514354465247L // "GRFTCQF1"
  /** 95% load cap, as the reference (/root/reference/src/cqf.rs:81). */
  final val LoadFactor = 0.95

  /** Canonical byte-key (string) hash shared by the aggregate and the
    * probe expressions so lookups match inserts. */
  def bytesKeyHash(bytes: Array[Byte], hashBits: Int): Long =
    WangHash.mixBytes(bytes, 0x517cc1b727220a95L) & bitmask(hashBits)

  private object FullException extends RuntimeException {
    override def fillInStackTrace(): Throwable = this
  }

  @inline private def bitmask(n: Int): Long =
    if (n >= 64) -1L else (1L << n) - 1L
  @inline private def bitrank(word: Long, pos: Int): Long =
    java.lang.Long.bitCount(word & (if (pos >= 63) -1L else (2L << pos) - 1)).toLong
  @inline private def popcntv(word: Long, ignore: Int): Long =
    java.lang.Long.bitCount(word & ~bitmask(ignore)).toLong
  /** selectInByte(r*256 + b) = index of the (r+1)-th set bit of byte b
    * (8 when absent) — the JVM stand-in for the reference's pdep/tzcnt
    * select (/root/reference/src/lib.rs:63-65): select64 skips whole bytes
    * by popcount and finishes with one table lookup, replacing the former
    * clear-lowest-bit loop (up to 64 iterations) on the insert hot path. */
  private val selectInByte: Array[Byte] = {
    val t = new Array[Byte](256 * 8)
    var b = 0
    while (b < 256) {
      var r = 0
      while (r < 8) {
        var cnt = r
        var found = 8
        var i = 0
        while (i < 8 && found == 8) {
          if (((b >> i) & 1) == 1) { if (cnt == 0) found = i else cnt -= 1 }
          i += 1
        }
        t(r * 256 + b) = found.toByte
        r += 1
      }
      b += 1
    }
    t
  }

  /** Index of the (rank+1)-th set bit of `word`; 64 when absent. */
  @inline private def select64(word: Long, rank: Long): Long = {
    var r = rank.toInt
    var shifted = word
    var base = 0
    while (base < 64) {
      val byte = (shifted & 0xffL).toInt
      val c = Integer.bitCount(byte)
      if (r < c) return base + selectInByte(r * 256 + byte)
      r -= c
      shifted >>>= 8
      base += 8
    }
    64L
  }

  /** Index of the rank-th set bit of `word` at or above bit `ignore`;
    * 64 when absent. */
  @inline private def bitselectv(word: Long, ignore: Int, rank: Long): Long =
    select64(word & ~bitmask(ignore), rank)

  /** num_real_slots = 2^q + 10·sqrt(2^q) overflow cushion, rounded up to a
    * whole number of blocks (ref: /root/reference/src/cqf.rs:42-58). */
  private def realSlots(q: Int): Long = {
    val n = 1L << q
    n + 10L * math.ceil(math.sqrt(n.toDouble)).toLong
  }
  private def numBlocksFor(q: Int): Int =
    ((realSlots(q) + 63) / 64).toInt
  private def strideOf(compact: Boolean): Int = if (compact) 36 else 68

  /** New empty CQF. `quotientBits` in [4, 62]; `hashBits` in
    * [quotientBits, 64]. `invertible` records that keys < 2^hashBits are
    * recoverable from their hashes. `compact` stores 32-bit slots (half
    * the memory; requires hashBits - quotientBits <= 32; counts saturate
    * at 2^32-1 — cf. the reference's U32Cqf). */
  def apply(quotientBits: Int, hashBits: Int = 64,
      invertible: Boolean = true, compact: Boolean = false): Cqf = {
    require(quotientBits >= 4 && quotientBits <= 62,
      s"quotientBits must be in [4, 62], got $quotientBits")
    require(hashBits >= quotientBits && hashBits <= 64,
      s"hashBits must be in [$quotientBits, 64], got $hashBits")
    require(!compact || hashBits - quotientBits <= 32,
      s"compact slots need remainderBits <= 32, got ${hashBits - quotientBits}")
    new Cqf(quotientBits, hashBits, invertible, compact,
      new Array[Long](numBlocksFor(quotientBits) * strideOf(compact)), 0L)
  }

  /** Counts must be POSITIVE: the append cursor skips zero-count entries,
    * so a zero-count item that happens to be the LAST of its quotient run
    * would leave the run's occupied bit set with no runend (silent
    * corruption: queries walk past the run end), and negative counts
    * store raw sign bits. Internal feeds never emit them; the public
    * stream is validated element-wise (one branch per item). */
  private def positiveCounts(items: Iterator[(Long, Long)]): Iterator[(Long, Long)] =
    items.map { e =>
      require(e._2 > 0L, s"fromSortedHashes: count must be positive, got ${e._2} for hash ${e._1}")
      e
    }

  /** Build from an ascending (hash, count) stream — the sequential
    * append path (no per-entry rank/select), public for batched builders
    * that pre-sort their input — starting at `startQuotientBits` and
    * growing through [[growing]]: ONLY a capacity miss escalates q; any
    * other failure is a real bug and escapes immediately. `mkItems` must
    * restart the stream per attempt. */
  def fromSortedHashesGrowing(mkItems: () => Iterator[(Long, Long)],
      startQuotientBits: Int, hashBits: Int, invertible: Boolean,
      compact: Boolean): Cqf =
    growing(startQuotientBits, hashBits)(
      fromSortedHashes(positiveCounts(mkItems()), _, hashBits, invertible, compact))

  /** Build from an ascending (hash, count) stream. */
  private[sketch] def fromSortedHashes(items: Iterator[(Long, Long)],
      quotientBits: Int, hashBits: Int, invertible: Boolean,
      compact: Boolean = false): Cqf = {
    val cqf = new Cqf(quotientBits, hashBits, invertible, compact,
      new Array[Long](numBlocksFor(quotientBits) * strideOf(compact)), 0L)
    val cur = new cqf.AppendCursor
    val rBits = hashBits - quotientBits
    var have = items.hasNext
    var h = 0L; var c = 0L
    if (have) { val t = items.next(); h = t._1; c = t._2 }
    while (have) {
      val q = h >>> rBits
      val rem = h & bitmask(rBits)
      have = items.hasNext
      var nq = -1L
      if (have) { val t = items.next(); val h2 = t._1
        nq = h2 >>> rBits
        cur.append(q, rem, c, isLast = nq != q)
        h = h2; c = t._2
      } else {
        cur.append(q, rem, c, isLast = true)
      }
    }
    cqf
  }

  /** Two-pointer sorted merge of two filters straight into a fresh one —
    * the reference's CqfMerge::merge (/root/reference/src/cqf.rs:218-334)
    * driven by two allocation-free EntryCursors (no per-entry tuples on
    * the partial-merge hot path). Counts sum on equal hashes; the
    * one-element lookahead decides run boundaries exactly like
    * fromSortedHashes. */
  private def mergedFrom(a: Cqf, b: Cqf, quotientBits: Int, hashBits: Int,
      invertible: Boolean, compact: Boolean): Cqf = {
    val cqf = new Cqf(quotientBits, hashBits, invertible, compact,
      new Array[Long](numBlocksFor(quotientBits) * strideOf(compact)), 0L)
    val cur = new cqf.AppendCursor
    val rBits = hashBits - quotientBits
    val ca = a.cursor
    val cb = b.cursor
    var haveA = ca.advance()
    var haveB = cb.advance()
    // pending element (the lookahead buffer)
    var haveP = false
    var pHash = 0L
    var pCount = 0L
    while (haveA || haveB) {
      // pull the smaller head; sum counts on ties
      var h = 0L
      var c = 0L
      if (!haveB || (haveA &&
          java.lang.Long.compareUnsigned(ca.hash, cb.hash) <= 0)) {
        h = ca.hash; c = ca.count
        if (haveB && cb.hash == h) { c += cb.count; haveB = cb.advance() }
        haveA = ca.advance()
      } else {
        h = cb.hash; c = cb.count
        haveB = cb.advance()
      }
      if (haveP) {
        cur.append(pHash >>> rBits, pHash & bitmask(rBits), pCount,
          isLast = (h >>> rBits) != (pHash >>> rBits))
      }
      pHash = h; pCount = c; haveP = true
    }
    if (haveP)
      cur.append(pHash >>> rBits, pHash & bitmask(rBits), pCount, isLast = true)
    cqf
  }

  /** Merge two filters into a new one (inputs untouched); invertible /
    * compact flags reconcile by logical AND over the NON-EMPTY inputs —
    * the same semantic as mergeInPlace's empty-`other` early return, so
    * both merge surfaces produce identical metadata (and identical
    * serialized bytes) for the same inputs in the same order. A fold in
    * another order gives the same content (`iterator`, `distinctAndTotal`)
    * but can grow at another step, so its `quotientBits` and bytes may
    * differ. */
  def merge(a: Cqf, b: Cqf): Cqf = {
    val (inv, comp) = reconciledFlags(a, b)
    val r = Cqf(math.max(a.quotientBits, b.quotientBits), a.hashBits, inv, comp)
    r.mergeInPlace(a)
    r.mergeInPlace(b)
    r
  }

  /** Invertible/compact reconciliation with empty inputs contributing no
    * flags: AND over the non-empty operands; both empty keeps `a`'s. */
  private[sketch] def reconciledFlags(a: Cqf, b: Cqf): (Boolean, Boolean) = {
    val aE = a.occupiedSlots == 0
    val bE = b.occupiedSlots == 0
    if (aE && bE) (a.invertible, a.compact)
    else if (aE) (b.invertible, b.compact)
    else if (bE) (a.invertible, a.compact)
    else (a.invertible && b.invertible, a.compact && b.compact)
  }

  /** Aligned full-outer enumeration of two filters: ascending (hash,
    * countA, countB) with 0 standing for "absent on that side" — the
    * reference's ZippedCqfIter (/root/reference/src/cqf.rs:499-549) as a
    * reusable stream (feeds the `cqf_zip_items` generator and mergeBy). */
  def zipItems(a: Cqf, b: Cqf): Iterator[(Long, Long, Long)] = {
    require(a.hashBits == b.hashBits, "hashBits mismatch in zip")
    new Iterator[(Long, Long, Long)] {
      private val pa = a.iterator.buffered
      private val pb = b.iterator.buffered
      def hasNext: Boolean = pa.hasNext || pb.hasNext
      def next(): (Long, Long, Long) = {
        if (!pa.hasNext) { val y = pb.next(); (y._1, 0L, y._2) }
        else if (!pb.hasNext) { val x = pa.next(); (x._1, x._2, 0L) }
        else {
          val cmp = java.lang.Long.compareUnsigned(pa.head._1, pb.head._1)
          if (cmp == 0) { val x = pa.next(); val y = pb.next(); (x._1, x._2, y._2) }
          else if (cmp < 0) { val x = pa.next(); (x._1, x._2, 0L) }
          else { val y = pb.next(); (y._1, 0L, y._2) }
        }
      }
    }
  }

  /** Sort-merge full-outer zip of two filters with a per-hash combine —
    * the user-closure merge surface, generalizing the reference's
    * CqfMergeClosure / merge_by (/root/reference/src/cqf.rs:336-474,
    * trait at :202-213). Hashes where `op` yields <= 0 are dropped.
    * Flags reconcile by AND. Buffers into two primitive long arrays
    * (no per-entry tuple boxing on the build side). */
  def mergeBy(a: Cqf, b: Cqf, op: (Long, Long) => Long): Cqf = {
    var cap = math.max(16, (a.occupiedSlots + b.occupiedSlots).toInt)
    var hashes = new Array[Long](cap)
    var counts = new Array[Long](cap)
    var n = 0
    val it = zipItems(a, b)
    while (it.hasNext) {
      val (h, ca, cb) = it.next()
      val c = op(ca, cb)
      if (c > 0L) {
        if (n == cap) {
          cap *= 2
          hashes = java.util.Arrays.copyOf(hashes, cap)
          counts = java.util.Arrays.copyOf(counts, cap)
        }
        hashes(n) = h; counts(n) = c; n += 1
      }
    }
    val m = n
    def src = new Iterator[(Long, Long)] {
      private var i = 0
      def hasNext: Boolean = i < m
      def next(): (Long, Long) = { val t = (hashes(i), counts(i)); i += 1; t }
    }
    // empty inputs contribute no flags (same rule as merge/mergeInPlace)
    val (inv, compact) = reconciledFlags(a, b)
    // compact slots are 32-bit: quotientBits must keep remainderBits <= 32
    // or stored remainders would saturate and collapse distinct hashes
    val minQ = math.max(4, if (compact) a.hashBits - 32 else 4)
    var q = math.max(6, minQ)
    while ((LoadFactor * (1L << q)).toLong < 2L * m + 2 && q < a.hashBits) q += 1
    growing(q, a.hashBits)(fromSortedHashes(src, _, a.hashBits, inv, compact))
  }

  // ---- reference byte-layout interop ---------------------------------
  //
  // The reference serializes the raw mmap image: a 7-u64 Metadata header
  // (/root/reference/src/cqf.rs:16-26, 41-58) followed by num_blocks
  // repr(C) blocks of { occupieds u64, runends u64, counts u64,
  // remainders [64]u64, offset u64 } (/root/reference/src/blocks/
  // u64_blocks.rs:9-16), little-endian; serialize_to_bytes/new_file dump
  // exactly this (/root/reference/src/cqf/u64_cqf.rs:361-370). Slot
  // semantics: quotient = high bits, remainder = low bits
  // (u64_cqf.rs:346-352); a key with count 1 takes one slot, count >= 2
  // takes two (remainder, then the raw count in the next slot with its
  // `counts` bit set — u64_cqf.rs:433-523, decode at
  // blocks/u64_blocks.rs:43-62); the runend bit sits on the LAST slot of
  // each run; block offsets obey the exact run_end invariant of
  // /root/reference/src/blocks.rs:31-81: offset_b = E - 64b + 1 where E
  // is the runend of the last run of any quotient < 64b when E >= 64b,
  // else 0. Canonical placement (runs in quotient order, run b starts at
  // max(q, prev_end + 1)) reproduces what sequential sorted insertion
  // through the reference produces.

  private final val RefMetadataLongs = 7
  private final val RefBlockLongs = 3 + 64 + 1 // occ, run, cnt, slots, offset

  private def refRealSlots(q: Int): Long = {
    val n = (1L << q).toDouble
    (n + 10.0 * math.sqrt(n)).toLong // cqf.rs:43-44, same f64 truncation
  }

  /** Serialize this filter's CONTENT into the reference's on-disk/in-memory
    * byte layout (see layout notes above). The exported quotient_bits is
    * the smallest >= cqf.quotientBits whose canonical placement fits
    * num_real_slots. */
  def exportRefLayout(c: Cqf): Array[Byte] = {
    // (hash, count) content, ascending hash == ascending (quotient, rem)
    var n = 0
    var hashes = new Array[Long](math.max(16, c.occupiedSlots.toInt))
    var counts = new Array[Long](hashes.length)
    val cur = c.cursor
    while (cur.advance()) {
      if (n == hashes.length) {
        hashes = java.util.Arrays.copyOf(hashes, n * 2)
        counts = java.util.Arrays.copyOf(counts, n * 2)
      }
      hashes(n) = cur.hash; counts(n) = cur.count; n += 1
    }
    var q = math.min(c.quotientBits, c.hashBits - 1)
    var out: Array[Byte] = null
    while (out == null) {
      out = tryExport(c, hashes, counts, n, q)
      if (out == null) {
        require(q + 1 < c.hashBits,
          s"content does not fit any reference layout below hashBits=${c.hashBits}")
        q += 1
      }
    }
    out
  }

  /** One placement attempt at quotient_bits = q; null when it overflows
    * num_real_slots. */
  private def tryExport(c: Cqf, hashes: Array[Long], counts: Array[Long],
      n: Int, q: Int): Array[Byte] = {
    val remBits = c.hashBits - q
    val realSlots = refRealSlots(q)
    val numBlocks = ((realSlots + 63) / 64).toInt
    val occ = new Array[Long](numBlocks)
    val run = new Array[Long](numBlocks)
    val cnt = new Array[Long](numBlocks)
    val slots = new Array[Long](numBlocks * 64)
    val off = new Array[Long](numBlocks)
    // runs in ascending quotient order; greedy canonical placement
    var occupiedSlots = 0L
    var i = 0
    var prevEnd = -1L
    // (quotient, runEnd) per run, for the offset sweep
    val runQ = new scala.collection.mutable.ArrayBuffer[Long]()
    val runE = new scala.collection.mutable.ArrayBuffer[Long]()
    while (i < n) {
      val quotient = (hashes(i) >>> remBits) & bitmask(q)
      var pos = math.max(quotient, prevEnd + 1)
      occ((quotient >>> 6).toInt) |= 1L << (quotient & 63)
      // all keys of this quotient (ascending remainder follows from
      // ascending hash with high-bit quotients)
      while (i < n && ((hashes(i) >>> remBits) & bitmask(q)) == quotient) {
        val rem = hashes(i) & bitmask(remBits)
        if (pos >= realSlots) return null
        slots(pos.toInt) = rem
        occupiedSlots += 1
        if (counts(i) != 1L) {
          if (pos + 1 >= realSlots) return null
          slots(pos.toInt + 1) = counts(i)
          cnt(((pos + 1) >>> 6).toInt) |= 1L << ((pos + 1) & 63)
          occupiedSlots += 1
          pos += 2
        } else pos += 1
        i += 1
      }
      val end = pos - 1
      run((end >>> 6).toInt) |= 1L << (end & 63)
      runQ += quotient
      runE += end
      prevEnd = end
    }
    // offsets: E_b = runend of the last run with quotient < 64b
    var r = 0
    var b = 1
    var lastE = -1L
    while (b < numBlocks) {
      while (r < runQ.length && runQ(r) < 64L * b) { lastE = runE(r); r += 1 }
      off(b) = math.max(0L, lastE - 64L * b + 1)
      b += 1
    }
    val total = 8 * (RefMetadataLongs + numBlocks.toLong * RefBlockLongs)
    val buf = ByteBuffer.allocate(total.toInt).order(ByteOrder.LITTLE_ENDIAN)
    buf.putLong(total) // total_size_bytes
    buf.putLong(realSlots) // num_real_slots
    buf.putLong(occupiedSlots) // num_occupied_slots (incl. count slots)
    buf.putLong(numBlocks.toLong)
    buf.putLong(q.toLong)
    buf.putLong(remBits.toLong)
    buf.putLong(if (c.invertible) 1L else 0L)
    var bi = 0
    while (bi < numBlocks) {
      buf.putLong(occ(bi))
      buf.putLong(run(bi))
      buf.putLong(cnt(bi))
      var s = 0
      while (s < 64) { buf.putLong(slots(bi * 64 + s)); s += 1 }
      buf.putLong(off(bi))
      bi += 1
    }
    buf.array()
  }

  /** Parse a reference-layout image back into a [[Cqf]] with identical
    * content (hash multiset), reading only the occupieds/runends/counts
    * invariants — offsets are not trusted, so any valid image decodes. */
  def importRefLayout(bytes: Array[Byte], compact: Boolean = false): Cqf = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val total = buf.getLong()
    require(total == bytes.length,
      s"reference image truncated: header says $total, got ${bytes.length}")
    buf.getLong() // num_real_slots (implied by quotient_bits)
    buf.getLong() // num_occupied_slots (recomputed)
    // validate the RAW u64 header fields before any .toInt narrowing —
    // a corrupt high word must be rejected, not silently truncated
    val numBlocksL = buf.getLong()
    require(numBlocksL >= 0L && numBlocksL <= (Int.MaxValue / 64).toLong,
      s"bad reference metadata: num_blocks=$numBlocksL")
    val numBlocks = numBlocksL.toInt
    // the metadata header is identical across the reference's block
    // variants; only the u64-slot block size distinguishes them. Reject
    // u32/SoA images instead of misparsing their slots as u64s
    require(total == 8L * (RefMetadataLongs + numBlocks.toLong * RefBlockLongs),
      s"not a u64-block reference image (u32/SoA variants have a " +
      s"different block size): $numBlocks blocks cannot span $total bytes")
    val qL = buf.getLong()
    val remBitsL = buf.getLong()
    val invertible = buf.getLong() == 1L
    require(qL >= 1L && remBitsL >= 0L && qL + remBitsL <= 64L,
      s"bad reference metadata: q=$qL remainderBits=$remBitsL")
    val q = qL.toInt
    val remBits = remBitsL.toInt
    val hashBits = q + remBits
    val occ = new Array[Long](numBlocks)
    val run = new Array[Long](numBlocks)
    val cnt = new Array[Long](numBlocks)
    val slots = new Array[Long](numBlocks * 64)
    var bi = 0
    while (bi < numBlocks) {
      occ(bi) = buf.getLong(); run(bi) = buf.getLong(); cnt(bi) = buf.getLong()
      var s = 0
      while (s < 64) { slots(bi * 64 + s) = buf.getLong(); s += 1 }
      buf.getLong() // offset — derived, ignored
      bi += 1
    }
    @inline def bit(a: Array[Long], pos: Long): Boolean =
      (a((pos >>> 6).toInt) & (1L << (pos & 63))) != 0L
    // decode: the k-th occupied quotient's run ends at the k-th runend;
    // run k starts at max(quotient, end(k-1) + 1)
    var hs = new Array[Long](16)
    var cs = new Array[Long](16)
    var m = 0
    val totalSlots = numBlocks * 64L
    var runendCursor = -1L
    def nextRunend(from: Long): Long = {
      var p = from
      while (p < totalSlots && !bit(run, p)) p += 1
      require(p < totalSlots, "reference image missing a runend")
      p
    }
    var prevEnd = -1L
    var quotient = 0L
    while (quotient < totalSlots) {
      if (bit(occ, quotient)) {
        // blocks cover 2^q real slots plus the cushion region
        // (num_real_slots rounds up to whole blocks): an occupied bit in
        // the cushion — or a remainder/count outside its field below —
        // is a corrupt image and must fail, not decode out-of-domain
        // hashes (would silently wrap through fromSortedHashes)
        require(quotient < (1L << q),
          s"corrupt reference image: occupied bit at cushion slot $quotient >= 2^$q")
        val start = math.max(quotient, prevEnd + 1)
        runendCursor = nextRunend(math.max(start, runendCursor + 1))
        val end = runendCursor
        var pos = start
        // within-run remainders may be in any order in a foreign image:
        // collect, then sort per run before emitting
        val runStart = m
        while (pos <= end) {
          val rem = slots(pos.toInt)
          require(remBits >= 64 || (rem >>> remBits) == 0L,
            s"corrupt reference image: remainder $rem exceeds $remBits bits")
          var c = 1L
          if (pos + 1 <= end && bit(cnt, pos + 1)) {
            c = slots(pos.toInt + 1); pos += 2
            require(c > 0L,
              s"corrupt reference image: non-positive count $c")
          } else pos += 1
          if (m == hs.length) {
            hs = java.util.Arrays.copyOf(hs, m * 2)
            cs = java.util.Arrays.copyOf(cs, m * 2)
          }
          hs(m) = (quotient << remBits) | rem
          cs(m) = c
          m += 1
        }
        // insertion-sort the run slice by hash (runs are tiny)
        var a = runStart + 1
        while (a < m) {
          val h = hs(a); val c0 = cs(a)
          var bpos = a - 1
          while (bpos >= runStart && java.lang.Long.compareUnsigned(hs(bpos), h) > 0) {
            hs(bpos + 1) = hs(bpos); cs(bpos + 1) = cs(bpos); bpos -= 1
          }
          hs(bpos + 1) = h; cs(bpos + 1) = c0
          a += 1
        }
        prevEnd = end
      }
      quotient += 1
    }
    val mm = m
    def src = new Iterator[(Long, Long)] {
      private var idx = 0
      def hasNext: Boolean = idx < mm
      def next(): (Long, Long) = { val t = (hs(idx), cs(idx)); idx += 1; t }
    }
    growing(math.max(4, if (compact) hashBits - 32 else math.min(q, hashBits - 1)),
      hashBits)(fromSortedHashes(src, _, hashBits, invertible, compact))
  }

  def deserialize(bytes: Array[Byte]): Cqf = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = buf.getLong()
    require(magic == Magic, s"bad CQF magic: $magic")
    val meta = buf.getLong()
    val qBits = (meta & 0xff).toInt
    val hashBits = ((meta >>> 8) & 0xff).toInt
    val invertible = ((meta >>> 16) & 1L) == 1L
    val compact = ((meta >>> 17) & 1L) == 1L
    val occupied = buf.getLong()
    val lenL = buf.getLong()
    // validate the header BEFORE allocating/indexing: a corrupt payload
    // behind a valid magic must fail as IllegalArgumentException (the
    // type SketchMeta maps to a clean SQL error), not surface later as
    // NegativeArraySize/OOM/ArrayIndexOutOfBounds on first use
    require(qBits >= 4 && qBits <= 62, s"corrupt CQF header: quotientBits=$qBits")
    require(hashBits >= qBits && hashBits <= 64,
      s"corrupt CQF header: hashBits=$hashBits for quotientBits=$qBits")
    // the constructor invariant Cqf.apply enforces: compact slots are
    // 32-bit, so a forged compact header with wider remainders would
    // silently saturate distinct remainders together (false negatives)
    require(!compact || hashBits - qBits <= 32,
      s"corrupt CQF header: compact layout cannot hold ${hashBits - qBits}-bit remainders")
    require(occupied >= 0L, s"corrupt CQF header: occupiedSlots=$occupied")
    val expectedLen = numBlocksFor(qBits).toLong * strideOf(compact)
    require(lenL == expectedLen && lenL * 8 == buf.remaining(),
      s"corrupt CQF payload: $lenL block longs (expected $expectedLen, " +
      s"${buf.remaining() / 8} in buffer)")
    val blocks = new Array[Long](lenL.toInt)
    buf.asLongBuffer().get(blocks)
    new Cqf(qBits, hashBits, invertible, compact, blocks, occupied)
  }
}
