package graft.sketch

/** Kind-agnostic sketch-state metrics, dispatched on the 8-byte magic
  * header every graft sketch serialization starts with. This is the
  * "sketch-state metrics" half of the build contract (BASELINE.json
  * north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics"): checkpointed partials carry one of these per shard, and
  * the `sketch_meta` SQL function exposes it over any sketch column.
  *
  * Field semantics per kind (−1 / NaN = not tracked by that structure):
  *
  * | kind    | n              | distinct        | load                | param      | err_bound                      |
  * |---------|----------------|-----------------|---------------------|------------|--------------------------------|
  * | cqf     | total count    | exact distinct  | occupied/slots      | q bits     | 0 invertible; n/2^hash_bits else |
  * | hll     | −1             | estimate        | nonzero regs/m      | p          | 1.04/sqrt(2^p) (rel. std. err) |
  * | cms     | total count    | −1              | nonzero cells/(d·w) | width      | e/width (rel. eps)             |
  * | bloom   | −1             | −1              | set bits/m          | num bits   | expected FPR at current fill   |
  * | tdigest | total weight   | −1              | centroids/δ         | δ          | NaN (no closed-form bound)     |
  * | kll     | items seen     | −1              | retained/capacity   | k          | 1.33/k (normalized rank err)   |
  * | ss      | total count    | −1              | counters/k          | k          | offset/total (≤ 2/k rel. err)  |
  * | kmv     | −1             | estimate        | retained/k          | k          | 0 exact; 1/sqrt(k−2) else      |
  */
final case class SketchMetaInfo(
    kind: String,
    sizeBytes: Long,
    n: Long,
    distinct: Long,
    load: Double,
    param: Long,
    errBound: Double)

object SketchMeta {

  /** The serialized kind's name, by [[SketchKind.of]]. */
  def kindOf(bytes: Array[Byte]): Option[String] = SketchKind.of(bytes).map(_.name)

  /** Parse and measure. Throws IllegalArgumentException on an
    * unrecognized header (the SQL surface maps that to a clean error). */
  def of(bytes: Array[Byte]): SketchMetaInfo = kindOf(bytes) match {
    case Some("cqf") =>
      val c = Cqf.deserialize(bytes)
      // one cursor pass for both metrics (distinctCount + totalCount
      // would each walk the full filter; checkpoint partials call this
      // per shard, so the enumeration cost is paid often)
      var d = 0L
      var tot = 0L
      val cu = c.cursor
      while (cu.advance()) { d += 1; tot += cu.count }
      SketchMetaInfo("cqf", bytes.length.toLong, tot, d,
        c.occupiedSlots.toDouble / c.numSlots.toDouble, c.quotientBits.toLong,
        if (c.invertible) 0.0
        else d.toDouble / math.pow(2.0, c.hashBits.toDouble))
    case Some("hll") =>
      val h = HllSketch.deserialize(bytes)
      SketchMetaInfo("hll", bytes.length.toLong, -1L, h.cardinality,
        h.nonzeroRegisters.toDouble / h.m.toDouble, h.p.toLong,
        1.04 / math.sqrt(h.m.toDouble))
    case Some("cms") =>
      val c = CountMinSketch.deserialize(bytes)
      SketchMetaInfo("cms", bytes.length.toLong, c.total, -1L,
        c.nonzeroCounters.toDouble / (c.depth.toLong * c.width).toDouble,
        c.width.toLong, math.E / c.width.toDouble)
    case Some("bloom") =>
      val b = BloomSketch.deserialize(bytes)
      SketchMetaInfo("bloom", bytes.length.toLong, -1L, -1L,
        b.setBits.toDouble / b.numBits.toDouble, b.numBits, b.expectedFpp)
    case Some("tdigest") =>
      val t = TDigest.deserialize(bytes)
      SketchMetaInfo("tdigest", bytes.length.toLong,
        math.round(t.totalWeight), -1L,
        t.centroidCount.toDouble / t.compression, math.round(t.compression),
        Double.NaN)
    case Some("kll") =>
      val k = KllSketch.deserialize(bytes)
      SketchMetaInfo("kll", bytes.length.toLong, k.n, -1L,
        k.loadFraction, k.k.toLong, 1.33 / k.k.toDouble)
    case Some("ss") =>
      val f = FrequentItems.deserialize(bytes)
      SketchMetaInfo("ss", bytes.length.toLong, f.total, -1L,
        f.size.toDouble / f.k.toDouble, f.k.toLong,
        if (f.total == 0L) 0.0 else f.offset.toDouble / f.total.toDouble)
    case Some("kmv") =>
      val s = KmvSketch.deserialize(bytes)
      SketchMetaInfo("kmv", bytes.length.toLong, -1L, s.estimateLong,
        s.size.toDouble / s.k.toDouble, s.k.toLong, s.errBound)
    case _ =>
      throw new IllegalArgumentException(
        s"sketch_meta: unrecognized sketch header (${if (bytes == null) "null"
          else bytes.length.toString} bytes)")
  }
}
