package graft.ops

import graft.functions.{MinHashSig, ShingleHashSet, ShingleMinHash, SimHash64, SortedLongOverlap}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed
  * around one shuffle:
  *
  *  - exact: group by 64-bit content fingerprint (8-byte shuffle key, not
  *    the document itself), keep the min-id representative;
  *  - MinHash + LSH: signature -> bands -> bucket join; only bucket-mates
  *    are compared, so the candidate set is ~linear instead of n²;
  *  - SimHash: 64-bit prints, banded by 16-bit quarters so any pair within
  *    Hamming distance 3 shares at least one band (pigeonhole);
  *  - n-gram Jaccard: exact set similarity inside cheap blocking keys.
  *
  * Scale guards (adversarial skew — e.g. a crawl with 100k copies of one
  * boilerplate page): every bucket self-join caps bucket sizes
  * ([[capBuckets]]), so one hot bucket cannot go quadratic; candidate
  * pairs are deduplicated as bare (id_a, id_b) BEFORE any payload
  * (vectors, gram sets) is re-joined, so wide columns never ride through
  * the bucket join; connected components run in O(log n) rounds
  * (large-star/small-star) with per-round localCheckpoint to stop lineage
  * growth.
  */
object DedupOps {

  def simhash(tokens: Column): Column =
    TextOps.toColumn(SimHash64(TextOps.expression(tokens)))

  def minhashSig(tokens: Column, nHashes: Int): Column =
    TextOps.toColumn(MinHashSig(TextOps.expression(tokens),
      TextOps.expression(lit(nHashes))))

  /** Fused string-free MinHash over word k-shingles (see ShingleMinHash). */
  def shingleMinhashSig(tokens: Column, k: Int, nHashes: Int): Column =
    TextOps.toColumn(ShingleMinHash(TextOps.expression(tokens),
      TextOps.expression(lit(k)), TextOps.expression(lit(nHashes))))

  /** Sorted distinct 64-bit word-k-shingle hashes (exact Jaccard input). */
  def shingleHashSet(tokens: Column, k: Int): Column =
    TextOps.toColumn(ShingleHashSet(TextOps.expression(tokens),
      TextOps.expression(lit(k))))

  /** Exact dedup: one row per distinct content, keeping the smallest id.
    * Output columns: fingerprint, kept_id, n_dups. */
  def exactDedup(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(TextOps.fingerprint(text).as("fingerprint"))
      .agg(min(id).as("kept_id"), count(lit(1)).as("n_dups"))

  /** Drop rows of (band-)buckets larger than `cap`. A pathologically hot
    * bucket (mass-duplicated boilerplate) would otherwise make the
    * self-join O(bucket²); such content is exact-dup territory and is
    * handled by [[exactDedup]] upstream. One aggregation on the same keys
    * as the subsequent join — AQE plans them as one exchange. */
  private[ops] def capBuckets(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val sizes = banded.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") <= cap)
      .drop("bsz")
    banded.join(sizes, keys, "left_semi")
  }

  /** Distinct unordered candidate id pairs from a banded bucket table
    * (id, <keys>). Bare 2-column pairs: payloads are re-joined after the
    * distinct so wide columns never traverse the bucket self-join. */
  private def bucketPairs(banded: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val guarded = capBuckets(banded, keys, cap)
    val a = guarded.select((keys.map(col) :+ col("id").as("id_a")): _*)
    val b = guarded.select((keys.map(col) :+ col("id").as("id_b")): _*)
    a.join(b, keys)
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Join `payload` (id, valueCols...) onto bare (id_a, id_b) pairs, once
    * per side, suffixing the value columns `_a`/`_b` — the single-sourced
    * re-join every pair op uses after its bucket-join dedup.
    *
    * Shared contract of ALL pair ops: `id` is assumed UNIQUE in the input
    * (exact dedup runs upstream — the module scaladoc's pipeline order).
    * Duplicated ids fan each pair out once per copy here; the trailing
    * distinct in each op collapses exact-duplicate rows, but copies
    * carrying DIFFERENT payloads (same id, edited text) produce pair rows
    * with different metrics that no distinct can reconcile. */
  private def joinPairPayload(pairs: DataFrame, payload: DataFrame,
      valueCols: Seq[String]): DataFrame = {
    val pa = payload.select(
      (col("id").as("id_a") +: valueCols.map(c => col(c).as(s"${c}_a"))): _*)
    val pb = payload.select(
      (col("id").as("id_b") +: valueCols.map(c => col(c).as(s"${c}_b"))): _*)
    pairs.join(pa, Seq("id_a")).join(pb, Seq("id_b"))
  }

  /** MinHash-LSH candidate pairs: signatures of `bands*rowsPerBand`
    * hashes, banded; pairs sharing >= 1 band bucket are candidates, then
    * filtered by estimated Jaccard (signature agreement) >= threshold.
    * Output: id_a, id_b, est_jaccard (ids ordered, distinct pairs). */
  def minhashCandidates(df: DataFrame, tokens: Column, id: Column,
      bands: Int = 8, rowsPerBand: Int = 4, threshold: Double = 0.5,
      bucketCap: Int = 5000): DataFrame = {
    val nHashes = bands * rowsPerBand
    // NOTE: the signature projection is deliberately recomputed per
    // subplan reference (banding; the two payload re-joins) instead of
    // persisted — Catalyst prunes each branch to the columns it needs and
    // AQE reuses the banding exchange, while a .persist() would pin
    // O(corpus x nHashes x 8B) in executor memory for the whole query.
    // Callers that iterate can persist their input themselves.
    val sigs = df.select(id.as("id"), minhashSig(tokens, nHashes).as("sig"))
    val pairs = bucketPairs(bandSignatures(sigs, bands, rowsPerBand),
      Seq("band", "bucket"), bucketCap)
    joinPairPayload(pairs, sigs, Seq("sig"))
      .select(col("id_a"), col("id_b"),
        (aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / lit(nHashes))
          .as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
      .distinct() // duplicated input ids fan pairs out through the sig re-joins
  }

  /** LSH banding, the one primitive every bander shares (minhash,
    * simhash, hyperplane LSH): one (id, band, bucket) row per input row
    * and band, where `bucket(b)` is band b's bucket column, through ONE
    * posexplode over the array of all bands' buckets. `id` keeps its
    * name. */
  private[ops] def band(df: DataFrame, id: Column, nBands: Int)(bucket: Int => Column): DataFrame =
    df.select(id, posexplode(array((0 until nBands).map(bucket): _*))
      .as(Seq("band", "bucket")))

  /** Band the signature table: one row per (id, band, bucket). The
    * bucket values are persisted (IncrementalDedup's `buckets/`). */
  private[ops] def bandSignatures(sigged: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    band(sigged, col("id"), bands)(b => xxhash64(concat(lit(s"band$b"),
      concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)))))

  /** MinHash-LSH prefilter + EXACT word-k-shingle Jaccard recheck — the
    * production near-dup shape (cf. the cms_heavy_hitters exact-recheck
    * pattern): LSH proposes, the exact overlap disposes, so the output is
    * exactly "all candidate pairs with true Jaccard >= threshold". With
    * enough bands the candidate recall at the threshold is ~1 and the
    * result equals the all-pairs answer. Output: id_a, id_b, inter, uni. */
  def minhashVerifiedPairs(df: DataFrame, tokens: Column, id: Column,
      k: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      threshold: Double = 0.8, bucketCap: Int = 5000): DataFrame = {
    val base = df.select(id.as("id"),
      shingleMinhashSig(tokens, k, bands * rowsPerBand).as("sig"),
      shingleHashSet(tokens, k).as("grams"))
    val pairs = bucketPairs(bandSignatures(base, bands, rowsPerBand),
      Seq("band", "bucket"), bucketCap)
    val grams = base.select(col("id"), col("grams"))
    verifyByJaccard(pairs, grams, threshold)
  }

  /** Join gram sets onto bare id pairs and keep those with exact Jaccard
    * >= threshold (integer-exact compare: inter*1e6 >= threshold*1e6*uni).
    * Final distinct preserves the documented "(distinct)" output contract
    * when input ids are duplicated (the grams joins then fan each pair
    * out once per duplicate row); it dedupes only the few VERIFIED rows,
    * so the cost is negligible. */
  private[ops] def verifyByJaccard(pairs: DataFrame, grams: DataFrame,
      threshold: Double): DataFrame = {
    val thrPpm = math.round(threshold * 1000000L)
    joinPairPayload(pairs, grams.select(col("id"), col("grams").as("g")), Seq("g"))
      .withColumn("ov", TextOps.toColumn(SortedLongOverlap(
        TextOps.expression(col("g_a")), TextOps.expression(col("g_b")))))
      .select(col("id_a"), col("id_b"),
        col("ov.inter").cast("long").as("inter"), col("ov.uni").cast("long").as("uni"))
      .where(col("uni") > 0 && col("inter") * 1000000L >= lit(thrPpm) * col("uni"))
      .distinct()
  }

  /** SimHash near-dup pairs within Hamming distance <= maxDist. Banding by
    * 16-bit quarters guarantees every pair with dist <= 3 is found; larger
    * maxDist is best-effort (documented recall trade).
    * Output: id_a, id_b, dist. */
  def simhashPairs(df: DataFrame, tokens: Column, id: Column,
      maxDist: Int = 3, nBands: Int = 4, bucketCap: Int = 5000): DataFrame = {
    val printed = df.select(id.as("id"), simhash(tokens).as("sh"))
    val pairs = bucketPairs(simhashBanded(printed, nBands), Seq("band", "bucket"), bucketCap)
    joinPairPayload(pairs, printed, Seq("sh"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("dist"))
      .where(col("dist") <= maxDist)
      .distinct() // duplicated input ids fan pairs out through the sh re-join
  }

  /** Split the 64-bit print into `nBands` equal blocks (Manku et al.,
    * WWW'07 pigeonhole): any pair within Hamming distance nBands-1 shares
    * at least one clean block. More bands = larger guaranteed radius but
    * coarser buckets (guarded by bucketCap + exact recheck). */
  private def simhashBanded(printed: DataFrame, nBands: Int): DataFrame = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    val width = 64 / nBands
    val mask = if (width >= 64) -1L else (1L << width) - 1L
    band(printed, col("id"), nBands)(i =>
      shiftrightunsigned(col("sh"), width * i).bitwiseAND(lit(mask)))
  }

  /** Ensemble near-dup pairs: simhash banding (guaranteed Hamming<=nBands-1
    * radius, fine buckets) UNIONed with minhash-LSH (proper Jaccard-LSH
    * recall), both disposed by the same exact shingle-Jaccard recheck.
    * Rationale: a Jaccard threshold does not map to a fixed Hamming
    * radius — short near-identical docs sit at simhash distance ~6
    * (per-bit counters hover near zero), outside any bucket-scalable
    * simhash radius, while minhash recall at J>=0.9 with 16x4 bands is
    * 1-4e-8 regardless of length. Both proposers keep bucket counts
    * proportional to n, so the ensemble survives corpus scale where a
    * wide-radius simhash banding (8-bit keys) cannot.
    * Output: id_a, id_b, inter, uni (distinct). */
  def nearDupVerifiedPairs(df: DataFrame, text: Column, id: Column,
      k: Int = 3, threshold: Double = 0.9, bands: Int = 16,
      rowsPerBand: Int = 4, bucketCap: Int = 5000): DataFrame = {
    // Both proposers emit BARE id pairs, which are unioned and deduped
    // BEFORE the exact recheck — a pair proposed by both (the common
    // case for true near-dups) pays the shingle-set join once, not
    // twice, and one shared base projection feeds both banders (Catalyst
    // prunes each branch to its columns; deliberately not persisted —
    // see the note in minhashCandidates).
    val toks = TextOps.tokens(text)
    val base = df.select(id.as("id"), simhash(toks).as("sh"),
      shingleMinhashSig(toks, k, bands * rowsPerBand).as("sig"),
      shingleHashSet(toks, k).as("grams"))
    val simPairs = bucketPairs(
      simhashBanded(base.select(col("id"), col("sh")), nBands = 4),
      Seq("band", "bucket"), bucketCap)
    val mhPairs = bucketPairs(
      bandSignatures(base.select(col("id"), col("sig")), bands, rowsPerBand),
      Seq("band", "bucket"), bucketCap)
    verifyByJaccard(simPairs.union(mhPairs).distinct(),
      base.select(col("id"), col("grams")), threshold)
  }

  /** Exact n-gram (word k-shingle) Jaccard pairs within blocking keys.
    * Blocking bounds the join fan-out; pairs in different blocks are not
    * compared (standard blocking trade-off, identical on the oracle side).
    * Output: id_a, id_b, inter, uni (long set sizes, uni > 0 — same
    * schema and degenerate-doc guard as [[verifyByJaccard]]: null-text or
    * sub-k-token documents have no gram set, and a (0, 0) row would make
    * the documented jaccard = inter/uni readout divide by zero). */
  def ngramJaccardPairs(df: DataFrame, text: Column, id: Column,
      blockKeys: Seq[Column], k: Int = 3, blockCap: Int = 5000): DataFrame = {
    // hash each document's shingles ONCE into a sorted distinct long set;
    // pairs then overlap by a zero-allocation two-pointer walk (exact:
    // 64-bit shingle-hash collisions are ~1e-15 per pair at these sizes)
    val grams = shingleHashSet(TextOps.tokens(text), k)
    val base = df.select((blockKeys.zipWithIndex.map { case (c, i) => c.as(s"bk$i") } :+
      id.as("id") :+ grams.as("grams")): _*)
    val bk = blockKeys.indices.map(i => s"bk$i")
    val guarded = capBuckets(base, bk, blockCap)
    val a = guarded.select((bk.map(col) :+ col("id").as("id_a") :+ col("grams").as("g_a")): _*)
    val b = guarded.select((bk.map(col) :+ col("id").as("id_b") :+ col("grams").as("g_b")): _*)
    a.join(b, bk)
      .where(col("id_a") < col("id_b"))
      .withColumn("ov", TextOps.toColumn(SortedLongOverlap(
        TextOps.expression(col("g_a")), TextOps.expression(col("g_b")))))
      .select(col("id_a"), col("id_b"),
        col("ov.inter").cast("long").as("inter"), col("ov.uni").cast("long").as("uni"))
      .where(col("uni") > 0)
  }

  /** Connected components over an undirected similarity-pair graph by
    * alternating large-star / small-star contractions (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — the
    * public log-round algorithm):
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself);
    *  - small-star: every node links its smaller neighbors (and itself)
    *    to the minimum of its smaller neighborhood.
    *
    * Both steps preserve connectivity; together they contract every
    * component onto its minimum id in O(log n) rounds — a 10k-node chain
    * converges in ~14 rounds where one-hop min-label propagation needs
    * 10k. Each round is two self-aggregating shuffles; the edge set is
    * localCheckpoint'ed per round so the plan/lineage stays O(1) instead
    * of O(rounds) (a 100 TB graph would otherwise replay or OOM the
    * planner). Throws when maxRounds is hit before the edge set is stable
    * (silent truncation would split duplicate clusters).
    *
    * Input: pairs (id_a, id_b); nodes: (id). Output: (id, component)
    * where component = min id reachable.
    *
    * Adaptive small-graph path: when the (distinct) edge set is tiny, the
    * exact solve is a single driver-side union-find over one collect —
    * near-dup edge sets are usually tiny relative to the corpus (pairs
    * above a high threshold), so at any corpus scale this avoids ~log(n)
    * scheduled rounds; graphs above the threshold run the distributed
    * log-round algorithm. The default 2^17 edges costs the driver ~5 MB
    * of specialized (Long, Long) tuples plus an open-addressing primitive
    * long->long map (~2x2^18 slots x 17 B ≈ 9 MB) — the same order as a
    * Catalyst broadcast side, safe on small-driver deployments. Set
    * localEdgeThreshold = 0 to force the distributed path. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30, localEdgeThreshold: Long = 1L << 17): DataFrame =
    connectedComponentsWithRounds(nodes, pairs, maxRounds, localEdgeThreshold)._1

  /** [[connectedComponents]] plus the number of large-star/small-star
    * rounds it took to converge (0 = empty edge set or the driver-local
    * union-find path) — the scale-rehearsal observable: round counts
    * must stay ~log(diameter) as the corpus grows. */
  def connectedComponentsWithRounds(nodes: DataFrame, pairs: DataFrame,
      maxRounds: Int = 30, localEdgeThreshold: Long = 1L << 17): (DataFrame, Int) = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u"))
        .agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      val viaNeighbor = oriented.join(mins, Seq("u"))
        .select(col("v").as("n"), col("m"))
      val self = mins.select(col("u").as("n"), col("m"))
      viaNeighbor.union(self)
        .where(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
    }
    // cheap per-round signature: (edge count, order-independent hash XOR —
    // overflow-free under ANSI mode); stable across a full round == converged
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var edges = pairs.select(col("id_a").as("u"), col("id_b").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    var sig = signature(edges)
    // the local path materializes ids as Longs; non-long id types (int,
    // string, ...) keep the type-agnostic distributed path so the output
    // schema always matches the input id type
    val idsAreLong = edges.schema.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (idsAreLong && sig._1 > 0 && sig._1 <= localEdgeThreshold) {
      // broadcast-sized graph: exact union-find on the driver, one pass.
      // Primitive collection end-to-end: the collect yields specialized
      // (Long, Long) tuples (no Row objects) and the parent map is an
      // open-addressing long->long table (no boxed HashMap entries).
      val spark = nodes.sparkSession
      import spark.implicits._
      val collected = edges.select(col("u"), col("v")).as[(Long, Long)].collect()
      val uf = new LongUnionFind(collected.length * 2)
      collected.foreach { case (a, b) => uf.union(a, b) }
      val roots = new scala.collection.mutable.ArrayBuffer[(Long, Long)](collected.length)
      uf.foreachRoot((k, r) => roots += ((k, r)))
      val labelDf = roots.toSeq.toDF("id", "root")
      return (nodes.select(col("id"))
        .join(broadcast(labelDf), Seq("id"), "left")
        .select(col("id"), coalesce(col("root"), col("id")).as("component")), 0)
    }
    var round = 0
    var converged = sig._1 == 0L
    while (!converged && round < maxRounds) {
      edges = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(edges)
      converged = nextSig == sig
      sig = nextSig
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxRounds rounds " +
        s"(edge signature still changing) — duplicate clusters would be " +
        s"silently split; raise maxRounds")
    // converged edge set is a union of stars (child -> component minimum)
    (nodes.select(col("id"))
      .join(edges.select(col("u").as("id"), col("v").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component")), round)
  }

  /** Full near-dup dedup: candidate pairs -> components -> one kept
    * representative (min id) per component.
    * Output: (id, component, kept) — kept = (id == component). */
  def dedupByPairs(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(nodes, pairs)
      .select(col("id"), col("component"),
        (col("id") === col("component")).as("kept"))

  /** Embedding near-dup pairs: multi-band random-hyperplane LSH prefilter
    * (OR over `bands` independent `planesPerBand`-bit buckets — recall at
    * cos >= minCos is 1-(1-p^r)^b, p = 1-acos(cos)/pi; 32x6 gives ~1-1e-4
    * at 0.8) + exact cosine recheck. Bare id pairs are deduplicated before
    * vectors are re-joined, so embeddings never ride through the bucket
    * join. Output: id_a, id_b (ordered, distinct, cos >= minCos).
    *
    * SIZE planesPerBand FOR THE CORPUS ([[AnnOps.lshParamsFor]]): random
    * far pairs collide per band-bucket at ~n/2^planes, so a fixed plane
    * count makes candidate volume quadratic in n (measured: 38× wall at
    * 10× corpus with planes=6) — planes must track log2(n/occupancy),
    * with bands buying the recall back. DEFAULT SIZING (bands =
    * planesPerBand = 0) therefore derives (bands, planes) from a count
    * of the corpus via the closed form — one cheap id-column pass —
    * so the production path cannot ship the quadratic
    * parameterization by omission; explicit values are for replayable
    * gates/specs. `bucketCap` is the backstop, not the sizing
    * mechanism. */
  def embeddingNearDups(df: DataFrame, vec: Column, id: Column,
      minCos: Double, bands: Int = 0, planesPerBand: Int = 0,
      seed: Long = 42L, bucketCap: Int = 5000): DataFrame = {
    require((bands > 0) == (planesPerBand > 0),
      "pass bands and planesPerBand together (both > 0), or neither " +
        "(corpus-sized via AnnOps.lshParamsFor)")
    val (nBands, nPlanes) =
      if (bands > 0) (bands, planesPerBand)
      else AnnOps.lshParamsFor(
        math.max(1L, df.select(id.as("id")).count()), minCos)
    val vecs = df.select(id.as("id"), vec.as("v"))
    val banded = band(df, id.as("id"), nBands)(b =>
      AnnOps.lshBucket(vec, nPlanes, seed + 1000L * b))
    val pairs = bucketPairs(banded, Seq("band", "bucket"), bucketCap)
    joinPairPayload(pairs, vecs, Seq("v"))
      .where(AnnOps.cosine(col("v_a"), col("v_b")) >= minCos)
      .select(col("id_a"), col("id_b"))
      .distinct() // duplicated input ids fan pairs out through the vector re-join
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * word k-gram with ANY benchmark/eval document, with the count of
    * distinct matched grams — the standard pre-training hygiene pass
    * that keeps eval data out of the training set.
    *
    * Scale shape: the benchmark side (eval suites — thousands of docs,
    * not billions) collapses to DISTINCT grams and BROADCASTS; the
    * corpus side is a map-only explode of per-doc distinct grams whose
    * rows die at the broadcast join unless contaminated, so the only
    * CORPUS-PROPORTIONAL shuffle (the per-doc count) carries
    * contaminated grams only (the bench side also pays one tiny
    * distinct exchange before broadcasting). No
    * hashing anywhere — grams compare as strings, so the gate oracle
    * replays the operator exactly and collisions cannot mask a hit.
    *
    * Output: (doc_id, matched_grams) for contaminated corpus docs.
    * Callers wanting the clean corpus anti-join on doc_id. */
  def contamination(corpus: DataFrame, corpusId: Column, corpusText: Column,
      bench: DataFrame, benchText: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val cg = corpus.select(corpusId.as("doc_id"),
      explode(array_distinct(TextOps.wordShingles(corpusText, k))).as("gram"))
    val bg = bench
      .select(explode(array_distinct(TextOps.wordShingles(benchText, k)))
        .as("gram"))
      .distinct()
    cg.join(broadcast(bg), Seq("gram"))
      // per-doc grams are distinct and the broadcast side is distinct,
      // so plain count == distinct matched grams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("matched_grams"))
  }
}

/** Open-addressing long -> long parent table with union-find on top:
  * path-halving find + union-by-min (the component label IS the minimum
  * id, matching the distributed algorithm's output). Absent keys are
  * their own parent. No boxing anywhere — two primitive arrays plus an
  * occupancy bitmap-equivalent. */
private[ops] final class LongUnionFind(expectedKeys: Int) {
  private var cap = {
    var c = 16
    // Long arithmetic: expectedKeys * 2 overflows Int past 2^30
    while (c < expectedKeys.toLong * 2 && c < (1 << 29)) c <<= 1
    c
  }
  private var mask = cap - 1
  private var keys = new Array[Long](cap)
  private var vals = new Array[Long](cap)
  private var occ = new Array[Boolean](cap)
  private var size = 0

  // log2(cap), maintained through grow() so fibonacci-hashed home slots
  // span the WHOLE table (a fixed shift would cluster every key into a
  // prefix of large tables and degrade probing toward O(n))
  private var shift = 64 - java.lang.Integer.numberOfTrailingZeros(cap)

  @inline private def mix(k: Long): Int =
    ((k * 0x9e3779b97f4a7c15L) >>> shift).toInt & mask
  private def slot(k: Long): Int = {
    var i = mix(k)
    while (occ(i) && keys(i) != k) i = (i + 1) & mask
    i
  }
  private def parentOf(k: Long): Long = {
    val i = slot(k)
    if (occ(i)) vals(i) else k
  }
  private def setParent(k: Long, v: Long): Unit = {
    val i = slot(k)
    if (!occ(i)) {
      // overflow-safe 75% load check: (size+1)*4 wraps negative once cap
      // reaches 2^30 and would force grow() into a negative allocation
      if (size + 1 > cap - (cap >> 2)) { grow(); setParent(k, v); return }
      occ(i) = true; keys(i) = k; size += 1
    }
    vals(i) = v
  }
  private def grow(): Unit = {
    require(cap < (1 << 30),
      s"LongUnionFind cannot exceed 2^30 slots (~${size} keys) — lower " +
      "the driver-local edge threshold so CC stays distributed")
    val ok = keys; val ov = vals; val oo = occ; val oc = cap
    cap <<= 1; mask = cap - 1; shift -= 1
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    occ = new Array[Boolean](cap); size = 0
    var i = 0
    while (i < oc) {
      if (oo(i)) setParent(ok(i), ov(i))
      i += 1
    }
  }

  def find(x: Long): Long = {
    var r = x
    var p = parentOf(r)
    while (p != r) {
      // path halving: point r at its grandparent as we walk
      val gp = parentOf(p)
      if (gp != p) setParent(r, gp)
      r = p
      p = parentOf(r)
    }
    r
  }

  def union(a: Long, b: Long): Unit = {
    val ra = find(a)
    val rb = find(b)
    if (ra != rb) setParent(math.max(ra, rb), math.min(ra, rb))
  }

  /** Visit every key that appears in the table with its final root. */
  def foreachRoot(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (occ(i)) f(keys(i), find(keys(i)))
      i += 1
    }
  }
}
