package graft.ops

import graft.GraftFunctions
import graft.api
import graft.functions.MediaDecode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Round-2 scale-robustness tests: connected components against a
  * union-find oracle on adversarial graph shapes (long chain, hot star),
  * hot-bucket caps under mass duplication, the shuffle-free IVF
  * assignment (exhaustive == brute force), multi-band embedding LSH
  * recall, and the real PNG/WAV header codec. */
class ScaleGuardSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-scale-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  /** Driver-side union-find oracle. */
  private def unionFind(n: Long, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0L until n).map(i => i -> find(i)).toMap
  }

  /** Checks both CC paths against the oracle; returns the rounds the
    * distributed path took. */
  private def checkCc(n: Long, edges: Seq[(Long, Long)]): Int = {
    val nodes = (0L until n).toDF("id")
    val pairs = edges.toDF("id_a", "id_b")
    val want = unionFind(n, edges)
    // distributed large-star/small-star path (threshold 0 forces it) AND
    // the adaptive driver-side union-find path must both match the oracle
    val rounds = for (threshold <- Seq(0L, Long.MaxValue)) yield {
      val (cc, ccRounds) = DedupOps.connectedComponentsWithRounds(nodes, pairs,
          localEdgeThreshold = threshold)
      val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == want.size)
      want.foreach { case (id, root) =>
        assert(got(id) == root,
          s"node $id (threshold $threshold): got ${got(id)}, want $root")
      }
      ccRounds
    }
    rounds.head
  }

  test("connected components: 10k-node chain converges in log rounds") {
    // shuffled labels so min-label is NOT adjacent to most nodes: one-hop
    // propagation would need ~10k rounds, large-star/small-star needs ~log
    val n = 10000L
    val perm = new scala.util.Random(7).shuffle((0L until n).toVector)
    val edges = (0 until (n - 1).toInt).map(i => (perm(i), perm(i + 1)))
    val rounds = checkCc(n, edges)
    val log2n = math.ceil(math.log(n.toDouble) / math.log(2)).toInt
    assert(rounds >= 1 && rounds <= log2n,
      s"$rounds rounds for a $n-node chain (log2 bound $log2n)")
  }

  test("connected components: hot star + triangles + singletons") {
    val star = (1L to 5000L).map(i => (0L, i))
    val tri = Seq((6000L, 6001L), (6001L, 6002L), (6002L, 6000L))
    val dup = Seq((7000L, 7001L), (7001L, 7000L), (7000L, 7000L)) // dups + self loop
    checkCc(8000L, star ++ tri ++ dup)
  }

  test("connected components: random graph vs union-find") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(1500)((rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
      .filter(e => e._1 != e._2)
    checkCc(1000L, edges)
  }

  test("hot-bucket cap: 1000 identical docs do not go quadratic") {
    val boiler = "the same boilerplate page content repeated across the crawl again and again"
    val docs = ((0 until 1000).map(i => (i.toLong, boiler)) ++
      Seq((2000L, "a genuinely unique document about spark sketches"),
          (2001L, "a genuinely unique document about spark sketches plus"))).toDF("id", "text")
    // cap 100 < 1000: the boilerplate bucket is dropped by the guard, the
    // two planted near-dups (sharing their own buckets) still surface
    val pairs = DedupOps.minhashVerifiedPairs(docs, TextOps.tokens($"text"), $"id",
      k = 3, bands = 16, rowsPerBand = 4, threshold = 0.7, bucketCap = 100)
      .collect()
    assert(pairs.length < 499500, "hot bucket went quadratic")
    assert(pairs.exists(r => r.getLong(0) == 2000L && r.getLong(1) == 2001L),
      "planted pair below cap must survive")
    // the mass-duplicated boilerplate is exact-dup territory: exactDedup
    // (the upstream stage) collapses it to one representative
    val kept = DedupOps.exactDedup(docs, $"text", $"id")
      .where($"n_dups" === 1000).collect()
    assert(kept.length == 1 && kept.head.getAs[Long]("kept_id") == 0L)
  }

  test("LSH gate configs reproduce exact all-pairs on data the gate never saw") {
    // The gate queries assert exact equality with an all-pairs Jaccard
    // oracle, which requires recall ~1 at the threshold for the chosen
    // band configuration. This spec pins that property on SYNTHETIC docs
    // with planted pairs straddling the thresholds, so regenerating the
    // gate datasets cannot silently change what a green gate row means.
    def words(n: Int, tag: String) = Seq.tabulate(n)(i => s"w${tag}_$i")
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    var id = 0L
    for (fPct <- Seq(40, 60, 75, 85, 92, 100); rep <- 0 until 5) {
      val base = words(60, s"${fPct}_$rep")
      val keep = 60 * fPct / 100
      val mutated = base.take(keep) ++ words(60 - keep, s"m${fPct}_$rep")
      docs += ((id, base.mkString(" ")))
      docs += ((id + 1L, mutated.mkString(" ")))
      id += 2L
    }
    val df = docs.toSeq.toDF("id", "text")

    // exact all-pairs word-3-shingle Jaccard, computed independently in Scala
    def shingles(t: String): Set[String] = {
      val ws = t.trim.split("\\s+").toSeq
      if (ws.length < 3) Set(ws.mkString(" "))
      else ws.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = docs.map { case (i, t) => i -> shingles(t) }.toMap
    def exactPairs(thr: Double): Set[(Long, Long)] = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = (sets(a) & sets(b)).size
      uni = (sets(a) | sets(b)).size
      if uni > 0 && inter.toDouble / uni >= thr
    } yield (a, b)).toSet

    // minhash gate config (minhash_lsh_candidates): k=3, 16x4, thr 0.8
    val mh = DedupOps.minhashVerifiedPairs(df, TextOps.tokens($"text"), $"id",
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == exactPairs(0.8),
      s"minhash gate config lost pairs: got ${mh.size}, want ${exactPairs(0.8).size}")

    // simhash+minhash ensemble gate config (simhash_near_dups): thr 0.9
    val nd = DedupOps.nearDupVerifiedPairs(df, $"text", $"id", k = 3, threshold = 0.9)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nd == exactPairs(0.9),
      s"near-dup ensemble lost pairs: got ${nd.size}, want ${exactPairs(0.9).size}")
  }

  test("IVF exhaustive (nProbe = nCells) equals brute force exactly") {
    val rnd = new scala.util.Random(5)
    val emb = (0L until 300L).map { i =>
      (i, Array.fill(12)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "embedding")
    val queries = emb.where($"vec_id" < 5)
    def normalize(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"rank", $"neighbor_id").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = normalize(AnnOps.bruteForceTopK(emb, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 4))
    val ivf = normalize(AnnOps.ivfTopK(emb, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 4, nCells = 8, nProbe = 8, kmeansIters = 2))
    assert(ivf == brute)
    // partial probing returns a subset-shaped result with decent recall
    val ivf2 = normalize(AnnOps.ivfTopK(emb, $"vec_id", $"embedding",
      queries, $"vec_id", $"embedding", k = 4, nCells = 8, nProbe = 3, kmeansIters = 2))
    val recall = ivf2.map(t => (t._1, t._3)).intersect(brute.map(t => (t._1, t._3))).size
    assert(recall >= 8, s"nProbe=3/8 recall too low: $recall/20")
  }

  test("multi-band embedding LSH finds all planted near-dup pairs") {
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map { i =>
      i -> Array.fill(16)(rnd.nextGaussian())
    }
    // plant 20 near-copies (tiny perturbation -> cos > 0.95)
    val planted = (0 until 20).map { j =>
      val (src, v) = base(j * 7)
      (1000L + j) -> v.map(x => x + rnd.nextGaussian() * 0.05)
    }
    val df = (base ++ planted).map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    val got = DedupOps.embeddingNearDups(df, $"embedding", $"vec_id",
        minCos = 0.8, bands = 32, planesPerBand = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 20).foreach { j =>
      val pair = ((j * 7).toLong, 1000L + j)
      assert(got.contains(pair), s"planted near-dup $pair missed")
    }
    // no false accepts: every emitted pair really has cos >= 0.8
    val vecs = (base ++ planted).toMap
    got.foreach { case (a, b) =>
      val (x, y) = (vecs(a), vecs(b))
      val dot = x.zip(y).map { case (p, q) => p * q }.sum
      val cos = dot / math.sqrt(x.map(p => p * p).sum * y.map(q => q * q).sum)
      assert(cos >= 0.8 - 1e-9, s"pair ($a,$b) cos=$cos below threshold")
    }
  }

  test("embedding LSH default sizing derives corpus-scaled params and keeps recall") {
    // round-7: the production default must route through lshParamsFor
    // (fixed planes = quadratic candidate volume at scale). Same planted
    // construction as above, but with the params DERIVED from the count.
    val rnd = new scala.util.Random(13)
    val base = (0L until 200L).map { i =>
      i -> Array.fill(16)(rnd.nextGaussian())
    }
    val planted = (0 until 20).map { j =>
      val (_, v) = base(j * 7)
      (1000L + j) -> v.map(x => x + rnd.nextGaussian() * 0.05)
    }
    val df = (base ++ planted).map { case (id, v) => (id, v.map(_.toFloat)) }
      .toDF("vec_id", "embedding")
    // defaults (bands = planesPerBand = 0) must behave exactly like an
    // explicit call with the closed-form parameters for n = 220
    val (b, r) = AnnOps.lshParamsFor(220L, minCos = 0.8)
    val auto = DedupOps.embeddingNearDups(df, $"embedding", $"vec_id", minCos = 0.8)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val explicit = DedupOps.embeddingNearDups(df, $"embedding", $"vec_id",
        minCos = 0.8, bands = b, planesPerBand = r)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(auto == explicit, "auto-sized call must equal the closed-form params")
    (0 until 20).foreach { j =>
      assert(auto.contains(((j * 7).toLong, 1000L + j)),
        s"planted near-dup ${(j * 7, 1000 + j)} missed by auto-sized LSH")
    }
    // half-open parameterization must reject loudly
    intercept[IllegalArgumentException] {
      DedupOps.embeddingNearDups(df, $"embedding", $"vec_id",
        minCos = 0.8, bands = 8)
    }
  }

  test("bpe-ish token count: words + digit runs + punctuation runs") {
    val df = Seq(
      (0L, "hello world"),            // 2 words, no digits/punct
      (1L, "abc123 def456"),          // 2 words + 2 digit runs
      (2L, "wait... what?! 99 times") // 4 words + 2 punct runs + 1 digit run
    ).toDF("id", "text")
    val got = df.select($"id", TextOps.bpeishTokenCount($"text").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // independent oracle replicating Spark split semantics (limit -1)
    def oracle(t: String): Int =
      t.trim.split("\\s+", -1).length +
        t.split("[0-9]+", -1).length - 1 +
        t.split("[^\\w\\s]+", -1).length - 1
    Seq(0L -> "hello world", 1L -> "abc123 def456",
        2L -> "wait... what?! 99 times").foreach { case (id, t) =>
      assert(got(id) == oracle(t), s"doc $id")
    }
    assert(got(0L) == 2)
    // empty / space-only text counts ZERO (split of "" yields [""] and
    // would otherwise credit a phantom token). The emptiness rule is the
    // same space-trim tokens() uses — deliberately NOT \s-trim, because
    // the DuckDB oracle's trim() also strips spaces only
    val empties = Seq((0L, ""), (1L, "   ")).toDF("id", "text")
      .select(TextOps.bpeishTokenCount($"text").as("n")).collect()
    assert(empties.forall(_.getInt(0) == 0), "empty text must count 0 tokens")
  }

  test("media codec: PNG/WAV synth -> decode round-trip; junk -> unknown") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 50) {
      val (w, h, c) = (1 + rnd.nextInt(4000), 1 + rnd.nextInt(4000), 1 + rnd.nextInt(4))
      val png = MediaDecode.decode(MediaDecode.synthPng(w, h, c))
      assert(png.getUTF8String(0).toString == "png")
      assert(png.getInt(1) == w && png.getInt(2) == h)
      assert(png.getInt(3) == (if (c == 3) 3 else c)) // 1,2,4 direct; 3=rgb
      assert(png.getInt(5) == 8)
      val (ch, sr, bits) = (1 + rnd.nextInt(2), 8000 + rnd.nextInt(40000), 16)
      val wav = MediaDecode.decode(MediaDecode.synthWav(ch, sr, bits))
      assert(wav.getUTF8String(0).toString == "wav")
      assert(wav.getInt(3) == ch && wav.getInt(4) == sr && wav.getInt(5) == bits)
    }
    // truncated/junk blobs parse as unknown, never throw
    Seq(Array.emptyByteArray, "hello".getBytes,
        MediaDecode.synthPng(10, 10, 3).take(20),
        MediaDecode.synthWav(1, 8000, 16).take(13)).foreach { junk =>
      val r = MediaDecode.decode(junk)
      assert(r.getUTF8String(0).toString == "unknown")
      assert(r.getLong(6) == junk.length.toLong)
    }
    // end-to-end through the SQL surface
    val n = spark.sql(
      "SELECT media_decode(synth_media_blob(0, 33, 44)).width AS w").head().getInt(0)
    assert(n == 1 + (33 & 0xfff))
  }
}
