package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Incremental near-dup dedup: growth batches must converge to the
  * from-scratch answer, and every point in the batch lifecycle a kill can
  * hit (after signatures, after pairs, after commit) must resume to the
  * identical pair set. */
class IncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-incdedup-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private val cfg = IncrementalDedup.Config(
    k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)

  private def docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  private def batch(b: Int): DataFrame =
    docs.where(pmod(col("doc_id"), lit(3)) === b)

  private def pairSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("id_a"), col("id_b"), col("inter"), col("uni"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private lazy val fromScratch: Set[(Long, Long, Long, Long)] = pairSet(
    DedupOps.minhashVerifiedPairs(docs, TextOps.tokens(col("text")),
      col("doc_id"), k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8))

  /** Every row of every store under `state`, as sorted text per store. */
  private def storeRows(state: String): Seq[Seq[String]] =
    Seq("signatures", "buckets", "pairs", "batches").map(s"$state/" + _).map(dir =>
      if (graft.util.ParquetState.visibleEntries(spark, dir).isEmpty) Seq.empty
      else spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq)

  /** Resume batch `batchId` in `state`, where an uncommitted attempt
    * left rows, from `input`: the run must commit, its pair set must
    * equal a straight-through build (batch b0, then `input`), and every
    * store must hold exactly that build's rows — none of the attempt's. */
  private def assertRedoneFrom(state: String, input: DataFrame, batchId: String): Unit = {
    val redone = IncrementalDedup.run(spark, input,
      TextOps.tokens(col("text")), col("doc_id"), state, batchId, cfg)
    val ref = Files.createTempDirectory("inc_dedup_redo_ref").toString
    if (batchId != "b0") IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b0", cfg)
    val straight = IncrementalDedup.run(spark, input,
      TextOps.tokens(col("text")), col("doc_id"), ref, batchId, cfg)
    assert(pairSet(redone) == pairSet(straight))
    assert(storeRows(state) == storeRows(ref))
  }

  /** The relative paths of the regular files under `state`. */
  private def stateFiles(state: String): Set[String] = {
    val root = java.nio.file.Paths.get(state)
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map(p =>
      root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).toSet
    finally walk.close()
  }

  test("three growth batches == from-scratch pair set") {
    val state = Files.createTempDirectory("inc_dedup_grow").toString
    var last: DataFrame = null
    (0 until 3).foreach { b =>
      last = IncrementalDedup.run(spark, batch(b),
        TextOps.tokens(col("text")), col("doc_id"), state, s"b$b", cfg)
    }
    assert(fromScratch.nonEmpty, "gate data must contain near-dup pairs")
    assert(pairSet(last) == fromScratch)
    // clusters agree with the batch dedupByPairs over the same edges
    val expected = DedupOps.dedupByPairs(docs.select(col("doc_id").as("id")),
      IncrementalDedup.allPairs(spark, state))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val got = IncrementalDedup.clusters(spark, state)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected)
  }

  test("kill after signature append: resume completes the batch, no re-append") {
    val state = Files.createTempDirectory("inc_dedup_sig").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    // simulate the kill: batch b1's STAGE 1 completed (signatures on
    // disk, exactly as run() writes them) but pairs/commit never ran
    val toks = TextOps.tokens(col("text"))
    batch(1).select(col("doc_id").as("id"),
        DedupOps.shingleMinhashSig(toks, cfg.k, cfg.bands * cfg.rowsPerBand).as("sig"),
        DedupOps.shingleHashSet(toks, cfg.k).as("grams"))
      .withColumn("batch_id", lit("b1"))
      .withColumn("dedup_params", lit(IncrementalDedup.paramString(cfg)))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$state/signatures")
    val sigRows = spark.read.parquet(s"$state/signatures").count()

    val resumed = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    // signatures were NOT appended a second time
    assert(spark.read.parquet(s"$state/signatures").count() == sigRows)
    // the killed batch's bucket partition was backfilled exactly once
    // (b1 was signed but never bucketed — the stage-1b resume loop)
    val b1Buckets = spark.read.parquet(IncrementalDedup.bucketPath(state))
      .where(col("batch_id") === "b1").count()
    assert(b1Buckets == batch(1).count() * cfg.bands)

    // identical pair set to a straight-through two-batch build
    val ref = Files.createTempDirectory("inc_dedup_sig_ref").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b0", cfg)
    val straight = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b1", cfg)
    assert(pairSet(resumed) == pairSet(straight))
  }

  test("PARTIAL bucket partition (kill mid-commit) is detected and rebuilt, not trusted") {
    // presence-based skip would silently drop the missing triples from
    // every later NEW x ALL join — the resume loop must treat an
    // incomplete batch partition (count != n_docs * bands) as unbucketed
    // and rebuild it by overwrite
    val state = Files.createTempDirectory("inc_dedup_partial").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    // sign b1 as run() would, then write only HALF its bucket triples
    // (bands 0..7 of 16) — the visible-but-incomplete partition a kill
    // during the bucket append's job commit can leave behind
    val toks = TextOps.tokens(col("text"))
    val signed = batch(1).select(col("doc_id").as("id"),
        DedupOps.shingleMinhashSig(toks, cfg.k, cfg.bands * cfg.rowsPerBand).as("sig"),
        DedupOps.shingleHashSet(toks, cfg.k).as("grams"))
    signed
      .withColumn("batch_id", lit("b1"))
      .withColumn("dedup_params", lit(IncrementalDedup.paramString(cfg)))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$state/signatures")
    DedupOps.bandSignatures(signed.select(col("id"), col("sig")),
        cfg.bands, cfg.rowsPerBand)
      .where(col("band") < cfg.bands / 2)
      .withColumn("batch_id", lit("b1"))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(IncrementalDedup.bucketPath(state))

    val resumed = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    // the partition was REBUILT (exact count — overwrite, not append)
    val b1Buckets = spark.read.parquet(IncrementalDedup.bucketPath(state))
      .where(col("batch_id") === "b1").count()
    assert(b1Buckets == batch(1).count() * cfg.bands)
    // and the pair set equals the straight-through two-batch build
    val ref = Files.createTempDirectory("inc_dedup_partial_ref").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b0", cfg)
    val straight = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b1", cfg)
    assert(pairSet(resumed) == pairSet(straight))
  }

  test("PARTIAL signature partition (kill mid-commit, no pairs yet) rebuilds; with pairs it rejects") {
    val state = Files.createTempDirectory("inc_dedup_sigpartial").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    // simulate a kill mid-commit of b1's signature append: only HALF the
    // batch's rows are visible, no pairs, no marker
    val toks = TextOps.tokens(col("text"))
    batch(1).where(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id").as("id"),
        DedupOps.shingleMinhashSig(toks, cfg.k, cfg.bands * cfg.rowsPerBand).as("sig"),
        DedupOps.shingleHashSet(toks, cfg.k).as("grams"))
      .withColumn("batch_id", lit("b1"))
      .withColumn("dedup_params", lit(IncrementalDedup.paramString(cfg)))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$state/signatures")

    // the resume must NOT wedge on 'input shard changed' — it rebuilds
    // the partition from the (unchanged) input and completes the batch
    val resumed = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    val b1Sigs = spark.read.parquet(s"$state/signatures")
      .where(col("batch_id") === "b1").count()
    assert(b1Sigs == batch(1).count())
    val ref = Files.createTempDirectory("inc_dedup_sigpartial_ref").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b0", cfg)
    val straight = IncrementalDedup.run(spark, batch(1),
      TextOps.tokens(col("text")), col("doc_id"), ref, "b1", cfg)
    assert(pairSet(resumed) == pairSet(straight))

    // but once a batch's PAIRS exist, a hash-mismatched input still
    // rejects (the store is pinned; only the pre-pair window is free)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(1).where(pmod(col("doc_id"), lit(2)) === 0),
        TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    }
    // b1 is now COMMITTED, so the committed-batch check fires first —
    // either message proves the store rejects the drifted input
    assert(e.getMessage.contains("DIFFERENT input") ||
      e.getMessage.contains("pairs already exist"))

    // and the exact kill-after-pairs window (complete signatures + pairs
    // on disk, marker lost) is an uncommitted attempt like any other: a
    // changed input wipes it and commits the batch from the new input
    val st3 = Files.createTempDirectory("inc_dedup_pairpin").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), st3, "b0", cfg)
    batch(1).select(col("doc_id").as("id"),
        DedupOps.shingleMinhashSig(toks, cfg.k, cfg.bands * cfg.rowsPerBand).as("sig"),
        DedupOps.shingleHashSet(toks, cfg.k).as("grams"))
      .withColumn("batch_id", lit("b1"))
      .withColumn("dedup_params", lit(IncrementalDedup.paramString(cfg)))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$st3/signatures")
    spark.read.parquet(s"$ref/pairs").where(col("batch_id") === "b1")
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$st3/pairs")
    assertRedoneFrom(st3, batch(1).where(pmod(col("doc_id"), lit(2)) === 0), "b1")
  }

  test("kill after pair append (marker lost): resume wipes and redoes the batch") {
    val state = Files.createTempDirectory("inc_dedup_pair").toString
    val done = IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    val expected = pairSet(done)
    // simulate the kill between the pair append and the commit marker:
    // wipe the marker table, leaving signatures + pairs in place
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(state), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/batches"), true)

    val pairRows = spark.read.parquet(s"$state/pairs").where(col("batch_id") === "b0").count()
    assert(pairRows > 0, "batch b0 must hold pairs for this check")
    val resumed = IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    // the resume deleted the uncommitted batch's partitions before
    // redoing it: the raw pair table holds b0's rows once
    val raw = spark.read.parquet(s"$state/pairs").where(col("batch_id") === "b0")
    assert(raw.count() == pairRows && raw.distinct().count() == pairRows)
    assert(pairSet(resumed) == expected)
    assert(pairSet(IncrementalDedup.allPairs(spark, state)) == expected)
  }

  test("committed batch re-runs as a no-op; different input under the same id rejects") {
    val state = Files.createTempDirectory("inc_dedup_idem").toString
    val first = IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    val sigRows = spark.read.parquet(s"$state/signatures").count()
    val pairRows = spark.read.parquet(s"$state/pairs").count()
    val again = IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    assert(pairSet(again) == pairSet(first))
    assert(spark.read.parquet(s"$state/signatures").count() == sigRows)
    assert(spark.read.parquet(s"$state/pairs").count() == pairRows)

    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(1),
        TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    }
    assert(e.getMessage.contains("DIFFERENT input"))

    // the fingerprint must cover CONTENT, not just ids: a regenerated
    // shard with the SAME doc_ids but different text re-ingested under
    // the committed batch id must reject, not silently no-op onto stale
    // signatures
    val mutated = batch(0).withColumn("text",
      concat(col("text"), lit(" regenerated")))
    val e2 = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, mutated,
        TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    }
    assert(e2.getMessage.contains("DIFFERENT input"))
    // with the marker lost the batch is uncommitted: the mutated input
    // replaces the stored attempt
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(state), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$state/batches"), true)
    assertRedoneFrom(state, mutated, "b0")
  }

  test("duplicate ids WITHIN a batch reject (first batch has no store to check against)") {
    val state = Files.createTempDirectory("inc_dedup_dupid").toString
    val dup = batch(0).union(batch(0).limit(1))
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, dup,
        TextOps.tokens(col("text")), col("doc_id"), state, "first", cfg)
    }
    assert(e.getMessage.contains("WITHIN the batch"))
    // nothing was appended before the rejection
    assert(graft.util.ParquetState.visibleEntries(spark, s"$state/signatures").isEmpty)
  }

  test("empty FIRST batch is a clean no-op that burns the batch id") {
    val state = Files.createTempDirectory("inc_dedup_empty").toString
    val empty = docs.where(lit(false))
    // a zero-row day must not crash on the store read (stage 1 appends
    // no data files; the old unconditional read died UNABLE_TO_INFER_SCHEMA)
    val out = IncrementalDedup.run(spark, empty,
      TextOps.tokens(col("text")), col("doc_id"), state, "day0", cfg)
    assert(out.count() == 0)
    // idempotent empty re-run
    assert(IncrementalDedup.run(spark, empty,
      TextOps.tokens(col("text")), col("doc_id"), state, "day0", cfg)
      .count() == 0)
    // the id is burned: reusing it with REAL input rejects
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(0),
        TextOps.tokens(col("text")), col("doc_id"), state, "day0", cfg)
    }
    assert(e.getMessage.contains("DIFFERENT input"))
    // subsequent real batches converge to the from-scratch answer
    var last: DataFrame = null
    (0 until 3).foreach { b =>
      last = IncrementalDedup.run(spark, batch(b),
        TextOps.tokens(col("text")), col("doc_id"), state, s"day${b + 1}", cfg)
    }
    assert(pairSet(last) == fromScratch)
  }

  test("delta ingest scans the bucket triples, not the signature store") {
    // scan-economics evidence for the persisted banding: a small delta
    // against a large store must read FEWER bytes than the signature
    // store occupies on disk — the old code re-read + re-banded every
    // stored signature per delta, which alone exceeds that bound. Docs
    // are all-unique (no near-dups), so the gram recheck partition-prunes
    // to the delta's own partition and the measured bytes are the
    // per-delta floor: delta input + bucket triples + pruned metadata.
    val spark0 = spark
    import spark0.implicits._
    def mkDocs(ids: Range): DataFrame =
      ids.map { i =>
        (i.toLong, (0 until 150).map(j => s"w${i}_$j").mkString(" "))
      }.toDF("doc_id", "text")
    val state = Files.createTempDirectory("inc_dedup_scan").toString
    IncrementalDedup.run(spark, mkDocs(0 until 400),
      TextOps.tokens(col("text")), col("doc_id"), state, "big", cfg)

    def diskBytes(dir: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
        else f.length()
      walk(new java.io.File(dir))
    }
    val sigBytes = diskBytes(s"$state/signatures")
    val bucketBytes = diskBytes(IncrementalDedup.bucketPath(state))
    // the triple table IS compact relative to the signatures it replaces
    assert(bucketBytes < sigBytes / 2,
      s"bucket store $bucketBytes B vs signature store $sigBytes B")

    val bytesRead = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytesRead.addAndGet(te.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      IncrementalDedup.run(spark, mkDocs(400 until 410),
        TextOps.tokens(col("text")), col("doc_id"), state, "delta", cfg)
      // drain the async listener bus: poll until the counter is stable
      var prev = -1L
      var stable = 0
      while (stable < 2) {
        val cur = bytesRead.get()
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        Thread.sleep(200)
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(bytesRead.get() < sigBytes,
      s"delta ingest read ${bytesRead.get()} B >= signature store " +
        s"$sigBytes B — the delta is re-scanning the store")
  }

  test("the caller's job description survives run, also when run rejects") {
    val state = Files.createTempDirectory("inc_dedup_desc").toString
    val sc = spark.sparkContext
    sc.setJobDescription("caller: nightly dedup")
    try {
      IncrementalDedup.run(spark, batch(0),
        TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
      assert(sc.getLocalProperty("spark.job.description") == "caller: nightly dedup")
      // rejected after the first stage label: drifted parameters
      intercept[IllegalArgumentException] {
        IncrementalDedup.run(spark, batch(1), TextOps.tokens(col("text")),
          col("doc_id"), state, "b1", cfg.copy(threshold = 0.5))
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller: nightly dedup")
    } finally sc.setJobDescription(null)
  }

  test("the caller's AQE setting survives run, set or unset, also when run rejects") {
    val key = "spark.sql.adaptive.enabled"
    // the caller's explicit setting; an unset key reads None here, where
    // spark.conf.getOption would read the default
    def setting = spark.conf.getAll.get(key)
    for (caller <- Seq(Some("true"), None)) {
      val state = Files.createTempDirectory("inc_dedup_aqe").toString
      caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try {
        IncrementalDedup.run(spark, batch(0),
          TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
        assert(setting == caller)
        intercept[IllegalArgumentException] {
          IncrementalDedup.run(spark, batch(1), TextOps.tokens(col("text")),
            col("doc_id"), state, "b1", cfg.copy(threshold = 0.5))
        }
        assert(setting == caller)
      } finally spark.conf.unset(key)
    }
  }

  test("overlapping AQE-off scopes on one session keep AQE off until the last ends") {
    // concurrent runs on one session (the kill matrix runs four): the
    // first scope to end must not give the caller's setting back while
    // another is still open
    val key = "spark.sql.adaptive.enabled"
    def setting = spark.conf.getAll.get(key)
    for (caller <- Seq(Some("true"), None)) {
      caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      val (entered, firstEnded) =
        (new java.util.concurrent.CountDownLatch(1), new java.util.concurrent.CountDownLatch(1))
      var inSecond = Option.empty[String]
      val second = new Thread(() => graft.util.Adaptive.withoutAqe(spark) {
        entered.countDown()
        firstEnded.await()
        inSecond = setting
      })
      try {
        graft.util.Adaptive.withoutAqe(spark) { second.start(); entered.await() }
        firstEnded.countDown()
        second.join()
        assert(inSecond == Some("false"))
        assert(setting == caller)
      } finally spark.conf.unset(key)
    }
  }

  test("numeric-looking batch ids reject (partition type inference would break resume)") {
    val state = Files.createTempDirectory("inc_dedup_bid").toString
    for (bad <- Seq("20260818", "0123", "", "a b", "x/y")) {
      val e = intercept[IllegalArgumentException] {
        IncrementalDedup.run(spark, batch(0),
          TextOps.tokens(col("text")), col("doc_id"), state, bad, cfg)
      }
      assert(e.getMessage.contains("batchId"), s"'$bad' gave: ${e.getMessage}")
    }
  }

  test("param drift and cross-batch id collisions reject before any append") {
    val state = Files.createTempDirectory("inc_dedup_drift").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)

    val drifted = cfg.copy(bands = 8)
    val e1 = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(1),
        TextOps.tokens(col("text")), col("doc_id"), state, "b1", drifted)
    }
    assert(e1.getMessage.contains("parameters"))

    val e2 = intercept[IllegalArgumentException] {
      // batch(0) ids are already in the store under a NEW batch id
      IncrementalDedup.run(spark, batch(0),
        TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    }
    assert(e2.getMessage.contains("globally unique"))
  }

  test("a signature store lacking a declared column rejects before any append") {
    // a store written by another version or writer: its part files carry
    // no gram sets, which an inferred read would only miss at the recheck,
    // after the delta's signatures and buckets were appended
    val state = Files.createTempDirectory("inc_dedup_nograms").toString
    val toks = TextOps.tokens(col("text"))
    batch(0).select(col("doc_id").as("id"),
        DedupOps.shingleMinhashSig(toks, cfg.k, cfg.bands * cfg.rowsPerBand).as("sig"))
      .withColumn("batch_id", lit("b0"))
      .withColumn("dedup_params", lit(IncrementalDedup.paramString(cfg)))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(s"$state/signatures")
    def files(): Set[String] = {
      val root = java.nio.file.Paths.get(state)
      val walk = Files.walk(root)
      try walk.filter(Files.isRegularFile(_)).toArray.map(p =>
        root.relativize(p.asInstanceOf[java.nio.file.Path]).toString).toSet
      finally walk.close()
    }
    val before = files()
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(1), toks, col("doc_id"), state, "b1", cfg)
    }
    assert(e.getMessage.contains("grams") && e.getMessage.contains(s"$state/signatures"),
      e.getMessage)
    assert(files() == before, "the rejected run changed the state dir")
  }

  test("a batch killed before its commit stays invisible to later batches, clusters and a retry") {
    val toks = TextOps.tokens(col("text"))
    val state = Files.createTempDirectory("inc_dedup_leak").toString
    IncrementalDedup.run(spark, batch(0), toks, col("doc_id"), state, "b0", cfg)
    // kill b1 at its candidates boundary: its signatures and buckets are
    // appended, its pairs and marker are not
    graft.util.StagedRun.onBoundary.set((_, stage) =>
      if (stage.startsWith("candidates")) throw new IllegalStateException("killed"))
    try intercept[IllegalStateException](
      IncrementalDedup.run(spark, batch(1), toks, col("doc_id"), state, "b1", cfg))
    finally graft.util.StagedRun.onBoundary.remove()
    assert(spark.read.parquet(IncrementalDedup.bucketPath(state))
      .where(col("batch_id") === "b1").count() == batch(1).count() * cfg.bands)
    IncrementalDedup.run(spark, batch(2), toks, col("doc_id"), state, "b2", cfg)

    val ref = Files.createTempDirectory("inc_dedup_leak_ref").toString
    Seq(0, 2).foreach(b =>
      IncrementalDedup.run(spark, batch(b), toks, col("doc_id"), ref, s"b$b", cfg))
    assert(pairSet(IncrementalDedup.allPairs(spark, state)) ==
      pairSet(IncrementalDedup.allPairs(spark, ref)))
    val clustered = IncrementalDedup.clusters(spark, state).select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    val committedDocs = batch(0).union(batch(2)).select(col("doc_id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(clustered == committedDocs)

    // b1's documents under a new batch id commit, and the corpus converges
    val retried = IncrementalDedup.run(spark, batch(1), toks, col("doc_id"), state, "b1retry", cfg)
    assert(pairSet(retried) == fromScratch)
    assert(pairSet(IncrementalDedup.allPairs(spark, state)) == fromScratch)
  }

  test("a store whose committed batches lack a bucket partition rejects before any write") {
    // the layout written before bucket tracking: no buckets/ store at all
    val state = Files.createTempDirectory("inc_dedup_nobuckets").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    graft.util.ParquetState.deleteRecursively(new java.io.File(IncrementalDedup.bucketPath(state)))
    val before = stateFiles(state)
    val e = intercept[IllegalArgumentException] {
      IncrementalDedup.run(spark, batch(1),
        TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    }
    assert(e.getMessage.contains("predates bucket tracking") &&
      e.getMessage.contains("b0"), e.getMessage)
    assert(stateFiles(state) == before, "the rejected run changed the state dir")
  }

  test("a non-first batch runs at most 14 jobs, none of them a repair pass") {
    val state = Files.createTempDirectory("inc_dedup_jobs").toString
    IncrementalDedup.run(spark, batch(0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg)
    val input = batch(1) // the read's schema inference job is the caller's
    val jobs = graft.JobsOf(spark) {
      IncrementalDedup.run(spark, input,
        TextOps.tokens(col("text")), col("doc_id"), state, "b1", cfg)
    }
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    assert(jobs.size <= 14, s"${jobs.size} jobs:\n${jobs.mkString("\n")}")
    assert(!jobs.exists(d => d.contains("signature stats") || d.contains("buckets: counts")),
      jobs.mkString("\n"))
  }
}
