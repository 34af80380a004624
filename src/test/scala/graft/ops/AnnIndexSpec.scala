package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Persisted IVF index: build once, serve many — the serve path must
  * reproduce the in-query answer through the stored artifact, a killed
  * build must resume without re-paying the k-means, and a drifted
  * (params or corpus) rebuild must reject rather than silently serve a
  * stale index. */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-annindex-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def queries: DataFrame = emb.where(col("vec_id") < 10)

  private def serveSet(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("query_id"), col("rank"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private def codebookFiles(idx: String): Map[String, Long] = {
    val d = new java.io.File(AnnOps.codebookPath(idx))
    d.listFiles().filter(_.isFile).map(f => f.getName -> f.lastModified()).toMap
  }

  test("served-exhaustive == brute force == in-query exhaustive IVF") {
    val idx = Files.createTempDirectory("ann_idx_exact").toString
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val served = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8))
    val brute = serveSet(AnnOps.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), queries, col("vec_id"), col("embedding"), k = 3))
    assert(served == brute && served.nonEmpty)
    // serving is stable across reads of the same artifact
    assert(serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8)) == served)
  }

  test("committed rebuild with identical input is a no-op; drift rejects") {
    val idx = Files.createTempDirectory("ann_idx_idem").toString
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val before = codebookFiles(idx)
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    assert(codebookFiles(idx) == before, "no-op rebuild rewrote the codebook")

    val e1 = intercept[IllegalArgumentException] {
      AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
        nCells = 16, kmeansIters = 2) // params drift
    }
    assert(e1.getMessage.contains("fresh dir"))
    val e2 = intercept[IllegalArgumentException] {
      AnnOps.buildIvfIndex(spark, emb.where(col("vec_id") >= 100),
        col("vec_id"), col("embedding"), idx, nCells = 8, kmeansIters = 2)
    }
    assert(e2.getMessage.contains("fresh dir"), "corpus drift must reject")
  }

  test("kill between codebook and marker: resume reuses the codebook") {
    val idx = Files.createTempDirectory("ann_idx_kill").toString
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val reference = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 3))
    // simulate the kill: marker + assignments gone, codebook survives
    graft.util.ParquetState.deleteRecursively(
      new java.io.File(AnnOps.metaPath(idx)))
    graft.util.ParquetState.deleteRecursively(
      new java.io.File(AnnOps.assignPath(idx)))
    // an uncommitted index must refuse to serve
    val e = intercept[IllegalStateException] {
      AnnOps.ivfTopKFromIndex(spark, idx, queries,
        col("vec_id"), col("embedding"), k = 3, nProbe = 3)
    }
    assert(e.getMessage.contains("no committed index"))

    val cbBefore = codebookFiles(idx)
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    // the k-means was NOT re-paid: stored codebook files untouched
    assert(codebookFiles(idx) == cbBefore)
    // and the resumed index serves the identical answer (assignments are
    // a pure function of the reused codebook)
    assert(serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 3)) == reference)

    // a killed build with DRIFTED params rejects instead of mixing
    graft.util.ParquetState.deleteRecursively(
      new java.io.File(AnnOps.metaPath(idx)))
    val e2 = intercept[IllegalArgumentException] {
      AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
        nCells = 8, kmeansIters = 3)
    }
    assert(e2.getMessage.contains("uncommitted codebook"))
  }

  test("incremental append: base + two deltas serve the full-corpus brute answer exactly") {
    val idx = Files.createTempDirectory("ann_idx_inc").toString
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
    AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d2")
    // nProbe = nCells probes every cell, so the incrementally-grown index
    // must reproduce brute force over the FULL corpus exactly — codebook
    // staleness cannot hide here
    val served = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8))
    val brute = serveSet(AnnOps.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), queries, col("vec_id"), col("embedding"), k = 3))
    assert(served == brute && served.nonEmpty)

    // committed delta re-runs as a no-op; same id + different input rejects
    AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
    val e1 = intercept[IllegalArgumentException] {
      AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d1")
    }
    assert(e1.getMessage.contains("DIFFERENT input"))
    // already-indexed ids reject (global id contract)
    val e2 = intercept[IllegalArgumentException] {
      AnnOps.appendIvfBatch(spark, part(0), col("vec_id"), col("embedding"), idx, "d3")
    }
    assert(e2.getMessage.contains("globally unique"))
    // the reserved base id rejects
    val e3 = intercept[IllegalArgumentException] {
      AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "base")
    }
    assert(e3.getMessage.contains("base"))
  }

  test("append to a non-index rejects; uncommitted append is invisible until completed") {
    val idx = Files.createTempDirectory("ann_idx_inc_kill").toString
    val e0 = intercept[IllegalStateException] {
      AnnOps.appendIvfBatch(spark,
        emb.where(pmod(col("vec_id"), lit(3)) === 1),
        col("vec_id"), col("embedding"), idx, "d1")
    }
    assert(e0.getMessage.contains("no committed index"))

    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val baseAnswer = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8))

    // simulate the kill between the assignment append and the marker:
    // write d1's assignment partition exactly as appendIvfBatch would,
    // with no meta row
    val codebook = spark.read.parquet(AnnOps.codebookPath(idx))
      .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    part(1).select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .select(AnnOps.nearestCell(col("cv"), codebook).as("cell"),
        col("cid"), col("cv"))
      .withColumn("batch_id", lit("d1"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("batch_id", "cell")
      .parquet(AnnOps.assignPath(idx))
    // uncommitted batch must NOT serve
    assert(serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8)) == baseAnswer)

    // the re-run completes the batch (overwriting the orphan partition,
    // not doubling it) and the grown index serves the grown answer
    AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
    val n = spark.read.parquet(AnnOps.assignPath(idx))
      .where(col("batch_id") === "d1").count()
    assert(n == part(1).count())
    val grown = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8))
    val bruteGrown = serveSet(AnnOps.bruteForceTopK(
      part(0).unionAll(part(1)), col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 3))
    assert(grown == bruteGrown && grown != baseAnswer)
  }

  test("killed append + regenerated shard: no ghost rows from the first attempt") {
    val idx = Files.createTempDirectory("ann_idx_ghost").toString
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    // first attempt at 'd1' writes its assignment partition (delta = D)
    // and dies before the marker
    val codebook = spark.read.parquet(AnnOps.codebookPath(idx))
      .orderBy(col("cell")).collect().map(_.getSeq[Double](1).toArray)
    part(1).select(col("vec_id").as("cid"), col("embedding").as("cv"))
      .select(AnnOps.nearestCell(col("cv"), codebook).as("cell"),
        col("cid"), col("cv"))
      .withColumn("batch_id", lit("d1"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("batch_id", "cell")
      .parquet(AnnOps.assignPath(idx))
    // the shard is REGENERATED with different content (delta = D'),
    // mapping to (potentially) different cells — the retry must wipe the
    // orphan partition, not merge with it
    AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d1")
    val d1Ids = spark.read.parquet(AnnOps.assignPath(idx))
      .where(col("batch_id") === "d1").select(col("cid")).collect()
      .map(_.getLong(0)).toSet
    val want = part(2).select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(d1Ids == want, "ghost rows from the killed attempt survived the retry")
    // and serving the committed index equals brute force over base + D'
    val served = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 8))
    val brute = serveSet(AnnOps.bruteForceTopK(
      part(0).unionAll(part(2)), col("vec_id"), col("embedding"),
      queries, col("vec_id"), col("embedding"), k = 3))
    assert(served == brute)
  }

  /** Every file under the index with its modification time. */
  private def indexFiles(idx: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(idx)).map(f => f.getPath -> f.lastModified()).toMap
  }

  /** Rewrite a store without `column`, as an older layout wrote it. */
  private def dropColumn(dir: String, column: String): Unit = {
    val old = spark.read.parquet(dir).drop(column)
    val rows = old.collect()
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), old.schema)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
  }

  test("a pre-batch meta/ (no batch_id) is rejected by build, append and serve") {
    val idx = Files.createTempDirectory("ann_idx_prebatch").toString
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    dropColumn(AnnOps.metaPath(idx), "batch_id")
    val files = indexFiles(idx)
    val calls: Seq[(String, () => Unit)] = Seq(
      "build" -> (() => AnnOps.buildIvfIndex(spark, part(0), col("vec_id"),
        col("embedding"), idx, nCells = 8, kmeansIters = 2)),
      "append" -> (() => AnnOps.appendIvfBatch(spark, part(1), col("vec_id"),
        col("embedding"), idx, "d1")),
      "serve" -> (() => AnnOps.ivfTopKFromIndex(spark, idx, queries,
        col("vec_id"), col("embedding"), k = 3, nProbe = 8).collect()))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("batch_id") && e.getMessage.contains(idx),
        s"$name: ${e.getMessage}")
    }
    assert(indexFiles(idx) == files, "a rejected call wrote to the index")
  }

  test("a killed build's codebook without input_hash is rejected, not retrained") {
    val idx = Files.createTempDirectory("ann_idx_prefp").toString
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    graft.util.ParquetState.deleteRecursively(new java.io.File(AnnOps.metaPath(idx)))
    graft.util.ParquetState.deleteRecursively(new java.io.File(AnnOps.assignPath(idx)))
    dropColumn(AnnOps.codebookPath(idx), "input_hash")
    val before = codebookFiles(idx)
    val e = intercept[IllegalArgumentException] {
      AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
        nCells = 8, kmeansIters = 2)
    }
    assert(e.getMessage.contains("input_hash") && e.getMessage.contains("fresh dir"),
      e.getMessage)
    assert(codebookFiles(idx) == before, "the stale codebook was rewritten")
  }

  test("one append plus one served collect stays within its job budget") {
    val idx = Files.createTempDirectory("ann_idx_jobs").toString
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val jobs = graft.JobsOf(spark) {
      AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
      assert(AnnOps.ivfTopKFromIndex(spark, idx, queries,
        col("vec_id"), col("embedding"), k = 3, nProbe = 8).collect().nonEmpty)
    }
    // 19 jobs (27 when meta/ and codebook/ were inferred reads and the
    // id-clash check was a take(1)); the window includes the frames'
    // own parquet schema inference
    assert(jobs.length <= 19, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
  }

  test("every job of buildIvfIndex and appendIvfBatch carries an ivf[<batch>] label") {
    val idx = Files.createTempDirectory("ann_idx_labels").toString
    // the frames (and their schema inference) exist before the window opens
    val (base, delta) = (emb.where(pmod(col("vec_id"), lit(3)) === 0),
      emb.where(pmod(col("vec_id"), lit(3)) === 1))
    val jobs = graft.JobsOf(spark) {
      AnnOps.buildIvfIndex(spark, base, col("vec_id"), col("embedding"), idx,
        nCells = 8, kmeansIters = 2)
      AnnOps.appendIvfBatch(spark, delta, col("vec_id"), col("embedding"), idx, "d1")
    }
    assert(jobs.nonEmpty && jobs.forall(d => d.startsWith("ivf[base] ") || d.startsWith("ivf[d1] ")),
      jobs.mkString(" | "))
    assert(jobs.exists(_.startsWith("ivf[d1] ")), jobs.mkString(" | "))
  }

  test("the caller's job description survives the IVF build and append, also when they reject") {
    val idx = Files.createTempDirectory("ann_idx_desc").toString
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    val sc = spark.sparkContext
    def description = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("caller: nightly index")
    try {
      AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
        nCells = 8, kmeansIters = 2)
      assert(description == "caller: nightly index")
      AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
      assert(description == "caller: nightly index")
      // rejected after the first stage label: drifted params, reused id
      intercept[IllegalArgumentException] {
        AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
          nCells = 16, kmeansIters = 2)
      }
      assert(description == "caller: nightly index")
      intercept[IllegalArgumentException] {
        AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d1")
      }
      assert(description == "caller: nightly index")
    } finally sc.setJobDescription(null)
  }

  test("the caller's AQE setting survives the IVF build and append, set or unset, also when they reject") {
    val key = "spark.sql.adaptive.enabled"
    // the caller's explicit setting; an unset key reads None here, where
    // spark.conf.getOption would read the default
    def setting = spark.conf.getAll.get(key)
    def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
    for (caller <- Seq(Some("true"), None)) {
      val idx = Files.createTempDirectory("ann_idx_aqe").toString
      caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      try {
        AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
          nCells = 8, kmeansIters = 2)
        assert(setting == caller)
        AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
        assert(setting == caller)
        // rejected after the first stage label: drifted params, reused id
        intercept[IllegalArgumentException] {
          AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
            nCells = 16, kmeansIters = 2)
        }
        assert(setting == caller)
        intercept[IllegalArgumentException] {
          AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d1")
        }
        assert(setting == caller)
      } finally spark.conf.unset(key)
    }
  }

  test("a codebook a kill left partial is retrained, not reused") {
    val idx = Files.createTempDirectory("ann_idx_partial_cb").toString
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val reference = serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 3))
    // the kill: no marker, no assignments, and only some codebook files
    graft.util.ParquetState.deleteRecursively(new java.io.File(AnnOps.metaPath(idx)))
    graft.util.ParquetState.deleteRecursively(new java.io.File(AnnOps.assignPath(idx)))
    val parts = codebookFiles(idx).keys.filter(_.startsWith("part-")).toSeq.sorted
    assert(parts.length > 1, parts)
    parts.indices.filter(_ % 2 == 0).foreach { i =>
      assert(new java.io.File(AnnOps.codebookPath(idx), parts(i)).delete())
    }
    AnnOps.buildIvfIndex(spark, emb, col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    assert(spark.read.parquet(AnnOps.codebookPath(idx)).count() == 8)
    assert(serveSet(AnnOps.ivfTopKFromIndex(spark, idx, queries,
      col("vec_id"), col("embedding"), k = 3, nProbe = 3)) == reference)
  }

  test("lshParamsFor: occupancy bounded, recall reached, scales with corpus") {
    // closed-form recall of the returned params must clear the target
    def recallOf(b: Int, r: Int, cos: Double): Double = {
      val p = 1.0 - math.acos(cos) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, r), b)
    }
    for (n <- Seq(20000L, 2000000L, 200000000L, 20000000000L)) {
      val (b, r) = AnnOps.lshParamsFor(n, minCos = 0.8)
      // expected random occupancy per band-bucket stays under the cap
      assert(n.toDouble / math.pow(2.0, r) <= 1000.0 + 1e-9, s"n=$n r=$r")
      assert(recallOf(b, r, 0.8) >= 0.999, s"n=$n b=$b r=$r")
    }
    // planes grow with the corpus (the sf1 lesson: fixed planes -> the
    // candidate volume grows quadratically through random collisions)
    val (_, rSmall) = AnnOps.lshParamsFor(20000L, 0.8)
    val (_, rBig) = AnnOps.lshParamsFor(20000000000L, 0.8)
    assert(rBig > rSmall)
    // the shipped gate parameterization (32x6) is what the formula gives
    // for the gate-sized corpus at recall ~1-1e-4
    val (b6, r6) = AnnOps.lshParamsFor(64000L, 0.8, targetRecall = 0.9999)
    assert(r6 == 6 && b6 <= 40, s"got ($b6, $r6)")
    // an unreachable combination rejects loudly instead of returning a
    // band count in the millions
    val e = intercept[IllegalArgumentException] {
      AnnOps.lshParamsFor(1L << 60, minCos = 0.05, maxOccupancy = 1L)
    }
    assert(e.getMessage.contains("band"))
    // ... including the regime where ceil() exceeds Int range and a
    // naive toInt would SILENTLY saturate to Int.MaxValue
    val e2 = intercept[IllegalArgumentException] {
      AnnOps.lshParamsFor(1L << 40, minCos = 0.3, maxOccupancy = 1L)
    }
    assert(e2.getMessage.contains("band"))
    // and a merely-huge-but-finite band requirement also rejects
    val e3 = intercept[IllegalArgumentException] {
      AnnOps.lshParamsFor(1000000000000L, minCos = 0.7)
    }
    assert(e3.getMessage.contains("band"))
  }

  test("serve bound: an oversized probe set fails before the driver pulls it") {
    val ten = spark.range(10).toDF("cell")
    assert(AnnOps.collectServeProbes(ten, 10).length == 10)
    // 2^40 rows would never fit on the driver: only max + 1 are pulled
    val e = intercept[IllegalArgumentException] {
      AnnOps.collectServeProbes(spark.range(1L << 40).toDF("cell"), 9)
    }
    assert(e.getMessage.contains("more than 9 probe rows"), e.getMessage)
    // the gate's serve batches (10 queries x 16 cells) sit far below it
    assert(AnnOps.MaxServeProbes >= 10 * 16)
  }

  test("empty / all-null corpus rejects loudly") {
    val idx = Files.createTempDirectory("ann_idx_empty").toString
    val e = intercept[IllegalArgumentException] {
      AnnOps.buildIvfIndex(spark, emb.where(lit(false)),
        col("vec_id"), col("embedding"), idx, nCells = 8)
    }
    assert(e.getMessage.contains("nothing to index"))
  }
}
