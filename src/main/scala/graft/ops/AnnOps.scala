package graft.ops

import graft.agg.VecMeanAgg
import graft.functions.{CosineSim, NearestCentroid, VecLshBucket}
import graft.util.{Adaptive, ParquetState, StagedRun}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k with the (small) query set broadcast
  * — corpus-side is a single scan, no corpus shuffle. Scale path:
  * random-hyperplane LSH buckets (or an IVF-style coarse quantizer over
  * the same buckets) so each query only scans its bucket; recall traded
  * via number of planes / probes. The persisted IVF index reads its own
  * stores under declared schemas ([[buildIvfIndex]] has the layout).
  */
object AnnOps {

  def cosine(a: Column, b: Column): Column =
    TextOps.toColumn(CosineSim(TextOps.expression(a), TextOps.expression(b)))

  def lshBucket(vec: Column, nPlanes: Int, seed: Long = 42L): Column =
    TextOps.toColumn(VecLshBucket(TextOps.expression(vec),
      TextOps.expression(lit(nPlanes)), seed))

  /** Rank scored (query_id, neighbor_id, cos) candidates per query and
    * keep the top k — ties broken by neighbor_id so the answer is
    * deterministic. Single-sourced: every ANN variant must trim with the
    * SAME dedup/ordering contract or their recall comparisons lie. */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
  }

  /** Drop null embeddings from a (id, vec) side. CosineSim is
    * null-intolerant (null in -> cos null), and row_number ranks
    * NULLS-LAST rows too — so a null QUERY vector would claim the k
    * smallest corpus ids as "neighbors" with cos=null, and a null corpus
    * vector would pad top-k lists wherever fewer than k real candidates
    * exist. One dirty row must not fabricate results (same contract as
    * the ivfCodebook null guard). */
  private def nonNullVecs(side: DataFrame, vecCol: String): DataFrame =
    side.where(col(vecCol).isNotNull)

  /** Exact top-k by cosine: queries broadcast against the corpus, windowed
    * rank per query (ties broken by corpus id for determinism).
    * Output: query_id, rank, neighbor_id, cos. */
  def bruteForceTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, excludeSelf: Boolean = true): DataFrame = {
    val c = nonNullVecs(corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv")), "cv")
    val q = nonNullVecs(queries.select(queryId.as("query_id"), queryVec.as("qv")), "qv")
    val scored = c.join(broadcast(q),
        if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }

  /** Nearest-centroid cell of a vector against a plan-embedded codebook
    * (broadcast-sized: nCells x dim doubles) — one pass, zero shuffle. */
  def nearestCell(vec: Column, codebook: Array[Array[Double]]): Column =
    TextOps.toColumn(NearestCentroid(TextOps.expression(vec),
      codebook.map(_.toSeq).toSeq))

  /** Element-wise mean of an array column (see [[graft.agg.VecMeanAgg]]). */
  def vecMean(vec: Column): Column =
    TextOps.toColumn(VecMeanAgg(TextOps.expression(vec))
      .toAggregateExpression())

  private def rowToVec(r: Row): Array[Double] =
    r.getSeq[Any](0).iterator.map {
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(s"non-numeric $other")
    }.toArray

  /** IVF coarse-quantizer codebook: deterministic hash-sample of corpus
    * vectors refined by `kmeansIters` rounds of spherical k-means. Each
    * round is ONE corpus pass (nearest-cell expression, no shuffle of
    * vectors) + a partial/final [[VecMeanAgg]] (the shuffle carries
    * nCells x (dim+1) doubles per partition, not the corpus) + a
    * driver-side collect of the nCells new centroids. Cells that lose all
    * members keep their previous centroid. Plans with AQE off, as the IVF
    * index runs do ([[buildIvfIndex]] has the rationale): the sample and
    * the mean aggregations shuffle KB-sized partials and join nothing. */
  def ivfCodebook(corpus: DataFrame, vec: Column, id: Column,
      nCells: Int, kmeansIters: Int = 2): Array[Array[Double]] =
    Adaptive.withoutAqe(corpus.sparkSession) {
      ivfCodebookImpl(corpus, vec, id, nCells, kmeansIters)
    }

  private def ivfCodebookImpl(corpus: DataFrame, vec: Column, id: Column,
      nCells: Int, kmeansIters: Int): Array[Array[Double]] = {
    // one dirty row (null embedding) must not kill the job: nulls can
    // neither seed the codebook (rowToVec NPE) nor form a null
    // nearest-cell group (getInt on null)
    val c = corpus.select(id.as("cid"), vec.as("cv")).where(col("cv").isNotNull)
    var codebook: Array[Array[Double]] = c
      .select(col("cv"), xxhash64(col("cid")).as("h"), col("cid"))
      .orderBy(col("h"), col("cid")).limit(nCells)
      .select(col("cv")).collect().map(rowToVec)
    var iter = 0
    while (iter < kmeansIters) {
      val means = c
        .select(nearestCell(col("cv"), codebook).as("cell"), col("cv"))
        .groupBy(col("cell"))
        .agg(vecMean(col("cv")).as("mean"))
        .collect()
      val next = codebook.clone()
      means.foreach { r =>
        val cell = r.getInt(0)
        val m = r.getSeq[Any](1).iterator.map(_.asInstanceOf[Double]).toArray
        if (m.nonEmpty) next(cell) = m
      }
      codebook = next
      iter += 1
    }
    codebook
  }

  /** IVF-style ANN: spherical-k-means codebook ([[ivfCodebook]]); every
    * corpus vector is assigned to its nearest centroid by the broadcast
    * codebook expression (ONE pass, no Exchange/Window in the assignment
    * stage); queries probe their `nProbe` nearest centroid cells. Recall
    * rises with nProbe (nProbe = nCells is exhaustive and exactly equals
    * brute force); cost per query is ~nProbe/nCells of the corpus.
    * Output shape matches bruteForceTopK. */
  def ivfTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, nCells: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 2): DataFrame = {
    val c = nonNullVecs(corpus.select(corpusId.as("cid"), corpusVec.as("cv")), "cv")
    val codebook = ivfCodebook(corpus, corpusVec, corpusId, nCells, kmeansIters)
    // an empty / all-null-embedding corpus seeds no codebook: the answer
    // is "no neighbors", not an analysis failure from the (correctly)
    // non-empty-codebook-checked nearest_centroid expression — fall back
    // to brute force over the empty corpus, which returns the same
    // empty frame with the right schema
    if (codebook.isEmpty)
      return bruteForceTopK(corpus, corpusId, corpusVec,
        queries, queryId, queryVec, k)
    // corpus assignment: single codegen'd pass, zero shuffle
    val assigned = c.select(nearestCell(col("cv"), codebook).as("cell"),
      col("cid"), col("cv"))
    scoreProbed(assigned, probeCells(queries, queryId, queryVec, codebook, nProbe), k)
  }

  /** The `nProbe` nearest cells of every non-null query vector, as
    * (cell, query_id, qv). The query set is small and broadcast, so this
    * is a queries x nCells crossJoin and window. */
  private def probeCells(queries: DataFrame, queryId: Column, queryVec: Column,
      codebook: Array[Array[Double]], nProbe: Int): DataFrame = {
    val centroidDf = queries.sparkSession.createDataFrame(
      codebook.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq)
      .toDF("cell", "centroid")
    val qw = Window.partitionBy(col("query_id"))
      .orderBy(col("qsim").desc, col("cell").asc)
    nonNullVecs(queries.select(queryId.as("query_id"), queryVec.as("qv")), "qv")
      .crossJoin(broadcast(centroidDf))
      .select(col("query_id"), col("qv"), col("cell"),
        cosine(col("qv"), col("centroid")).as("qsim"))
      .withColumn("rn", row_number().over(qw))
      .where(col("rn") <= nProbe)
      .select(col("cell"), col("query_id"), col("qv"))
  }

  /** Score the corpus vectors of the probed cells against their queries
    * and keep the top k: `assigned` holds (cell, cid, cv) and `probes`
    * has the [[probeCells]] shape. */
  private def scoreProbed(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame =
    rankTopK(assigned.join(broadcast(probes), Seq("cell"))
      .where(col("cid") =!= col("query_id"))
      .select(col("query_id"), col("cid").as("neighbor_id"),
        cosine(col("qv"), col("cv")).as("cos")), k)

  // ------------------------------------------------------------ persisted IVF

  /** Parameter string recorded in the index meta — build/serve drift
    * rejects loudly (the BuildSketches.paramString pattern). */
  private[ops] def ivfParamString(nCells: Int, kmeansIters: Int): String =
    s"ivf;cells=$nCells;iters=$kmeansIters"

  private[ops] def codebookPath(indexDir: String) = s"$indexDir/codebook"
  private[ops] def assignPath(indexDir: String) = s"$indexDir/assignments"
  private[ops] def metaPath(indexDir: String) = s"$indexDir/meta"

  /** `meta/`: one commit-marker row per committed batch. */
  private val metaSchema = StructType(Seq(
    StructField("batch_id", StringType), StructField("ann_params", StringType),
    StructField("input_hash", LongType), StructField("n_vecs", LongType)))
  /** `codebook/`: one row per cell, stamped with the params and corpus
    * fingerprint of the build that trained it. */
  private val codebookSchema = StructType(Seq(
    StructField("cell", IntegerType), StructField("centroid", ArrayType(DoubleType)),
    StructField("ann_params", StringType), StructField("input_hash", LongType)))

  /** The committed batches' `meta/` rows by batch id, from ONE collect
    * of the (tiny) meta log; empty when no index is committed. */
  private def committedMarkers(spark: SparkSession, indexDir: String): Map[String, Row] = {
    val committed = StagedRun.markers(spark, metaPath(indexDir), metaSchema)
    require(committed.isEmpty || committed.contains(BaseBatch),
      s"index at $indexDir has no committed base build")
    committed
  }

  /** A marker's (input hash, vector count). */
  private def inputOf(m: Row): (Long, Long) = (m.getAs[Long]("input_hash"), m.getAs[Long]("n_vecs"))

  /** [[committedMarkers]] of an index that must be committed. */
  private def requireIndex(spark: SparkSession, indexDir: String): Map[String, Row] = {
    val committed = committedMarkers(spark, indexDir)
    if (committed.isEmpty) throw new IllegalStateException(s"no committed index at " +
      s"$indexDir (missing meta marker) — run buildIvfIndex first; a killed " +
      "build leaves no marker by design")
    committed
  }

  /** The stored codebook rows (cell, centroid, ann_params, input_hash)
    * in cell order, from ONE collect; None when `codebook/` holds no data. */
  private def storedCodebook(spark: SparkSession, indexDir: String): Option[Array[Row]] =
    ParquetState.readIfAny(spark, codebookPath(indexDir), codebookSchema)
      .map(_.collect().sortBy(_.getInt(0)))

  private def centroids(codebook: Array[Row]): Array[Array[Double]] =
    codebook.map(_.getSeq[Double](1).toArray)

  /** The codebook of a committed index. */
  private def committedCodebook(spark: SparkSession, indexDir: String): Array[Array[Double]] =
    storedCodebook(spark, indexDir).map(centroids).getOrElse(throw new IllegalStateException(
      s"index at $indexDir has a commit marker but no codebook"))

  /** Build (or resume) a PERSISTED IVF index — production similarity
    * search builds the index once and serves many query batches, instead
    * of re-paying the k-means + assignment inside every query the way
    * [[ivfTopK]] does.
    *
    * Layout (lineage-stamped):
    *  - `codebook/`    — (cell, centroid, ann_params, input_hash),
    *    written after the k-means;
    *  - `assignments/` — (cid, cv) PARTITIONED BY (batch_id, cell), so a
    *    serve probing p of n cells reads only p/n of the corpus bytes
    *    (partition pruning — the scale win of IVF made physical);
    *  - `meta/`        — one commit-marker row per batch (batch_id,
    *    params, order-insensitive input hash, n_vecs); the base row is
    *    written LAST: the index is valid iff the marker exists.
    *
    * `codebook/` and `meta/` are read under their declared schemas
    * (`codebookSchema`, `metaSchema`) through [[ParquetState.read]]: no
    * schema-inference job, and a store that lacks a declared column —
    * a `meta/` without `batch_id` or a `codebook/` without `input_hash`,
    * as no released layout writes them — is rejected, naming the column
    * and the directory. `assignments/` stays an inferred read: its `cid`
    * and `cv` columns carry the caller's types.
    *
    * Resume: the build is the [[graft.util.StagedRun]] `ivf[base]`, so a
    * committed index re-builds as a no-op for the same input and params
    * and rejects on drift (a stale index silently serving a changed
    * corpus). An uncommitted dir (killed build) reuses a complete stored
    * codebook of the same params and corpus — the k-means passes are the
    * expensive stage — and re-derives the assignments by overwrite.
    *
    * The build, like [[appendIvfBatch]], plans with AQE off
    * ([[graft.util.Adaptive.withoutAqe]]), its input re-bound to `spark`
    * so a `foreachBatch` micro-batch plans the same way: every action is
    * control-sized at any corpus scale — the fingerprint, the codebook
    * sample, k-means partials of nCells x (dim+1) doubles, an ids-only
    * id-clash semi-join, commit-marker I/O — and none holds a join whose
    * strategy AQE could improve, so adaptive execution only adds a
    * re-planning job per exchange. */
  def buildIvfIndex(spark: SparkSession,
      corpus: DataFrame, corpusId: Column, corpusVec: Column,
      indexDir: String, nCells: Int = 16, kmeansIters: Int = 2): Unit =
    StagedRun(spark, "ivf", BaseBatch) { run => Adaptive.withoutAqe(spark) {
    val bound = GraftBridge.bind(spark, corpus)
    val params = ivfParamString(nCells, kmeansIters)
    val c = nonNullVecs(bound.select(corpusId.as("cid"), corpusVec.as("cv")), "cv")
    run.stage("fingerprint")
    val fp = c.agg(StagedRun.fingerprint(col("cid"), col("cv")).as("h"),
      count(lit(1)).as("n")).head()
    val (inHash, nVecs) = (fp.getLong(0), fp.getLong(1))
    require(nVecs > 0, s"buildIvfIndex: nothing to index at $indexDir — " +
      "the corpus has no non-null embedding rows")

    run.stage("control: commit markers")
    committedMarkers(spark, indexDir).get(BaseBatch) match {
      case Some(base) =>
        // committed + identical: no-op (appended batches preserved)
        val stamp = (base.getAs[String]("ann_params"), inputOf(base))
        require(stamp == (params, (inHash, nVecs)),
          s"index at $indexDir is committed for params '${stamp._1}' / " +
            s"input ${stamp._2._1}/${stamp._2._2} but this build uses " +
            s"'$params' / ${inHash}/${nVecs} — a drifted index must be " +
            "rebuilt in a fresh dir, never silently overwritten")
      case None =>
        run.stage("codebook: resume check")
        // reuse a stored codebook from a killed build iff its params,
        // corpus fingerprint and cells all match this build's: reusing an
        // old-corpus or partial quantizer would commit an index whose
        // marker claims the NEW corpus while recall at nProbe < nCells
        // degrades unboundedly
        val stored = storedCodebook(spark, indexDir).flatMap { rows =>
          val p = rows.map(_.getString(2)).distinct.toSeq
          require(p == Seq(params),
            s"uncommitted codebook at $indexDir was built with " +
              s"'${p.mkString(",")}' but this build uses '$params' — " +
              "rebuild in a fresh dir")
          // a stale codebook (the corpus moved on after the kill) or a
          // partial one (a kill mid-commit left only some of its files;
          // a full one holds cells 0 until min(nCells, nVecs)) is not an
          // error: retrain from scratch
          val complete = rows.map(_.getInt(0)).toSeq == (0 until math.min(nCells.toLong, nVecs).toInt)
          Option.when(complete && rows.map(_.getLong(3)).distinct.toSeq == Seq(inHash))(
            centroids(rows))
        }
        val codebook: Array[Array[Double]] = stored.getOrElse {
          run.stage("codebook: k-means")
          val fresh = ivfCodebook(bound, corpusVec, corpusId, nCells, kmeansIters)
          val rows = fresh.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq
          spark.createDataFrame(rows).toDF("cell", "centroid")
            .withColumn("ann_params", lit(params))
            .withColumn("input_hash", lit(inHash))
            .write.mode(SaveMode.Overwrite).parquet(codebookPath(indexDir))
          fresh
        }

        commitBatch(run, indexDir, c, codebook, BaseBatch, params, inHash, nVecs)
    }
    } }

  /** Write batch `batchId`'s assignments of `vecs` (cid, cv) against
    * `codebook`, then its `meta/` marker. */
  private def commitBatch(run: StagedRun, indexDir: String, vecs: DataFrame,
      codebook: => Array[Array[Double]], batchId: String, params: String,
      inHash: Long, nVecs: Long): Unit = {
    // wipe what a killed attempt left under this uncommitted partition:
    // for a shard regenerated since, the new rows would land beside the
    // old attempt's, and all would be committed under this batch's marker
    ParquetState.deletePartition(vecs.sparkSession, assignPath(indexDir), batchId)
    run.stage("assignments")
    vecs.select(nearestCell(col("cv"), codebook).as("cell"), col("cid"), col("cv"))
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).partitionBy("batch_id", "cell")
      .parquet(assignPath(indexDir))
    run.stage("commit marker")
    StagedRun.appendMarker(vecs.sparkSession, metaPath(indexDir), metaSchema,
      batchId, params, inHash, nVecs)
  }

  /** The initial build's reserved batch id. */
  private[ops] val BaseBatch = "base"

  /** Append a DELTA of new vectors to a committed index — the growing-
    * corpus path: production similarity corpora gain a shard per day,
    * and re-running the k-means + full re-assignment per shard is the
    * same economics bug the persisted index fixed for serving.
    *
    * The delta is quantized against the EXISTING codebook (no retrain):
    * with nProbe = nCells serving stays exact over the grown corpus
    * regardless (every cell is probed), and at nProbe < nCells recall
    * over the delta degrades only as far as the base-trained centroids
    * misfit it — the standard IVF trade; retrain by rebuilding in a
    * fresh dir when the drift observable (per-batch counts in `meta/`)
    * says the appended mass rivals the base.
    *
    * A [[graft.util.StagedRun]] `ivf[<batchId>]`: the assignments are a
    * `batch_id=<batchId>` partition, the `meta/` marker row comes after
    * them, and serving reads committed batches only, so a kill leaves an
    * invisible partition that the re-run replaces. Params come from the
    * stored meta, so the caller cannot drift them; delta ids must be new
    * across the index. Plans with AQE off, as [[buildIvfIndex]] does. */
  def appendIvfBatch(spark: SparkSession,
      delta: DataFrame, deltaId: Column, deltaVec: Column,
      indexDir: String, batchId: String): Unit =
    StagedRun(spark, "ivf", batchId) { run => Adaptive.withoutAqe(spark) {
    StagedRun.requireBatchId(batchId, BaseBatch)
    run.stage("control: commit markers")
    val committed = requireIndex(spark, indexDir)
    val params = committed(BaseBatch).getAs[String]("ann_params")

    val d = nonNullVecs(GraftBridge.bind(spark, delta)
      .select(deltaId.as("cid"), deltaVec.as("cv")), "cv")
    run.stage("fingerprint")
    val fp = d.agg(StagedRun.fingerprint(col("cid"), col("cv")).as("h"),
      count(lit(1)).as("n"), countDistinct(col("cid")).as("nd")).head()
    val (inHash, nVecs) = (fp.getLong(0), fp.getLong(1))
    require(nVecs > 0, s"appendIvfBatch: delta '$batchId' has no non-null " +
      "embedding rows — an empty shard is not an index batch")
    require(fp.getLong(2) == nVecs,
      s"delta '$batchId' carries duplicated vector id(s) — ids must be unique")

    // a committed batch re-runs as a no-op
    if (!StagedRun.isCommitted(batchId, indexDir, committed.get(batchId).map(inputOf),
        inHash, nVecs)) {
      // global id uniqueness across committed batches: one aggregate over
      // a column-pruned semi-join of the id column only (uncommitted
      // partials excluded so a killed append does not block its own retry)
      run.stage("id-clash check")
      val clash = spark.read.parquet(assignPath(indexDir))
        .where(col("batch_id").isin(committed.keys.toSeq: _*))
        .select(col("cid")).join(d.select(col("cid")), Seq("cid"), "left_semi")
        .agg(min(col("cid"))).head().get(0)
      require(clash == null,
        s"delta '$batchId' carries vector id $clash already indexed at " +
          s"$indexDir — ids must be globally unique")

      commitBatch(run, indexDir, d, committedCodebook(spark, indexDir),
        batchId, params, inHash, nVecs)
    }
    } }

  /** Most probe rows (query rows x nProbe, each carrying its query
    * vector) one [[ivfTopKFromIndex]] call collects to the driver: 2^18,
    * e.g. 16,384 queries at nProbe = 16, about 0.8 GB of probe vectors at
    * 384 dimensions. Serve larger query sets in batches. */
  final val MaxServeProbes = 1 << 18

  /** Collect the probe set through `limit(max + 1)`, so an oversized
    * query batch fails after at most `max + 1` rows reach the driver
    * instead of exhausting its memory. */
  private[ops] def collectServeProbes(probePlan: DataFrame, max: Int): Array[Row] = {
    val rows = probePlan.limit(max + 1).collect()
    require(rows.length <= max,
      s"ivfTopKFromIndex: the query batch needs more than $max probe rows " +
        "(query rows x nProbe); serve it in smaller batches")
    rows
  }

  /** Serve top-k queries from a PERSISTED index ([[buildIvfIndex]]).
    * The stored codebook broadcasts into the probe ranking; the
    * assignment read carries an explicit cell filter, so parquet
    * partition pruning touches only the probed cells' files. With
    * nProbe = nCells the answer equals brute force exactly (the gate
    * query pins this against the brute-force oracle). A query batch that
    * needs more than [[MaxServeProbes]] probe rows fails. */
  def ivfTopKFromIndex(spark: SparkSession,
      indexDir: String, queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, nProbe: Int = 4): DataFrame = {
    // the index = the COMMITTED batches (base build + appended deltas):
    // a killed append leaves assignment files without a marker row, and
    // reading them would serve uncommitted, possibly-partial data
    val committed = requireIndex(spark, indexDir)
    val probePlan = probeCells(queries, queryId, queryVec,
      committedCodebook(spark, indexDir), nProbe)
    // the probe set is query-batch-sized (queries x nProbe, at most
    // MaxServeProbes rows), so materialize it ONCE on the driver and
    // serve both consumers (the literal cell filter and the broadcast
    // join side) from the local rows — leaving it lazy would execute the
    // query-side scan + centroid ranking twice. A control action: AQE
    // off saves its re-planning jobs; the serve join itself stays lazy
    // and runs under the caller's conf
    val probeRows = Adaptive.withoutAqe(spark) {
      collectServeProbes(probePlan, MaxServeProbes)
    }
    val probes = spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePlan.schema)
    // literal cell filter for partition pruning — the join alone would
    // filter ROWS but still list/scan every cell's files. An empty probe
    // set (empty/all-null query batch) leaves an always-false isin: the
    // plan prunes every partition and the result is empty with the
    // regular schema
    val probedCells = probeRows.map(_.getInt(0)).distinct.toSeq
    val assigned = spark.read.parquet(assignPath(indexDir))
      .where(col("batch_id").isin(committed.keys.toSeq: _*) &&
        col("cell").isin(probedCells: _*))
    scoreProbed(assigned, probes, k)
  }

  /** Size hyperplane-LSH parameters for a corpus: the sf1-class bench
    * showed WHY this matters — with planesPerBand fixed at 6, bucket
    * occupancy is n/2^6 and the candidate volume grows QUADRATICALLY in
    * n through random collisions (the 38× wall at a mere 10× corpus).
    * Planes must scale with log2(n) to hold occupancy flat; bands then
    * buy the recall back (each extra plane halves a band's match
    * probability at the threshold).
    *
    * Closed forms (standard random-hyperplane analysis): per-plane
    * collision probability at cosine c is p = 1 − acos(c)/π; a band of
    * r planes matches with p^r; b bands (OR-construction) recall
    * 1 − (1 − p^r)^b. Random far pairs collide per band with ~2^-r, so
    * expected occupancy per band-bucket is n/2^r.
    *
    * @return (bands, planesPerBand) with planesPerBand =
    *         max(1, ceil(log2(n / maxOccupancy))) and bands the
    *         smallest b reaching targetRecall at minCos. */
  def lshParamsFor(n: Long, minCos: Double, targetRecall: Double = 0.999,
      maxOccupancy: Long = 1000L): (Int, Int) = {
    require(n > 0 && maxOccupancy > 0)
    require(minCos > -1.0 && minCos < 1.0,
      s"minCos must be in (-1, 1), got $minCos")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val r = math.max(1,
      math.ceil(math.log(n.toDouble / maxOccupancy) / math.log(2.0)).toInt)
    val p = 1.0 - math.acos(minCos) / math.Pi
    val pBand = math.pow(p, r)
    val bDouble =
      math.ceil(math.log1p(-targetRecall) / math.log1p(-pBand))
    // reject the whole infeasible regime loudly — a huge-but-finite band
    // count is as useless as an overflowed one (each band is a full
    // explode+join pass over the corpus), and Double→Int silently
    // saturates at Int.MaxValue
    val MaxBands = 4096
    require(bDouble.isFinite && bDouble <= MaxBands,
      s"reaching recall $targetRecall at cos=$minCos with $r planes/band " +
        f"(band match probability $pBand%.2e) needs ${bDouble}%.0f bands " +
        s"(> $MaxBands) — no realistic band count works; raise " +
        "maxOccupancy or minCos, or lower targetRecall")
    (math.max(1, bDouble.toInt), r)
  }

  /** LSH-bucketed ANN: queries only scan the corpus vectors sharing a
    * bucket in at least one of `nTables` independent hash tables (the
    * standard OR-construction: per-pair hit probability
    * 1 - (1 - (1-θ/π)^nPlanes)^nTables). `nTables = 1` is the classic
    * single-table variant; more tables buy recall for candidate volume.
    * Scale shape: the corpus side carries only (table, bucket, id) into
    * the bucket join — bare (query, neighbor) pairs are deduplicated
    * across tables BEFORE the corpus payload (the vectors) is re-joined,
    * so vectors never ride through the multi-table explosion. Same output
    * shape as bruteForceTopK; recall < 1 by design (measured in tests
    * and bounded at the gate by the recall bound-check query). */
  def lshTopK(corpus: DataFrame, corpusId: Column, corpusVec: Column,
      queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, nPlanes: Int = 8, nTables: Int = 1, seed: Long = 42L): DataFrame = {
    require(nTables >= 1, s"nTables must be >= 1, got $nTables")
    val c = nonNullVecs(corpus.select(corpusId.as("neighbor_id"), corpusVec.as("cv")), "cv")
    val q = nonNullVecs(queries.select(queryId.as("query_id"), queryVec.as("qv")), "qv")
    // one band per table; distinct plane sets per table: a large odd
    // stride keeps the seeds apart
    def tableBuckets(side: DataFrame, id: String, vec: String): DataFrame =
      DedupOps.band(side, col(id), nTables)(t =>
        lshBucket(col(vec), nPlanes, seed + 0x9e3779b97f4a7c15L * (t + 1)))
    val pairs = tableBuckets(c, "neighbor_id", "cv")
      .join(broadcast(tableBuckets(q, "query_id", "qv")), Seq("band", "bucket"))
      .where(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    // the candidate set is CORPUS-proportional — each query's buckets
    // hold ~|corpus|/2^nPlanes ids per table, so at 1B corpus rows and
    // the default 8 planes a 100-query batch already carries ~400M
    // pairs: forcing a broadcast here would hit the 8 GB broadcast wall
    // / driver OOM. The pairs instead shuffle by neighbor_id (8-byte
    // rows) and hash-build against the corpus scan (never sort-merge);
    // only the genuinely query-sized side (the query vectors) broadcasts.
    val scored = c.join(pairs.hint("shuffle_hash"), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine(col("qv"), col("cv")).as("cos"))
    rankTopK(scored, k)
  }
}
