package graft.ops

import graft.util.{Adaptive, ParquetState, StagedRun}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental MinHash-LSH near-dup dedup over a GROWING corpus — the
  * production shape for a 100 TB training set that gains a shard per day.
  *
  * The batch pipeline ([[DedupOps.minhashVerifiedPairs]]) re-shingles,
  * re-signs, and re-LSH-joins the WHOLE corpus on every run: adding a 1%
  * delta costs 100% of the work. This job instead persists the per-doc
  * signature state once and makes each delta pay only for itself:
  *
  *  - `signatures/` — one row per document ever ingested: (id, minhash
  *    signature, sorted shingle-hash set), partitioned by the batch that
  *    brought it, with full lineage (batch id, params, and an
  *    order-insensitive input hash over BOTH ids and content — so a
  *    regenerated shard with the same ids but different text cannot
  *    silently no-op against its old commit marker). Written ONCE per
  *    document; never rewritten by later batches.
  *  - `buckets/` — the PERSISTED LSH banding: one compact (id, band,
  *    bucket) triple per (doc, band), partitioned by batch. Written once
  *    per batch; a delta then joins against stored triples instead of
  *    re-reading and re-banding every stored signature — the per-delta
  *    state scan drops from the full signature store (sig arrays +
  *    bands×hash recomputation per stored doc) to the triple table, and
  *    the signature store's heavy columns are only ever read
  *    partition-pruned (the delta's own partition, plus the partitions
  *    holding a candidate member for the gram recheck).
  *  - `pairs/` — the exact-verified near-dup pairs, appended per batch.
  *  - `batches/` — one commit-marker row per completed batch (batch id,
  *    doc count, input hash, params), appended AFTER the batch's pairs:
  *    a batch is done, and visible to readers, iff its marker exists.
  *
  * Every store is read under its declared schema (`sigSchema`,
  * `bucketSchema`, `pairStoreSchema`, `markerSchema`) through
  * [[graft.util.ParquetState.read]]: no schema-inference job, and a store
  * whose oldest part file lacks a declared column is rejected, naming the
  * column and the directory, before anything is appended.
  *
  * Per delta the work is: sign the NEW docs (one pass over the delta),
  * persist their bucket triples, and bucket-join NEW × ALL over the
  * triples the delta touches — old×old pairs were settled by earlier
  * batches and are never re-proposed. The exact shingle-Jaccard recheck
  * then disposes candidates exactly as in the batch pipeline. Connected
  * components over the ACCUMULATED pair set stay cheap by construction —
  * near-dup edges above a high threshold are a tiny fraction of the
  * corpus, and [[DedupOps.connectedComponents]] is log-round — so "pairs
  * + CC delta" is delta-proportional in the only stage that was
  * corpus-proportional (the LSH propose/dispose).
  *
  * Batch-composition law (why incremental ≡ from-scratch): every unordered
  * pair lands in exactly one batch — (old, old) in the earlier batch that
  * completed it, (new, old) and (new, new) in the new batch's NEW × ALL
  * join — so the union over batches is the full pair set, and the gate
  * query hash-matches the from-scratch all-pairs oracle. One documented
  * asymmetry: [[DedupOps.capBuckets]] drops over-cap buckets at propose
  * time, and pairs once verified are never retracted — if a bucket crosses
  * the cap only after later growth, a from-scratch run drops ALL its
  * pairs while the incremental state keeps those verified while it was
  * small (append-monotone output; equality holds whenever no bucket
  * exceeds the cap, which the gate data satisfies and IncrementalDedupSpec
  * pins).
  *
  * Each batch is a [[graft.util.StagedRun]] `incdedup[<batchId>]`: its
  * jobs are labelled by stage, the delta is fingerprinted over (id,
  * grams), and a committed batch id re-runs as a no-op, or rejects for a
  * DIFFERENT input. Resume rests on one rule: every read of the
  * signature, bucket and pair stores ([[allPairs]], [[clusters]], and
  * inside a run the id-clash check, the NEW × ALL join and the gram
  * read) sees the committed batches only, plus, inside its own run, the
  * running batch. So whatever a killed attempt left — complete or
  * partial partitions in any store — is invisible, and a run of a batch
  * without a marker first deletes that batch's partition in all three
  * stores, then redoes the batch from the caller's input (which may
  * differ from the killed attempt's). An uncommitted batch id that is
  * never run again keeps its partitions on disk: readers never see
  * them, and the remedy is to re-run that id or to delete its
  * `batch_id=<id>` directories. A run never deletes another id's
  * partitions, since a concurrent run's in-flight batch would be lost.
  * Beyond that:
  *  - params drift (bands, k, threshold...) against the committed
  *    markers rejects before any write — mixed-parameter signatures are
  *    not comparable;
  *  - a store written before bucket tracking (committed batches without
  *    a bucket partition) rejects before any write: rebuild it;
  *  - document ids must be globally unique across batches (the pair-op
  *    contract, [[DedupOps.joinPairPayload]]): a new batch carrying an id
  *    a committed batch holds rejects loudly.
  */
object IncrementalDedup {

  /** Same knobs (and defaults) as [[DedupOps.minhashVerifiedPairs]]. */
  final case class Config(
      k: Int = 3,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      threshold: Double = 0.8,
      bucketCap: Int = 5000)

  /** Canonical parameter encoding — the BuildSketches.paramString pattern:
    * recorded in every signature row and commit marker, validated before
    * any append so a drifted config cannot poison the store. */
  private[ops] def paramString(cfg: Config): String =
    s"mhlsh;k=${cfg.k};b=${cfg.bands};r=${cfg.rowsPerBand};" +
      s"t=${math.round(cfg.threshold * 1000000L)};cap=${cfg.bucketCap}"

  private def sigPath(stateDir: String) = s"$stateDir/signatures"
  private def pairPath(stateDir: String) = s"$stateDir/pairs"
  private def batchPath(stateDir: String) = s"$stateDir/batches"
  private[ops] def bucketPath(stateDir: String) = s"$stateDir/buckets"

  // the declared store schemas (see the scaladoc above); batch_id is the
  // partition column of the signature, bucket and pair stores
  private val batchIdField = StructField("batch_id", StringType)
  private val sigSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("sig", ArrayType(LongType)),
    StructField("grams", ArrayType(LongType)),
    StructField("dedup_params", StringType),
    batchIdField))
  private val bucketSchema = StructType(Seq(
    StructField("id", LongType), StructField("band", IntegerType),
    StructField("bucket", LongType), batchIdField))
  private val pairStoreSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("inter", LongType), StructField("uni", LongType), batchIdField))
  private val markerSchema = StructType(Seq(
    batchIdField,
    StructField("n_docs", LongType),
    StructField("input_hash", LongType),
    StructField("dedup_params", StringType)))

  /** The rows of the batches `ids` in the store at `dir`. Every read of
    * the signature, bucket and pair stores goes through here with the
    * committed batch ids (inside [[run]], plus the running batch's own),
    * so nothing an uncommitted attempt left is ever read. */
  private def batchRows(spark: SparkSession, dir: String, schema: StructType,
      ids: Seq[String]): DataFrame =
    ParquetState.readOrEmpty(spark, dir, schema).where(col("batch_id").isin(ids: _*))

  private def committedIds(spark: SparkSession, stateDir: String): Seq[String] =
    StagedRun.markers(spark, batchPath(stateDir), markerSchema).keys.toSeq

  /** All exact-verified near-dup pairs of the committed batches in
    * `stateDir`: (id_a, id_b, inter, uni), id_a < id_b, distinct. */
  def allPairs(spark: SparkSession, stateDir: String): DataFrame =
    pairsOf(spark, stateDir, committedIds(spark, stateDir))

  private def pairsOf(spark: SparkSession, stateDir: String, ids: Seq[String]): DataFrame =
    batchRows(spark, pairPath(stateDir), pairStoreSchema, ids)
      // a store written before uncommitted attempts were wiped can hold a
      // committed batch's pairs twice: a kill between the pair append and
      // the marker, then a resume that appended the same rows again
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))

  /** Near-dup clusters over everything committed so far: (id, component,
    * kept) — [[DedupOps.dedupByPairs]] over the accumulated pair set,
    * nodes drawn from the signature store. The CC input is the (tiny)
    * edge set, so re-deriving clusters after a delta costs O(edges), not
    * a corpus re-scan. */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    val ids = committedIds(spark, stateDir)
    val nodes = batchRows(spark, sigPath(stateDir), sigSchema, ids)
      .select(col("id")).distinct()
    DedupOps.dedupByPairs(nodes, pairsOf(spark, stateDir, ids))
  }

  /** Ingest one batch and return [[allPairs]] over the grown corpus.
    *
    * @param df      the NEW documents only (the delta)
    * @param tokens  token-array column (e.g. `TextOps.tokens(col("text"))`)
    * @param id      globally-unique LONG document id
    * @param batchId caller-chosen batch name (shard date, ingest run id);
    *                re-running a committed batchId with identical input is
    *                a no-op, with different input an error. Must start
    *                with a letter ([[graft.util.StagedRun.requireBatchId]]):
    *                the stores partition by batch_id
    *
    * The whole run plans with AQE off ([[graft.util.Adaptive.withoutAqe]]),
    * `df` re-bound to `spark` so a `foreachBatch` micro-batch plans the
    * same way: the control actions are metadata- or delta-sized, and the
    * candidate join and the recheck have their skew bounded by the bucket
    * cap with both sides delta-proportional, so a static plan loses
    * nothing and saves a re-planning job per exchange. The returned frame
    * is lazy and runs under the caller's setting.
    */
  def run(spark: SparkSession, df: DataFrame, tokens: Column, id: Column,
      stateDir: String, batchId: String, cfg: Config = Config()): DataFrame =
    StagedRun(spark, "incdedup", batchId) { run =>
      Adaptive.withoutAqe(spark) {
        runImpl(run, spark, GraftBridge.bind(spark, df), tokens, id, stateDir, batchId, cfg)
      }
    }

  private def runImpl(run: StagedRun, spark: SparkSession, df: DataFrame, tokens: Column,
      id: Column, stateDir: String, batchId: String, cfg: Config): DataFrame = {
    StagedRun.requireBatchId(batchId)
    val params = paramString(cfg)
    val nHashes = cfg.bands * cfg.rowsPerBand
    val dataStores = Seq(sigPath(stateDir) -> sigSchema,
      bucketPath(stateDir) -> bucketSchema, pairPath(stateDir) -> pairStoreSchema)

    // ---- validate stored state against this run's config ----
    run.stage("control: commit markers")
    val committed = StagedRun.markers(spark, batchPath(stateDir), markerSchema)
    val storedParams = committed.values.map(_.getAs[String]("dedup_params")).toSeq.distinct
    require(storedParams.forall(_ == params),
      s"state at $stateDir was built with parameters " +
        s"'${storedParams.mkString(",")}' but this run uses '$params' — " +
        "mixed-parameter signatures are not comparable; resume with " +
        "the original config or rebuild from a fresh state dir")
    // a store from before bucket tracking holds committed batches without
    // a bucket partition, whose pairs with every later batch the NEW × ALL
    // join would silently miss. One driver listing, no job
    val bucketed = ParquetState.visibleEntries(spark, bucketPath(stateDir))
      .map(_.getPath.getName).toSet
    val unbucketed = committed.collect { case (b, m)
      if m.getAs[Long]("n_docs") > 0 && !bucketed(s"batch_id=$b") => b }.toSeq.sorted
    require(unbucketed.isEmpty,
      s"state at $stateDir predates bucket tracking: committed batch(es) " +
        s"${unbucketed.mkString(", ")} have no partition in " +
        s"${bucketPath(stateDir)} — rebuild from a fresh dir")
    // the footer guard of every existing store, before anything is written
    dataStores.foreach { case (dir, schema) => ParquetState.readIfAny(spark, dir, schema) }

    // ONE materialization of the delta's derived columns serves the
    // fingerprint agg, the signature append, the id-clash check and the
    // delta's own bucket banding. Delta-sized by contract (never the
    // corpus); MEMORY_AND_DISK spills rather than OOMs on a fat delta;
    // released in the finally at the end of run(). A daily delta often
    // arrives as ONE file (the streaming front end feeds single-file
    // micro-batches), so rebalanced() spreads the signing pass over the
    // slots; it is a no-op when the delta already has enough splits.
    val newBase = TextOps.rebalanced(df).select(id.as("id"),
      DedupOps.shingleMinhashSig(tokens, cfg.k, nHashes).as("sig"),
      DedupOps.shingleHashSet(tokens, cfg.k).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // the fingerprint covers id AND content (grams is a pure function of
    // the text + k): an id-only hash would let a regenerated shard with
    // the same ids but different text no-op against its old marker
    run.stage("sign: fingerprint+materialize")
    val fpRow = newBase.agg(
      StagedRun.fingerprint(col("id"), col("grams")).as("h"),
      count(lit(1)).as("n"),
      countDistinct(col("id")).as("nd")).head()
    val (inHash, inCount) = (fpRow.getLong(0), fpRow.getLong(1))
    // within-batch id uniqueness (the cross-batch check below cannot see
    // it, and the FIRST batch has no store to check against): duplicate
    // ids would fan candidate pairs out through the payload re-joins and
    // make allPairs' pair-key dedup keep an arbitrary (inter, uni) row
    require(fpRow.getLong(2) == inCount,
      s"batch '$batchId' carries ${inCount - fpRow.getLong(2)} duplicated " +
        "document id(s) WITHIN the batch — ids must be unique (the " +
        "pair-op contract)")

    if (StagedRun.isCommitted(batchId, stateDir, committed.get(batchId).map(m =>
        (m.getAs[Long]("input_hash"), m.getAs[Long]("n_docs"))), inHash, inCount))
      return pairsOf(spark, stateDir, committed.keys.toSeq) // idempotent re-run

    // the batch has no marker, so no reader has seen its partitions: wipe
    // what a killed attempt left and redo the batch from the caller's input
    dataStores.foreach { case (dir, _) => ParquetState.deletePartition(spark, dir, batchId) }
    val visible = committed.keys.toSeq :+ batchId
    def writeMarker(): Unit = StagedRun.appendMarker(spark, batchPath(stateDir),
      markerSchema, batchId, inCount, inHash, params)

    // an empty delta (a zero-row day) is a legitimate no-op, not an
    // error: commit the marker (burning the batch id with hash 0 / count
    // 0 so a later NON-empty reuse of the id rejects) and skip the pipeline
    if (inCount == 0L) {
      writeMarker()
      return pairsOf(spark, stateDir, visible)
    }

    // ---- stage 1: signature append ----
    // id-uniqueness guard (the pair-op contract): a duplicated id would
    // silently fan pairs out through the payload re-joins. An ids-only
    // semi-join; a global min is one result job whether or not an id
    // clashes
    run.stage("sign: id-clash check")
    if (committed.nonEmpty) {
      val clash = batchRows(spark, sigPath(stateDir), sigSchema, committed.keys.toSeq)
        .select(col("id"))
        .join(newBase.select(col("id")), Seq("id"), "left_semi")
        .agg(min(col("id"))).head().get(0)
      require(clash == null,
        s"batch '$batchId' carries document id $clash " +
          s"already present in $stateDir — ids must be globally unique " +
          "across batches")
    }
    run.stage("sign: append")
    newBase
      .withColumn("batch_id", lit(batchId))
      .withColumn("dedup_params", lit(params))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(sigPath(stateDir))

    // ---- stage 1b: persist this batch's banded buckets ----
    run.stage("buckets: append")
    DedupOps.bandSignatures(newBase.select(col("id"), col("sig")), cfg.bands, cfg.rowsPerBand)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(bucketPath(stateDir))

    // ---- stage 2: NEW × ALL candidate pairs from the bucket store ----
    val buckets = batchRows(spark, bucketPath(stateDir), bucketSchema, visible)
    val keys = Seq("band", "bucket")
    // only buckets the DELTA touches matter: old×old pairs were settled
    // by earlier batches, so buckets without a new member cannot produce
    // a new pair — the semi-join drops them before the (only) count+join
    val newKeys = buckets.where(col("batch_id") === batchId)
      .select(keys.map(col): _*).distinct()
    val matchedAll = buckets.join(newKeys, keys, "left_semi")
    // the cap must see FULL bucket sizes (old + new): the semi-join keeps
    // whole buckets, so counting matchedAll counts the full banding of
    // every touched bucket. capBuckets keeps or drops WHOLE buckets, so
    // the capped NEW side is exactly guardedAll filtered to this batch
    val guardedAll = DedupOps.capBuckets(matchedAll, keys, cfg.bucketCap)
    val guardedNew = guardedAll.where(col("batch_id") === batchId)
    // keep the old side's batch_id through the join: stage 3 then reads
    // gram sets only from the signature partitions that actually hold a
    // candidate (partition pruning), not the whole store
    run.stage("candidates: NEWxALL bucket join")
    // normalize the pair orientation BEFORE the distinct: a new-new pair
    // arrives in both orientations but normalizes to one row, and a
    // new-old pair exists only as (new, old) — so one distinct on (id_a,
    // id_b, batch_o) is the pair distinct (batch_o is determined by the
    // pair)
    val cand0 = guardedNew
      .select(keys.map(col) :+ col("id").as("id_n"): _*)
      .join(guardedAll.select(
        keys.map(col) :+ col("id").as("id_o") :+ col("batch_id").as("batch_o"): _*),
        keys)
      .where(col("id_n") =!= col("id_o"))
      .select(least(col("id_n"), col("id_o")).as("id_a"),
        greatest(col("id_n"), col("id_o")).as("id_b"), col("batch_o"))
      .distinct()
      // materialized once: the candidate set is delta-proportional (the
      // LSH-propose contract) and feeds both the touched-batch collect
      // and the verify join below
      .localCheckpoint()
    val candidates = cand0.select(col("id_a"), col("id_b"))

    // ---- stage 3: exact shingle-Jaccard recheck + pair append ----
    // batches holding a candidate member (plus the delta itself, whose
    // ids sit on both sides of new×new pairs) — the grams read below
    // partition-prunes to these
    run.stage("verify: touched batches")
    val touched = (cand0.select(col("batch_o")).distinct()
      .collect().map(_.getString(0)).toSet + batchId).toSeq.sorted
    val gramsSrc = batchRows(spark, sigPath(stateDir), sigSchema, touched)
      .select(col("id"), col("grams"))
    run.stage("verify: jaccard recheck + pair append")
    DedupOps.verifyByJaccard(candidates, gramsSrc, cfg.threshold)
      .withColumn("batch_id", lit(batchId))
      .write.mode(SaveMode.Append).partitionBy("batch_id")
      .parquet(pairPath(stateDir))

    // ---- stage 4: commit marker — the batch is now done ----
    run.stage("commit marker")
    writeMarker()

    pairsOf(spark, stateDir, visible)
    } finally newBase.unpersist(false)
  }
}
