package graft.ops

import graft.util.{ParquetState, StagedRun}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
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
  *    a batch is done iff its marker exists, so a kill at any point
  *    leaves a state a re-run completes to the identical answer.
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
  * then disposes candidates exactly as in the batch pipeline. Connected components over the ACCUMULATED pair set
  * stay cheap by construction — near-dup edges above a high threshold are
  * a tiny fraction of the corpus, and [[DedupOps.connectedComponents]] is
  * log-round — so "pairs + CC delta" is delta-proportional in the only
  * stage that was corpus-proportional (the LSH propose/dispose).
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
  * DIFFERENT input. Beyond that protocol, resume works per store:
  *  - a kill between the signature append and the pair append resumes by
  *    recomputing the batch's pairs FROM THE STORE (the store, not the
  *    caller's input, is the source of truth; once the batch's pairs
  *    exist the input must hash-match what was signed — before that, a
  *    hash-mismatched signature partition is treated as a PARTIAL left
  *    by a kill mid-commit and is wiped + re-signed from the current
  *    input, since nothing downstream depends on it yet); any signed
  *    batch whose bucket partition is missing OR structurally incomplete
  *    (triple count != docs × bands — a kill mid-commit of the bucket
  *    append) is rebuilt from its own signature partition by dynamic
  *    partition overwrite;
  *  - a kill between the pair append and the commit marker re-appends the
  *    identical pair rows; [[allPairs]] reads through a (id_a, id_b)
  *    dropDuplicates so the double append is invisible;
  *  - params drift (bands, k, threshold...) against stored state rejects
  *    before any append — mixed-parameter signatures are not comparable;
  *  - document ids must be globally unique across batches (the pair-op
  *    contract, [[DedupOps.joinPairPayload]]): a new batch carrying an id
  *    the store already holds rejects loudly.
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

  /** All exact-verified near-dup pairs accumulated in `stateDir`:
    * (id_a, id_b, inter, uni), id_a < id_b, distinct. */
  def allPairs(spark: SparkSession, stateDir: String): DataFrame =
    ParquetState.readOrEmpty(spark, pairPath(stateDir), pairStoreSchema)
      // a kill between the pair append and the commit marker re-appends
      // the batch's identical rows on resume — collapse by pair key
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"))

  /** Near-dup clusters over everything ingested so far: (id, component,
    * kept) — [[DedupOps.dedupByPairs]] over the accumulated pair set,
    * nodes drawn from the signature store. The CC input is the (tiny)
    * edge set, so re-deriving clusters after a delta costs O(edges), not
    * a corpus re-scan. */
  def clusters(spark: SparkSession, stateDir: String): DataFrame = {
    val nodes = ParquetState.readOrEmpty(spark, sigPath(stateDir), sigSchema)
      .select(col("id")).distinct()
    DedupOps.dedupByPairs(nodes, allPairs(spark, stateDir))
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
    */
  def run(spark: SparkSession, df: DataFrame, tokens: Column, id: Column,
      stateDir: String, batchId: String, cfg: Config = Config()): DataFrame =
    StagedRun(spark, "incdedup", batchId) { run =>
      graft.util.Adaptive.withCoalescedShuffles(spark) {
        runImpl(run, spark, df, tokens, id, stateDir, batchId, cfg)
      }
    }

  private def runImpl(run: StagedRun, spark: SparkSession, df: DataFrame, tokens: Column,
      id: Column, stateDir: String, batchId: String, cfg: Config): DataFrame = {
    StagedRun.requireBatchId(batchId)
    val params = paramString(cfg)
    val nHashes = cfg.bands * cfg.rowsPerBand

    // ---- validate stored state against this run's config ----
    // ONE control pass over the signature store serves the params check,
    // the already-signed probe and the per-batch signed counts of the
    // bucket completeness check (this batch's own count comes from the
    // fingerprint agg below).
    run.stage("control: signature stats")
    val existingSigs = ParquetState.readIfAny(spark, sigPath(stateDir), sigSchema)
    val sigStats: Seq[(String, String, Long)] = existingSigs.map { st =>
      graft.util.Adaptive.withoutAqe(spark) {
        st.groupBy(col("batch_id"), col("dedup_params"))
          .agg(count(lit(1)).as("n")).collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      }
    }.getOrElse(Seq.empty)
    locally {
      val stored = sigStats.map(_._2).distinct
      require(stored.forall(_ == params),
        s"state at $stateDir was built with parameters " +
          s"'${stored.mkString(",")}' but this run uses '$params' — " +
          "mixed-parameter signatures are not comparable; resume with " +
          "the original config or rebuild from a fresh state dir")
    }
    run.stage("control: commit markers")
    val committed = StagedRun.markers(spark, batchPath(stateDir), markerSchema)

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
    val fpRow = graft.util.Adaptive.withoutAqe(spark) { newBase.agg(
      StagedRun.fingerprint(col("id"), col("grams")).as("h"),
      count(lit(1)).as("n"),
      countDistinct(col("id")).as("nd")).head() }
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
      return allPairs(spark, stateDir) // idempotent re-run

    def writeMarker(): Unit = StagedRun.appendMarker(spark, batchPath(stateDir),
      markerSchema, batchId, inCount, inHash, params)

    // an empty delta (a zero-row day) is a legitimate no-op, not an
    // error: stage 1 would append NO data files, and on a first batch the
    // unconditional store read below would then find no data file —
    // commit the marker (burning the batch id with hash 0 / count 0 so a
    // later NON-empty reuse of the id rejects) and skip the pipeline
    if (inCount == 0L) {
      writeMarker()
      return allPairs(spark, stateDir)
    }

    // ---- stage 1: signature append (skipped when resuming past it) ----
    val alreadySigned = sigStats.exists(_._1 == batchId)
    val signedMatches = alreadySigned && {
      // killed after the signature append: the STORE is the source of
      // truth for this batch's members, so the caller's input must be the
      // shard that was signed. On a mismatch, the batch's pairs decide:
      // present ⇒ the partition was complete when stage 3 ran, so the
      // CALLER's input changed — reject; absent ⇒ the partition may be a
      // PARTIAL left by a kill mid-commit, which nothing downstream
      // depends on yet — wipe this batch's signature + bucket partitions
      // and re-sign from the current input
      val st = existingSigs.get.where(col("batch_id") === batchId)
      val r = st.agg(StagedRun.fingerprint(col("id"), col("grams")), count(lit(1))).head()
      val ok = r.getLong(0) == inHash && r.getLong(1) == inCount
      if (!ok) {
        val pairsForBatch = ParquetState.readIfAny(spark, pairPath(stateDir),
          pairStoreSchema).exists(
          _.where(col("batch_id") === batchId).take(1).nonEmpty)
        require(!pairsForBatch,
          s"resuming batch '$batchId' in $stateDir: the signed state " +
            s"(hash/count ${r.getLong(0)}/${r.getLong(1)}) does not match " +
            s"this run's input (${inHash}/${inCount}) and the batch's " +
            "pairs already exist — the input shard changed between the " +
            "kill and the resume")
        ParquetState.deletePartition(spark, sigPath(stateDir), batchId)
        ParquetState.deletePartition(spark, bucketPath(stateDir), batchId)
      }
      ok
    }
    if (!signedMatches) {
      // id-uniqueness guard (the pair-op contract): a duplicated id would
      // silently fan pairs out through the payload re-joins. Re-read the
      // store here (existingSigs' file listing predates a possible
      // partial-partition wipe above) and exclude this batch's own rows.
      // An ids-only semi-join under a static plan; a global min is one
      // result job whether or not an id clashes
      run.stage("sign: id-clash check")
      ParquetState.readIfAny(spark, sigPath(stateDir), sigSchema).foreach { st =>
        graft.util.Adaptive.withoutAqe(spark) {
        val clash = st.where(col("batch_id") =!= batchId).select(col("id"))
          .join(newBase.select(col("id")), Seq("id"), "left_semi")
          .agg(min(col("id"))).head().get(0)
        require(clash == null,
          s"batch '$batchId' carries document id $clash " +
            s"already present in $stateDir — ids must be globally unique " +
            "across batches")
        }
      }
      run.stage("sign: append")
      newBase
        .withColumn("batch_id", lit(batchId))
        .withColumn("dedup_params", lit(params))
        .write.mode(SaveMode.Append).partitionBy("batch_id")
        .parquet(sigPath(stateDir))
    }

    // ---- stage 1b: persist this batch's banded buckets ----
    // The loop also covers resume (a kill between the signature and
    // bucket appends leaves this batch signed but unbucketed) and
    // migration (a store written before bucket tracking backfills every
    // batch once, from its own signature partition).
    val store = ParquetState.read(spark, sigPath(stateDir), sigSchema)
    // presence alone is NOT completeness: a kill mid-commit of a bucket
    // append can leave a PARTIAL visible partition, whose missing docs
    // every later NEW × ALL join would silently drop. The banding is
    // exactly `bands` triples per signed doc, so per-batch triple counts
    // check completeness; an incomplete partition is rebuilt by dynamic
    // partition overwrite, idempotent under repeated kills. The signed
    // counts come from the pre-write control pass: the append above
    // touched ONLY this batch's partition, which now holds inCount rows
    val signedCounts: Map[String, Long] =
      sigStats.groupBy(_._1).map { case (b, rows) => b -> rows.map(_._3).sum } ++
        Map(batchId -> inCount)
    run.stage("buckets: counts")
    val bucketCounts: Map[String, Long] =
      ParquetState.readIfAny(spark, bucketPath(stateDir), bucketSchema).map { b =>
        graft.util.Adaptive.withoutAqe(spark) {
          b.groupBy(col("batch_id")).agg(count(lit(1)).as("n")).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
      }.getOrElse(Map.empty)
    val incomplete = signedCounts.filter { case (b, n) =>
      bucketCounts.getOrElse(b, 0L) != n * cfg.bands }
    run.stage("buckets: append")
    incomplete.keys.toSeq.sorted.foreach { b =>
      // the delta's own partition bands from the persisted newBase
      // instead of a parquet read-back: its content is PROVABLY the
      // stored partition's (either written from newBase above, or
      // hash+count-verified equal in the resume check — and sig is a
      // pure function of the gram set the hash covers). Other batches
      // (resume/migration backfill) keep the store as source of truth.
      DedupOps.bandSignatures(
          (if (b == batchId) newBase.select(col("id"), col("sig"))
           else store.where(col("batch_id") === b)
             .select(col("id"), col("sig"))),
          cfg.bands, cfg.rowsPerBand)
        .withColumn("batch_id", lit(b))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(bucketPath(stateDir))
    }

    // ---- stage 2: NEW × ALL candidate pairs from the bucket store ----
    // everything reads back through the persisted state so a resume and
    // a straight-through run join the exact same rows
    val buckets = ParquetState.read(spark, bucketPath(stateDir), bucketSchema)
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
    // pair). AQE off for the propose/dispose joins: their skew is bounded
    // by construction (capBuckets caps every bucket) and both sides are
    // delta-proportional, so static planning loses nothing and saves one
    // re-planning job per exchange.
    val cand0 = graft.util.Adaptive.withoutAqe(spark) { guardedNew
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
      .localCheckpoint() }
    val candidates = cand0.select(col("id_a"), col("id_b"))

    // ---- stage 3: exact shingle-Jaccard recheck + pair append ----
    // batches holding a candidate member (plus the delta itself, whose
    // ids sit on both sides of new×new pairs) — the grams read below
    // partition-prunes to these
    run.stage("verify: touched batches")
    val touched = (graft.util.Adaptive.withoutAqe(spark) {
      cand0.select(col("batch_o")).distinct()
        .collect().map(_.getString(0)).toSet
    } + batchId).toSeq.sorted
    val gramsSrc = store.where(col("batch_id").isin(touched: _*))
      .select(col("id"), col("grams"))
    run.stage("verify: jaccard recheck + pair append")
    // same bounded-skew/static-plan argument as cand0 above
    graft.util.Adaptive.withoutAqe(spark) {
      val verified = DedupOps.verifyByJaccard(candidates, gramsSrc, cfg.threshold)
      verified.withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).partitionBy("batch_id")
        .parquet(pairPath(stateDir))
    }

    // ---- stage 4: commit marker — the batch is now done ----
    run.stage("commit marker")
    writeMarker()

    allPairs(spark, stateDir)
    } finally newBase.unpersist(false)
  }
}
