package graft.streaming

import graft.ops.AnnOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming front end for the persisted IVF index: foreachBatch drives
  * appendIvfBatch with epoch-keyed batch ids over a committed base
  * build. The engine's replay-on-restart semantics must COMPOSE with the
  * index's per-batch commit markers — a mid-stream kill landing AFTER a
  * delta committed but before the engine wrote its COMMIT-log entry
  * (the offset WAL is written BEFORE the batch executes, so every
  * restart re-runs the last offset-logged-but-uncommitted epoch with
  * the same epochId) restarts to the identical index (no double
  * ingestion, no ghost rows). */
class StreamingAnnIngestSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sann-ingest-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
  private def part(b: Int): DataFrame =
    emb.where(pmod(col("vec_id"), lit(3)) === b)
  private def queries: DataFrame = emb.where(col("vec_id") < 10)

  /** parts 1 and 2 as single-file shards under `dir`/src. */
  private def stageShards(dir: String): String = {
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    (1 until 3).foreach { b =>
      graft.util.ParquetState.writeSingleFile(part(b), s"$src/batch_$b.parquet")
    }
    src
  }

  private def runStream(src: String, idx: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (df: DataFrame, epochId: Long) => body(df, epochId) }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def ingest(idx: String)(df: DataFrame, epochId: Long): Unit =
    // a replayed-empty trailing micro-batch is a legal engine artifact,
    // not a shard — skip it (appendIvfBatch rejects empty deltas loudly)
    if (!df.isEmpty)
      AnnOps.appendIvfBatch(spark, df, col("vec_id"), col("embedding"),
        idx, s"epoch_$epochId")

  private def serveSet(idx: String): Set[(Long, Int, Long)] =
    AnnOps.ivfTopKFromIndex(spark, idx, queries,
        col("vec_id"), col("embedding"), k = 3, nProbe = 8)
      .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  private lazy val bruteFull: Set[(Long, Int, Long)] =
    AnnOps.bruteForceTopK(emb, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 3)
      .select(col("query_id"), col("rank"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  test("engine-chosen deltas grow the index to the full-corpus brute answer") {
    val dir = Files.createTempDirectory("sann_plain").toString
    val idx = s"$dir/idx"
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    runStream(stageShards(dir), idx, s"$dir/ckpt")(ingest(idx))
    assert(serveSet(idx) == bruteFull && bruteFull.nonEmpty)
    // every vector indexed exactly once
    assert(spark.read.parquet(s"$idx/assignments").count() == emb.count())
  }

  test("a foreachBatch epoch starts the same stage jobs as a direct append of its shard") {
    val dir = Files.createTempDirectory("sann_plan").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    graft.util.ParquetState.writeSingleFile(part(1), s"$src/batch_1.parquet")
    val (direct, streamed) = (s"$dir/direct", s"$dir/streamed")
    Seq(direct, streamed).foreach(idx => AnnOps.buildIvfIndex(spark, part(0),
      col("vec_id"), col("embedding"), idx, nCells = 8, kmeansIters = 2))
    // the same single file both ways, so both plans see the same splits
    val shard = spark.read.schema(emb.schema).parquet(src)
    def append(idx: String, df: DataFrame, batchId: String): Seq[String] =
      graft.JobsOf(spark)(AnnOps.appendIvfBatch(spark, df,
        col("vec_id"), col("embedding"), idx, batchId))
    val directJobs = append(direct, shard, "d1")
    var epochJobs = Seq.empty[String]
    runStream(src, streamed, s"$dir/ckpt") { (df, epochId) =>
      if (!df.isEmpty) epochJobs = append(streamed, df, s"epoch_$epochId")
    }
    // the stage labels without the batch id
    def stages(jobs: Seq[String]) = jobs.map(_.replaceFirst("""\[[^\]]*\]""", "[]")).sorted
    info(s"${directJobs.size} jobs direct, ${epochJobs.size} in the epoch")
    assert(directJobs.nonEmpty && stages(epochJobs) == stages(directJobs),
      s"direct:\n${directJobs.mkString("\n")}\nepoch:\n${epochJobs.mkString("\n")}")
  }

  test("kill AFTER a delta commits but before the engine records it: replay is a no-op") {
    val dir = Files.createTempDirectory("sann_kill").toString
    val idx = s"$dir/idx"
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    val src = stageShards(dir)
    val ckpt = s"$dir/ckpt"
    var crashed = false
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(src, idx, ckpt) { (df, epochId) =>
        ingest(idx)(df, epochId)
        if (epochId == 0 && !crashed) {
          crashed = true
          throw new RuntimeException("injected mid-stream kill")
        }
      }
    }
    assert(e.getMessage.contains("injected"))
    // epoch 0's delta committed before the kill (base + epoch_0 markers)
    assert(spark.read.parquet(s"$idx/meta").count() == 2)

    // restart from the SAME checkpoint: the engine replays epoch 0
    // (offset WAL written before execution, commit-log entry never
    // written) — the commit marker turns it into a no-op,
    // then epoch 1 ingests normally
    runStream(src, idx, ckpt)(ingest(idx))
    assert(serveSet(idx) == bruteFull)
    assert(spark.read.parquet(s"$idx/assignments").count() == emb.count(),
      "a replayed epoch double-ingested assignments")
  }
}
