package graft.streaming

import graft.ops.{DedupOps, IncrementalDedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Streaming front end for the incremental dedup store: foreachBatch
  * with epoch-keyed batch ids. The engine's replay-on-restart semantics
  * must COMPOSE with the store's commit markers — a mid-stream kill
  * (even one landing AFTER a batch fully committed but before the
  * engine recorded its offset) restarts to the identical pair set, with
  * no double ingestion. */
class StreamingIncrementalDedupSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-sinc-dedup-test")
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

  /** 3 single-file shards of the documents table under `dir`/src. */
  private def stageShards(dir: String): String = {
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    (0 until 3).foreach { b =>
      graft.util.ParquetState.writeSingleFile(
        docs.where(pmod(col("doc_id"), lit(3)) === b),
        s"$src/batch_$b.parquet")
    }
    src
  }

  private def runStream(src: String, state: String, ckpt: String)(
      body: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
      .writeStream
      .foreachBatch { (df: DataFrame, epochId: Long) => body(df, epochId) }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def ingest(state: String)(df: DataFrame, epochId: Long): Unit = {
    IncrementalDedup.run(spark, df, TextOps.tokens(col("text")),
      col("doc_id"), state, s"epoch_$epochId", cfg)
    ()
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Long, Long)] =
    df.select(col("id_a"), col("id_b"), col("inter"), col("uni"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  private lazy val fromScratch: Set[(Long, Long, Long, Long)] = pairSet(
    DedupOps.minhashVerifiedPairs(docs, TextOps.tokens(col("text")),
      col("doc_id"), k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8))

  test("engine-chosen batches converge to the from-scratch pair set") {
    val dir = Files.createTempDirectory("sinc_plain").toString
    val src = stageShards(dir)
    runStream(src, s"$dir/state", s"$dir/ckpt")(ingest(s"$dir/state"))
    assert(fromScratch.nonEmpty)
    assert(pairSet(IncrementalDedup.allPairs(spark, s"$dir/state")) == fromScratch)
    // exactly one signature row per document — nothing double-ingested
    assert(spark.read.parquet(s"$dir/state/signatures").count() == docs.count())
  }

  test("a foreachBatch epoch starts the same stage jobs as a direct run of its shard") {
    val dir = Files.createTempDirectory("sinc_plan").toString
    val src = s"$dir/src"
    new java.io.File(src).mkdirs()
    graft.util.ParquetState.writeSingleFile(
      docs.where(pmod(col("doc_id"), lit(3)) === 1), s"$src/batch_1.parquet")
    val (direct, streamed) = (s"$dir/direct", s"$dir/streamed")
    Seq(direct, streamed).foreach(state => IncrementalDedup.run(spark,
      docs.where(pmod(col("doc_id"), lit(3)) === 0),
      TextOps.tokens(col("text")), col("doc_id"), state, "b0", cfg))
    // the same single file both ways, so both plans see the same splits
    val shard = spark.read.schema(docs.schema).parquet(src)
    val directJobs = graft.JobsOf(spark)(ingest(direct)(shard, 1L))
    var epochJobs = Seq.empty[String]
    runStream(src, streamed, s"$dir/ckpt") { (df, epochId) =>
      if (!df.isEmpty) epochJobs = graft.JobsOf(spark)(ingest(streamed)(df, epochId))
    }
    // the stage labels without the batch id
    def stages(jobs: Seq[String]) = jobs.map(_.replaceFirst("""\[[^\]]*\]""", "[]")).sorted
    info(s"${directJobs.size} jobs direct, ${epochJobs.size} in the epoch")
    assert(directJobs.nonEmpty && stages(epochJobs) == stages(directJobs),
      s"direct:\n${directJobs.mkString("\n")}\nepoch:\n${epochJobs.mkString("\n")}")
  }

  test("kill AFTER a batch commits but before the engine records it: replay is a no-op") {
    val dir = Files.createTempDirectory("sinc_kill").toString
    val src = stageShards(dir)
    val state = s"$dir/state"
    val ckpt = s"$dir/ckpt"
    // crash the stream once, AFTER epoch 1's ingest fully committed —
    // the worst replay case: the store says done, the engine says not
    var crashed = false
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      runStream(src, state, ckpt) { (df, epochId) =>
        ingest(state)(df, epochId)
        if (epochId == 1 && !crashed) {
          crashed = true
          throw new RuntimeException("injected mid-stream kill")
        }
      }
    }
    assert(e.getMessage.contains("injected"))
    // the store committed epochs 0 and 1 before the kill
    assert(spark.read.parquet(s"$state/batches").count() == 2)

    // restart from the SAME checkpoint: the engine replays epoch 1
    // (its offset WAL was written before execution; what the kill
    // prevented is the COMMIT-log entry) — the marker turns it into a
    // no-op,
    // then epoch 2 ingests normally
    runStream(src, state, ckpt)(ingest(state))
    assert(pairSet(IncrementalDedup.allPairs(spark, state)) == fromScratch)
    assert(spark.read.parquet(s"$state/signatures").count() == docs.count(),
      "a replayed epoch double-ingested signatures")
    // raw pair rows were appended once per batch (no replay re-append —
    // allPairs' dropDuplicates must be a no-op here)
    val raw = spark.read.parquet(s"$state/pairs")
    assert(raw.count() == raw.dropDuplicates("id_a", "id_b").count())
  }
}
