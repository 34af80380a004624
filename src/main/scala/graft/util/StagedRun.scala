package graft.util

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The commit protocol of graft's resumable state pipelines
  * ([[graft.jobs.BuildSketches]], [[graft.ops.IncrementalDedup]], the IVF
  * index of [[graft.ops.AnnOps]]). A run executes under the caller's job
  * description, restored on every exit path, and labels its jobs
  * `<pipeline>[<id>] <stage>`; its input is identified by [[fingerprint]]
  * and row count; a batch is done iff its commit marker, appended after
  * everything the batch writes, exists ([[markers]], [[appendMarker]],
  * [[isCommitted]]). The readers of the dedup and IVF stores see
  * committed batches only, so what a killed attempt left stays invisible
  * until the batch's re-run replaces it. The parameters a pipeline
  * records, and the drift it tolerates, stay in the pipeline. */
final class StagedRun private (sc: SparkContext, private val name: String) {

  /** Call the boundary hook, then label the next jobs `<name> <stage>`. */
  def stage(stage: String): Unit = {
    StagedRun.onBoundary.get()(name, stage)
    sc.setJobDescription(s"$name $stage")
  }
}

object StagedRun {

  /** Called at every stage boundary of a run on this thread with the
    * run's name and the stage about to start, or [[End]] once the run
    * returned. A no-op; only specs set it, to kill runs at boundaries. */
  private[graft] val onBoundary: ThreadLocal[(String, String) => Unit] =
    ThreadLocal.withInitial(() => (_, _) => ())

  private val End = "end"

  /** Run `body` as `<pipeline>[<id>]`. */
  def apply[T](spark: SparkSession, pipeline: String, id: String)(body: StagedRun => T): T = {
    val sc = spark.sparkContext
    val callerDescription = sc.getLocalProperty("spark.job.description")
    val run = new StagedRun(sc, s"$pipeline[$id]")
    try {
      val out = body(run)
      onBoundary.get()(run.name, End)
      out
    } finally sc.setJobDescription(callerDescription)
  }

  /** Order-insensitive input fingerprint, 0 over no rows: the xor of the
    * row hashes, which (unlike a sum) cannot overflow under ANSI mode. */
  def fingerprint(cols: Column*): Column =
    coalesce(bit_xor(xxhash64(cols: _*)), lit(0L))

  private val BatchIdPattern = "[A-Za-z][A-Za-z0-9_.-]*"

  /** A batch id names a `batch_id=` partition directory. */
  def requireBatchId(batchId: String, reserved: String*): Unit =
    require(batchId.matches(BatchIdPattern) && !reserved.contains(batchId),
      s"batchId must match $BatchIdPattern" + reserved.map(r => s" and not '$r'").mkString +
        s" (got '$batchId'): it becomes a partition directory name, where " +
        "numeric-looking values are type-inferred on read and special " +
        "characters are escaped — both break exact resume matching")

  /** The commit markers in `dir` by `batch_id`, from one driver collect
    * under the declared `schema`; empty when there are none. */
  def markers(spark: SparkSession, dir: String, schema: StructType): Map[String, Row] =
    ParquetState.readIfAny(spark, dir, schema).fold(Map.empty[String, Row])(
      _.collect().map(r => r.getAs[String]("batch_id") -> r).toMap)

  /** Append one commit marker, `values` in `schema`'s column order: a
    * batch's last write. */
  def appendMarker(spark: SparkSession, dir: String, schema: StructType, values: Any*): Unit =
    spark.createDataFrame(java.util.Arrays.asList(Row(values: _*)), schema)
      .write.mode(SaveMode.Append).parquet(dir)

  /** Whether `batchId` is committed, given its marker's recorded (input
    * hash, row count): a re-run of the same input is then a no-op, and a
    * different input rejects. */
  def isCommitted(batchId: String, dir: String, recorded: Option[(Long, Long)],
      inputHash: Long, rows: Long): Boolean = recorded.exists { case (h, n) =>
    require(h == inputHash && n == rows,
      s"batch '$batchId' is already committed in $dir with a DIFFERENT " +
        s"input (hash/count $h/$n vs $inputHash/$rows) — batch ids must " +
        "be stable per input shard")
    true
  }
}
