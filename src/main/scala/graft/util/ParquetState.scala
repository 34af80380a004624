package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared filesystem guard for resumable parquet state directories
  * (BuildSketches checkpoints, IncrementalDedup stores). */
object ParquetState {

  /** The VISIBLE entries directly under a state directory (none when it
    * does not exist): a killed first append leaves `_temporary/` and a
    * committed empty append a lone `_SUCCESS` — counting those as data
    * would send a resume into a parquet read with zero data files
    * (UNABLE_TO_INFER_SCHEMA) instead of a fresh start. */
  def visibleEntries(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val fs = FileSystem.get(new java.net.URI(dir),
      spark.sparkContext.hadoopConfiguration)
    val path = new Path(dir)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Read a state table only if the directory holds visible data
    * entries ([[visibleEntries]]). */
  def readIfAny(spark: SparkSession, dir: String): Option[DataFrame] =
    Option.when(visibleEntries(spark, dir).nonEmpty)(spark.read.parquet(dir))

  /** Write `df` as ONE plain parquet FILE at `dest` (local paths) —
    * the driver-fixture layout that single-file readers (streaming
    * pathGlobFilter sources, DuckDB single-file scans) assume. Spark
    * can only emit part-file directories, so this writes a one-part
    * temp dir next to `dest` and moves the part file into place.
    * Single-sourced here because the gate's engine-fed-batch staging,
    * the streaming specs, and SfScaleGen all need the identical
    * contract. */
  def writeSingleFile(df: DataFrame, dest: String): Unit = {
    val destFile = new java.io.File(dest)
    val tmp = s"${dest}_tmp_part"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val tmpDir = new java.io.File(tmp)
    val part = tmpDir.listFiles().find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file written for $dest"))
    if (destFile.exists()) deleteRecursively(destFile)
    val parent = destFile.getParentFile
    if (parent != null) parent.mkdirs()
    require(part.renameTo(destFile), s"rename failed for $dest")
    deleteRecursively(tmpDir)
  }

  /** Remove a local throwaway state directory (temp dirs created by
    * gate queries / specs) — callers materialize results FIRST. */
  def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete()
  }
}
