package graft.util

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

/** Shared filesystem guard for resumable parquet state directories
  * (BuildSketches checkpoints, IncrementalDedup stores, the IVF index's
  * `meta/` and `codebook/`): every graft-typed store is read under a
  * declared schema through [[read]] or [[readIfAny]]. */
object ParquetState {

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    FileSystem.get(new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private def visible(st: FileStatus): Boolean = {
    val n = st.getPath.getName
    !n.startsWith("_") && !n.startsWith(".")
  }

  /** The VISIBLE entries directly under a state directory (none when it
    * does not exist): a killed first append leaves `_temporary/` and a
    * committed empty append a lone `_SUCCESS` — counting those as data
    * would send a resume into a parquet read with zero data files
    * (UNABLE_TO_INFER_SCHEMA) instead of a fresh start. */
  def visibleEntries(spark: SparkSession, dir: String): Seq[FileStatus] = {
    val fs = fsOf(spark, dir)
    val path = new Path(dir)
    if (!fs.exists(path)) Nil
    else fs.listStatus(path).toSeq.filter(visible)
  }

  /** Delete the `batch_id=<batchId>` partition of the store at `dir`:
    * what an uncommitted attempt at that batch left. */
  def deletePartition(spark: SparkSession, dir: String, batchId: String): Unit =
    fsOf(spark, dir).delete(new Path(s"$dir/batch_id=$batchId"), true)

  /** [[read]] a state table under its declared schema only if the
    * directory holds visible data entries ([[visibleEntries]]). */
  def readIfAny(spark: SparkSession, dir: String, schema: StructType): Option[DataFrame] =
    Option.when(visibleEntries(spark, dir).nonEmpty)(read(spark, dir, schema))

  /** [[readIfAny]], or an empty frame of `schema`. */
  def readOrEmpty(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    readIfAny(spark, dir, schema).getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** Read a state table under its DECLARED schema: no schema-inference
    * job. A declared schema alone reads a column the files lack as null
    * without complaint, so an older or foreign store is checked first
    * against one footer, read on the driver with no Spark job: the
    * oldest visible data file, i.e. the schema the store was created
    * with (later appends by the current writer carry every column). A
    * column that exists only as `name=value` partition directories
    * counts as present. Throws IllegalArgumentException naming the
    * missing columns and the directory; the directory must hold data. */
  def read(spark: SparkSession, dir: String, schema: StructType): DataFrame = {
    val fs = fsOf(spark, dir)
    def oldest(dirPath: Path): Option[FileStatus] =
      fs.listStatus(dirPath).toSeq.filter(visible)
        .sortBy(e => (e.getModificationTime, e.getPath.getName)).headOption
    // descend through partition directories to the first data file
    @annotation.tailrec
    def firstFile(dirPath: Path, partitionCols: Set[String]): (Option[FileStatus], Set[String]) =
      oldest(dirPath) match {
        case Some(d) if d.isDirectory =>
          firstFile(d.getPath, partitionCols + d.getPath.getName.takeWhile(_ != '='))
        case leaf => (leaf, partitionCols)
      }
    val (leaf, partitionCols) = firstFile(new Path(dir), Set.empty)
    val file = leaf.getOrElse(throw new IllegalArgumentException(
      s"parquet store at $dir holds no data file to read"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val present = try reader.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    finally reader.close()
    val missing = schema.fieldNames.filterNot(n => present(n) || partitionCols(n))
    require(missing.isEmpty,
      s"parquet store at $dir lacks declared column(s) ${missing.mkString(", ")} " +
      s"(footer of ${file.getPath.getName}) — it was written by another " +
      "version or another writer; rebuild it from a fresh dir")
    spark.read.schema(schema).parquet(dir)
  }

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
