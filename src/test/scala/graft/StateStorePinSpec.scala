package graft

import graft.jobs.{BuildSketches, TokenGen}
import graft.ops.{AnnOps, IncrementalDedup, TextOps}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Pins every persisted store of the three state pipelines: a fixed
  * multi-batch build of each, then SHA-256 over the sorted rows of each
  * store (all columns, partition columns included). A change to how a
  * pipeline fingerprints its input, stamps its parameters or writes its
  * commit markers moves a digest here. */
class StateStorePinSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-store-pin-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${render(k)}->${render(x)}" }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  /** SHA-256 (hex) over the sorted rendered rows of the store at `dir`,
    * columns in name order. */
  private def storeDigest(dir: String): String = {
    val df = spark.read.parquet(dir)
    val rows = df.select(df.columns.sorted.map(col).toIndexedSeq: _*).collect()
      .map(render).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map(x => f"$x%02x").mkString
  }

  private def assertDigests(root: String, expected: Seq[(String, String)]): Unit = {
    val got = expected.map { case (store, _) => store -> storeDigest(s"$root/$store") }
    assert(got == expected, got.map { case (s, d) => s""""$s" -> "$d"""" }.mkString(",\n"))
  }

  test("BuildSketches: a build plus a resume that appends the other sources") {
    val input = TokenGen.generate(spark, 800, vocab = 500)
    val cfg = BuildSketches.Config(kind = "hll", salts = 4, hllP = 8)
    val root = Files.createTempDirectory("graft_pin_ckpt").toString
    BuildSketches.run(spark, input.where(col("source") === TokenGen.Sources.head),
      s"$root/checkpoint", cfg).collect()
    BuildSketches.run(spark, input, s"$root/checkpoint", cfg).collect()
    assertDigests(root, Seq("checkpoint" ->
        "d59c7b3a361eb78b6879474e4c24ed68ac01a26b0cd9204cb69fd1e3fa1dbe35"))
  }

  test("IncrementalDedup: three batches") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val state = Files.createTempDirectory("graft_pin_dedup").toString
    (0 until 3).foreach { b =>
      IncrementalDedup.run(spark, docs.where(pmod(col("doc_id"), lit(3)) === b),
        TextOps.tokens(col("text")), col("doc_id"), state, s"b$b")
    }
    assertDigests(state, Seq(
      "signatures" ->
        "a4ade1413fe4d4f1340f76e4cb0bc51284f5b3ca8e536d562f0b600eb4646ff4",
      "buckets" ->
        "d798463279ee5acef7de12c9f604aae2c876b3ff24d8528915db5cf3aceec4a6",
      "pairs" ->
        "60e8573b903ddffc76a8eba5866ab2a36c577e4eac98e4c9c1e0c4ef362e6232",
      "batches" ->
        "7e1b49f89b690fd633eec490985533aaf55f5b0939d7e02491bd0aedb20690ec"))
  }

  test("IVF index: a base build plus two appends") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def part(b: Int): DataFrame = emb.where(pmod(col("vec_id"), lit(3)) === b)
    val idx = Files.createTempDirectory("graft_pin_ivf").toString
    AnnOps.buildIvfIndex(spark, part(0), col("vec_id"), col("embedding"), idx,
      nCells = 8, kmeansIters = 2)
    AnnOps.appendIvfBatch(spark, part(1), col("vec_id"), col("embedding"), idx, "d1")
    AnnOps.appendIvfBatch(spark, part(2), col("vec_id"), col("embedding"), idx, "d2")
    assertDigests(idx, Seq(
      "meta" ->
        "ec2b1da9d9a8ddcc9f14042bcacfad6daf24b75b6f7c0fe577663e3076798008",
      "codebook" ->
        "7a67aac3243e518ed6d98e35e85f3e6a836085d24dec5b45578843f2d6482228",
      "assignments" ->
        "ab66d0711c51d29512f7523335a45cb68a3ce5ec51d8d68caea1351e8285225b"))
  }
}
