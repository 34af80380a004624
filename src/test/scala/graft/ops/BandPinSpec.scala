package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the minhash band buckets: `IncrementalDedup` persists them in
  * its `buckets/` store, so a refactor of the banding must reproduce
  * every (id, band, bucket) triple bit for bit, or a resumed store would
  * stop matching the deltas banded after it. The pin is the SHA-256 of
  * the sorted triples over fixed signatures (negative, zero and extreme
  * values, and signatures shared by several ids). */
class BandPinSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-bandpin-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** 40 ids with 64-hash signatures; ids 30..39 repeat the signatures
    * of ids 0..9, so their buckets must collide. */
  private def sigs(n: Int) = {
    def mix(x: Long): Long = { val y = x * 0x9E3779B97F4A7C15L; y ^ (y >>> 29) }
    val base = (0 until 30).map { i =>
      i.toLong -> (0 until n).map(j => mix(i * 131L + j)).toArray
    } :+ (30L -> Array.tabulate(n)(j => Seq(Long.MinValue, Long.MaxValue, 0L, -1L)(j % 4)))
    base ++ (31 until 40).map(i => i.toLong -> base(i - 31)._2)
  }

  private def pinOf(bands: Int, rowsPerBand: Int): String = {
    val s = spark
    import s.implicits._
    val df = sigs(bands * rowsPerBand).map { case (id, sig) => (id, sig.toSeq) }
      .toDF("id", "sig")
    val banded = DedupOps.bandSignatures(df, bands, rowsPerBand)
    assert(banded.schema == StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))), banded.schema.treeString)
    val rows = banded.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(rows.length == 40 * bands)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(rows.map { case (i, b, k) => s"$i,$b,$k" }.mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    md.digest().map("%02x".format(_)).mkString
  }

  test("minhash band buckets are pinned for the persisted layouts") {
    val pins = Seq(
      (16, 4) -> "14fef3a0325bc98e89bf4acdb0befd2738a66caf72213b53ed0123387fef335c",
      (8, 4) -> "92a892339406a6099b406c520f89dadf273a21a1c79e1e0cf39fdc296314c26c",
      (5, 3) -> "7d60153cfb21f3643c36fa8f326dbd7e612398c1e54014add1dfe141768cf124",
      (1, 1) -> "bb9b42de401265f40adc54b909d49b31fb4cfc8283f7c1327da715d3cdd4501b")
    assert(pins.map { case ((b, r), _) => (b, r) -> pinOf(b, r) } == pins)
  }
}
