package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Order-insensitive answer hash with the gate's normalization
  * (`tools/verify_local.py`): columns sorted by name, every number
  * rounded to 9 decimals so integer and floating encodings of one value
  * agree, rows sorted. */
object RowHash {
  def norm(v: Any): String = v match {
    case null => "~"
    case b: Boolean => b.toString
    case n: java.math.BigDecimal => num(BigDecimal(n))
    case n: BigDecimal => num(n)
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else num(BigDecimal(d))
    case f: Float => norm(f.toDouble)
    case n: Number => n.longValue.toString
    case a: Array[Byte] => a.map(b => f"${b & 0xff}%02x").mkString("0x", "", "")
    case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(norm).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => norm(k) + ":" + norm(x) }.sorted.mkString("{", ",", "}")
    case other => other.toString
  }
  private def num(b: BigDecimal): String =
    b.setScale(9, BigDecimal.RoundingMode.HALF_UP).bigDecimal.stripTrailingZeros.toPlainString

  def of(rows: Array[Row], columns: Array[String]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val lines = rows.map(r => order.map(i => norm(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Every row has TRUE in each of `cols` present in the answer. */
  def allTrue(rows: Array[Row], columns: Array[String], cols: Set[String]): Boolean =
    columns.zipWithIndex.filter(c => cols(c._1)).forall { case (_, i) =>
      rows.forall(r => !r.isNullAt(i) && r.get(i) == true)
    }
}

/** Exact answers computed with plain Spark SQL, independent of graft. */
object SketchOracles {
  /** All document pairs whose word-k-shingle sets have Jaccard >= threshold,
    * as (id_a, id_b, inter, uni) with id_a < id_b — the gate oracle's
    * definition, computed through a shingle inverted index. */
  def exactShinglePairs(docs: DataFrame, k: Int, threshold: Double): DataFrame = {
    val words = split(trim(col("text")), "\\s+")
    val grams = docs.select(col("doc_id"), words.as("w"))
      .where(size(col("w")) >= k)
      .select(col("doc_id"), array_distinct(transform(
        sequence(lit(1), size(col("w")) - (k - 1)),
        i => array_join(slice(col("w"), i, lit(k)), " "))).as("g"))
    val sizes = grams.select(col("doc_id"), size(col("g")).as("n"))
    val posting = grams.select(col("doc_id"), explode(col("g")).as("gram"))
    val a = posting.select(col("doc_id").as("id_a"), col("gram"))
    val b = posting.select(col("doc_id").as("id_b"), col("gram"))
    val thrPpm = math.round(threshold * 1000000L)
    a.join(b, "gram").where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("id_a"), col("n").as("na")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("n").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("na") + col("nb") - col("inter")).as("uni"))
      .where(col("inter") * 1000000L >= lit(thrPpm) * col("uni"))
  }
}
