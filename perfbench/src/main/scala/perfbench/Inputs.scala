package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded generators for the tables the workloads read. Every column is
  * a pure function of (row id, seed) through `xxhash64`, so the same seed
  * gives byte-identical inputs and no driver-side RNG is involved. The
  * schemas and value ranges follow the gate fixtures (FIXTURES.md F3):
  * a TPC-H-ish `lineitem`/`orders`/`supplier` star, an `events` stream
  * table over 30 days and word-vocabulary `documents` with planted
  * near-duplicates. Tables are written as single plain files named
  * `<table>.parquet`, the layout `SparkEntry.queries` expects. */
object Inputs {
  final case class Scale(lineitem: Long, orders: Long, suppliers: Long,
      parts: Long, events: Long, users: Long, documents: Long)

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(seed * 1000003L + salt)): _*)
  private def pick(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(h(seed, salt, id), lit(n))
  private def unit(seed: Long, salt: Int): Column =
    shiftrightunsigned(h(seed, salt, col("id")), 11).cast("double") / lit(9007199254740992.0)
  private def oneOf(values: Seq[String], idx: Column): Column =
    element_at(array(values.map(lit(_)): _*), (idx + 1).cast("int"))

  private val MicrosPerDay = 86400L * 1000000L
  private val Day1995Jan2 = java.time.LocalDate.of(1995, 1, 2).toEpochDay
  /** Midnight (UTC) of `epochDay + offset` as a timestamp. */
  private def day(epochDay: Long, offset: Column): Column =
    timestamp_micros(lit(epochDay * MicrosPerDay) + offset * MicrosPerDay)

  def lineitem(spark: SparkSession, s: Scale, seed: Long): DataFrame =
    spark.range(s.lineitem).select(
      pick(seed, 1, s.orders).as("l_orderkey"),
      pick(seed, 2, s.parts).as("l_partkey"),
      pick(seed, 3, s.suppliers).as("l_suppkey"),
      (pick(seed, 4, 7) + 1).cast("int").as("l_linenumber"),
      (pick(seed, 5, 50) + 1).cast("double").as("l_quantity"),
      round(lit(900.0) + unit(seed, 6) * lit(104100.0), 2).as("l_extendedprice"),
      (pick(seed, 7, 11).cast("double") / 100).as("l_discount"),
      (pick(seed, 8, 9).cast("double") / 100).as("l_tax"),
      oneOf(Seq("A", "N", "R"), pick(seed, 9, 3)).as("l_returnflag"),
      oneOf(Seq("F", "O"), pick(seed, 10, 2)).as("l_linestatus"),
      day(Day1995Jan2, pick(seed, 11, 2500)).as("l_shipdate"))

  def orders(spark: SparkSession, s: Scale, seed: Long): DataFrame =
    spark.range(s.orders).select(
      col("id").as("o_orderkey"),
      pick(seed, 21, s.orders / 10).as("o_custkey"),
      oneOf(Seq("F", "O", "P"), pick(seed, 22, 3)).as("o_orderstatus"),
      round(lit(1000.0) + unit(seed, 23) * lit(499000.0), 2).as("o_totalprice"),
      day(Day1995Jan2 - 1, pick(seed, 24, 2404)).as("o_orderdate"),
      oneOf(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"),
        pick(seed, 25, 5)).as("o_orderpriority"))

  def supplier(spark: SparkSession, s: Scale, seed: Long): DataFrame =
    spark.range(s.suppliers).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(seed, 31, 25).cast("int").as("s_nationkey"),
      round(lit(-999.0) + unit(seed, 32) * lit(10998.0), 2).as("s_acctbal"))

  /** Events are time-ordered by id: event i falls in the i-th slice of
    * January 2024 plus a seeded jitter inside its slice. */
  def events(spark: SparkSession, s: Scale, seed: Long): DataFrame = {
    val spanUs = 30L * MicrosPerDay
    val stepUs = spanUs / s.events
    spark.range(s.events).select(
      col("id").as("event_id"),
      timestamp_micros(lit(java.time.LocalDate.of(2024, 1, 1).toEpochDay * MicrosPerDay) +
          col("id") * stepUs + pick(seed, 41, stepUs))
        .as("ts"),
      pick(seed, 42, s.users).as("user_id"),
      oneOf(Seq("click", "view", "purchase", "signup", "error"), pick(seed, 43, 5))
        .as("event_type"),
      round(lit(0.01) + unit(seed, 44) * lit(490.0), 2).as("value"),
      format_string("{\"k\": %d}", pick(seed, 45, 100)).as("props"))
  }

  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** One in 20 documents (after the first 50) copies the text of an
    * earlier document and appends one word: a planted near-duplicate
    * whose word-3-shingle Jaccard with its source stays above 0.9. */
  def documents(spark: SparkSession, s: Scale, seed: Long): DataFrame = {
    val isDup = col("id") >= 50 && pick(seed, 51, 20) === 0
    val textId = when(isDup, pmod(h(seed, 52, col("id")), col("id"))).otherwise(col("id"))
    val nWords = (lit(12) + pmod(h(seed, 53, textId), lit(70))).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      oneOf(Vocab, pmod(h(seed, 54, textId, i), lit(Vocab.size.toLong))))
    val text = concat(array_join(words, " "), when(isDup, lit(" dup")).otherwise(lit("")))
    spark.range(s.documents).select(
      col("id").as("doc_id"),
      text.as("text"),
      oneOf(Seq("en", "en", "de", "es", "fr", "zh"), pick(seed, 55, 6)).as("lang"),
      concat(lit("src"), pick(seed, 56, 20).cast("string")).as("source"),
      length(text).cast("long").as("n_chars"))
  }

  /** Write each named table as `<dir>/<name>.parquet`. */
  def writeTables(dir: String, tables: Seq[(String, DataFrame)]): Unit =
    tables.foreach { case (name, df) =>
      graft.util.ParquetState.writeSingleFile(df, s"$dir/$name.parquet")
    }
}
