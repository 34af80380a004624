package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import graft.{api, SparkEntry}
import graft.jobs.{BuildSketches, TokenGen}
import graft.ops.{IncrementalDedup, TextOps}
import graft.sketch.{Cqf, HllSketch}
import graft.streaming.StreamingSketch
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, Trigger}

/** One timed call into graft: wall latency, the same net of the stolen
  * share, and whether its output was right. */
final case class Op(latencyS: Double, netS: Double, ok: Boolean)

/** One unit of repeated work (a build, a query pass, a 3-batch ingest, a
  * pair of streams): its ops, its timing and the work it moved. */
final case class Round(took: Took, units: Double, ops: Seq[Op],
    storedBytes: Long, layer: Map[String, Any] = Map.empty)

/** Wall seconds and the stolen share over an interval: of the CPU time
  * the host's vCPUs wanted (busy + steal), the share the hypervisor ran
  * someone else instead. On a shared VM that share swings between 0 and
  * 40% within minutes and stretches wall times with it. */
final case class Took(wallS: Double, stealFrac: Double) {
  /** Wall time net of the stolen share. */
  def netS: Double = wallS * (1 - stealFrac)
}

/** A point on the wall clock and the host's /proc/stat counters (busy
  * and steal jiffies; zero where absent). */
final case class Mark(wallNs: Long, busy: Long, steal: Long) {
  def took: Took = {
    val now = Mark()
    val (db, ds) = (now.busy - busy, now.steal - steal)
    Took((now.wallNs - wallNs) / 1e9, if (db + ds > 0) ds.toDouble / (db + ds) else 0.0)
  }
}

object Mark {
  def apply(): Mark = {
    // cpu  user nice system idle iowait irq softirq steal ...
    val (busy, steal) =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        val f = try src.getLines().next().split("\\s+").drop(1).map(_.toLong) finally src.close()
        (f(0) + f(1) + f(2) + f(5) + f(6), f(7))
      } catch { case _: Exception => (0L, 0L) }
    Mark(System.nanoTime(), busy, steal)
  }
}

/** Keys and values drawn from a workload's own inputs at set-up; the
  * kernel, buffer and probe measurements of the traced run use them. */
final case class KernelInputs(keys: Array[Long], values: Array[Double],
    packedRows: Array[Array[Byte]])

final class Ctx(val spark: SparkSession, val seed: Long, val trace: Trace,
    val cores: Int)

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def span[T](layer: String, name: String)(f: => T): T =
    ctx.trace.span(layer, name)(f)
  /** What one round's `units` count, for the record. */
  def unitName: String
  /** Generate the inputs under `dir`: the set-up the program needs. */
  def generate(dir: String): Unit
  /** Untimed warm-up after set-up, so that every code path a round takes
    * has run at least once before timing. */
  def warmup(): Unit
  /** The benchmark's own expected answers and kernel inputs, computed
    * once after set-up, before the warm-up (not part of `setup_s`). */
  def expect(): Unit
  def round(i: Int): Round
  def kernelInputs: KernelInputs
  /** Facts about the inputs, stamped into the record. */
  def inputs: Map[String, Any]
}

object Workload {
  val Names: Seq[String] = Seq("corpus_build", "corpus_build_hll",
    "sketch_queries", "incremental_dedup", "stream_ingest")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "corpus_build" => new CorpusBuild(ctx, "cqf")
    case "corpus_build_hll" => new CorpusBuild(ctx, "hll")
    case "sketch_queries" => new SketchQueries(ctx)
    case "incremental_dedup" => new IncrementalDedupW(ctx)
    case "stream_ingest" => new StreamIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def dirBytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
  def dirFiles(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).map(_.map(dirFiles).sum).getOrElse(0L)
  def rm(path: String): Unit =
    graft.util.ParquetState.deleteRecursively(new File(path))

  /** Pack ints little-endian into rows of `width`, the `packed` layout. */
  def pack(keys: Array[Long], width: Int): Array[Array[Byte]] =
    keys.grouped(width).map { g =>
      val bb = java.nio.ByteBuffer.allocate(4 * g.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      g.foreach(k => bb.putInt(k.toInt))
      bb.array()
    }.toArray
}

import Workload._

/** Write path at volume: `BuildSketches.run` (shipped Config, sketch
  * `kind` cqf or hll) over a seeded TokenGen corpus into a fresh
  * checkpoint dir, then a collect of the per-source sketches. */
final class CorpusBuild(ctx: Ctx, kind: String) extends Workload(ctx) {
  val cfg = BuildSketches.Config(kind = kind)
  val nDocs = 12000L
  private var tokensDir = ""
  private var tokensIn = 0L
  private var distinctBySource = Map.empty[String, Long]
  private var sample: KernelInputs = _

  def unitName = "tokens"
  def inputs = Map("docs" -> nDocs, "tokens" -> tokensIn,
    "sources" -> distinctBySource.size)

  def generate(dir: String): Unit = {
    tokensDir = s"$dir/tokens"
    TokenGen.writeRangeLayout(TokenGen.generate(spark, nDocs, seed = ctx.seed),
      tokensDir, partitions = 2 * ctx.cores)
  }

  def expect(): Unit = {
    val t = spark.read.parquet(tokensDir)
    tokensIn = t.agg(sum(col("n_tok"))).head().getLong(0)
    distinctBySource = t.select(col("source"), explode(col("tokens")).as("tok"))
      .groupBy(col("source")).agg(countDistinct(col("tok")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // one shard's tokens: the first 1,500 documents
    val shard = t.where(col("doc_id") < f"doc_${1500}%012d")
      .select(col("tokens"), col("packed")).collect()
    val keys = shard.flatMap(_.getSeq[Int](0).map(_.toLong))
    sample = KernelInputs(keys, keys.map(_.toDouble),
      shard.map(_.getAs[Array[Byte]](1)))
  }

  private def build(ckpt: String): (Took, Array[Row]) = {
    val m = Mark()
    val rows = span("jobs", "op") {
      val df = span("jobs", "run") {
        BuildSketches.run(spark, spark.read.parquet(tokensDir), ckpt, cfg)
      }
      span("jobs", "merge")(df.collect())
    }
    (m.took, rows)
  }

  def warmup(): Unit = (1 to 5).foreach { i =>
    val ckpt = s"$tokensDir-warm-$i"
    build(ckpt)
    rm(ckpt)
  }

  def round(i: Int): Round = {
    val ckpt = s"$tokensDir-ckpt-$i"
    val (took, rows) = build(ckpt)
    val ok = rows.map(_.getAs[Long]("n_tokens")).sum == tokensIn &&
      rows.length == distinctBySource.size && rows.forall(sourceOk)
    val stored = dirBytes(new File(ckpt))
    rm(ckpt)
    Round(took, tokensIn.toDouble, Seq(Op(took.wallS, took.netS, ok)), stored)
  }

  /** cqf is exact: its total and distinct equal the exact answers. hll
    * must sit within 4 standard errors (1.04 / sqrt(2^p)) of the exact
    * distinct count. */
  private def sourceOk(r: Row): Boolean = {
    val bytes = r.getAs[Array[Byte]]("sketch_bytes")
    val exact = distinctBySource.getOrElse(r.getAs[String]("source"), -1L)
    kind match {
      case "cqf" =>
        val (d, t) = Cqf.deserialize(bytes).distinctAndTotal
        d == exact && t == r.getAs[Long]("n_tokens")
      case "hll" =>
        val est = HllSketch.deserialize(bytes).estimate
        math.abs(est - exact) <= 4 * 1.04 / math.sqrt(1 << cfg.hllP) * exact
    }
  }

  def kernelInputs: KernelInputs = sample
}

/** The 35 sketch-family gate queries of `SparkEntry.queries`, each run
  * with `.collect()`, in a seeded order over seeded sf0.01-sized tables. */
final class SketchQueries(ctx: Ctx) extends Workload(ctx) {
  val scale = Inputs.Scale(lineitem = 60000, orders = 15000, suppliers = 100,
    parts = 2000, events = 10000, users = 150, documents = 500)
  private var dir = ""
  private var order: Seq[String] = Nil
  private var golden = Map.empty[String, String]
  private var checkMode = Map.empty[String, String]
  private var sample: KernelInputs = _

  def unitName = "queries"
  def inputs = Map("lineitem_rows" -> scale.lineitem, "events_rows" -> scale.events,
    "documents" -> scale.documents, "queries" -> SketchQueries.All.size,
    "check_modes" -> checkMode.values.groupBy(identity).map { case (k, v) => k -> v.size })

  def generate(d: String): Unit = {
    dir = d
    val s = ctx.seed
    Inputs.writeTables(dir, Seq(
      "lineitem" -> Inputs.lineitem(spark, scale, s),
      "orders" -> Inputs.orders(spark, scale, s),
      "supplier" -> Inputs.supplier(spark, scale, s),
      "events" -> Inputs.events(spark, scale, s),
      "documents" -> Inputs.documents(spark, scale, s)))
    order = new scala.util.Random(ctx.seed).shuffle(SketchQueries.All.map(_._1))
  }

  def expect(): Unit = {
    // the gate's exact answers, replayed through plain Spark SQL where the
    // oracle text runs there; other queries are checked against their
    // first answer. Every query's in-query bound checks must hold.
    Seq("lineitem", "orders", "supplier", "events", "documents").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t)
    }
    val oracle = SketchQueries.All.map(_._1).flatMap { q =>
      SparkEntry.oracleSql.get(q).flatMap { sql =>
        try Some(q -> RowHash.of(spark.sql(sql).collect(), spark.sql(sql).columns))
        catch { case _: Exception => None }
      }
    }.toMap
    golden = oracle
    checkMode = SketchQueries.All.map(_._1)
      .map(q => q -> (if (oracle.contains(q)) "oracle" else "first_answer")).toMap
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_partkey"), col("l_orderkey"), col("l_extendedprice")).collect()
    val keys = li.map(_.getLong(0)) ++ li.map(_.getLong(1))
    sample = KernelInputs(keys, li.map(_.getDouble(2)), pack(keys, 128))
  }

  /** Run one query; true if its answer matches the golden. */
  private def query(q: String): Op = {
    val family = SketchQueries.Family(q)
    val m = Mark()
    val (rows, cols) = span("entry", family) {
      val df = span("entry", "build")(SketchQueries.Fn(q)(spark, dir))
      (span("entry", "collect")(df.collect()), df.columns)
    }
    val took = m.took
    val h = RowHash.of(rows, cols)
    val ok = RowHash.allTrue(rows, cols, SketchQueries.TrueColumns(q)) && (golden.get(q) match {
      case Some(g) => g == h
      case None => golden += q -> h; true
    })
    Op(took.wallS, took.netS, ok)
  }

  /** One whole pass: every query has planned and run once. */
  def warmup(): Unit = order.foreach(q => SketchQueries.Fn(q)(spark, dir).collect())

  def round(i: Int): Round = {
    val m = Mark()
    val ops = order.map(query)
    Round(m.took, ops.size.toDouble, ops, 0L,
      Map("query_s" -> order.zip(ops.map(_.latencyS)).toMap))
  }

  def kernelInputs: KernelInputs = sample
}

object SketchQueries {
  /** (query, family) — frozen; the list is also in BENCHMARK.md. */
  val All: Seq[(String, String)] =
    Seq("cqf_count_by_flag", "cqf_items_by_flag", "cqf_merge_two_stage",
      "cqf_setops", "cqf_intersect_by_bucket", "cqf_zip_flags",
      "ref_layout_roundtrip", "cqf_set_count_probe", "sketch_state_metrics",
      "cqf_string_probe", "cqf_multiplicity_hist", "cqf_distinct_users_by_event",
      "cqf_stats_by_flag", "cqf_udaf_distinct", "sketch_union_probes").map(_ -> "cqf") ++
    Seq("rollup_distinct_parts", "hll_distinct_by_source", "kmv_distinct_by_source",
      "kmv_estimate_bound", "kmv_jaccard_pairs").map(_ -> "distinct") ++
    Seq("cms_heavy_hitters", "ss_heavy_hitters", "corpus_top_bigrams",
      "ss_packed_parity", "ss_topk_guarantees", "cms_topk_estimates",
      "bloom_membership").map(_ -> "freq") ++
    Seq("kll_quantiles_by_flag", "td_quantiles_by_event_type", "table_profile")
      .map(_ -> "quantile") ++
    Seq("window_running_distinct", "window_quantile_running", "window_cms_running",
      "window_bloom_running", "window_top_events").map(_ -> "window")
  val Family: Map[String, String] = All.toMap
  /** Columns the gate oracle pins to a literal TRUE (in-query bound checks). */
  val TrueColumns: Map[String, Set[String]] = All.map { case (q, _) =>
    q -> SparkEntry.oracleSql.get(q).toSeq
      .flatMap("TRUE AS (\\w+)".r.findAllMatchIn(_).map(_.group(1))).toSet
  }.toMap
  def Fn(q: String): (SparkSession, String) => DataFrame = SparkEntry.queries(q)
}

/** `IncrementalDedup.run` over seeded documents split into 3 batches by a
  * seeded hash, into a fresh state dir, then `allPairs`. */
final class IncrementalDedupW(ctx: Ctx) extends Workload(ctx) {
  val nDocs = 3000L
  val cfg = IncrementalDedup.Config(k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
  private var dir = ""
  private var expected = Set.empty[(Long, Long, Long, Long)]
  private var sample: KernelInputs = _

  def unitName = "docs"
  def inputs = Map("docs" -> nDocs, "batches" -> 3, "expected_pairs" -> expected.size)

  private def batch(b: Int) = spark.read.parquet(s"$dir/batch_$b.parquet")
  private def pairSet(rows: Array[Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  def generate(d: String): Unit = {
    dir = d
    val docs = Inputs.documents(spark, Inputs.Scale(0, 0, 0, 0, 0, 0, nDocs), ctx.seed)
    Inputs.writeTables(dir, Seq("documents" -> docs) ++ (0 until 3).map(b =>
      s"batch_$b" -> docs.where(pmod(xxhash64(col("doc_id"), lit(ctx.seed)), lit(3)) === b)))
  }

  def expect(): Unit = {
    expected = pairSet(SketchOracles.exactShinglePairs(
      spark.read.parquet(s"$dir/documents.parquet"), 3, 0.8).collect())
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).select(xxhash64(col("w")))
      .collect().map(_.getLong(0))
    sample = KernelInputs(words, words.map(w => (w & 0xffff).toDouble), pack(words, 128))
  }

  private def ingest(state: String, b: Int): Took = {
    val m = Mark()
    span("ops", "batch") {
      IncrementalDedup.run(spark, batch(b), TextOps.tokens(col("text")),
        col("doc_id"), state, s"batch_$b", cfg)
    }
    m.took
  }

  /** One whole round: later batches ingest against existing state. */
  def warmup(): Unit = round(-1)

  def round(i: Int): Round = {
    val state = s"$dir/state-$i"
    val m = Mark()
    val lats = ArrayBuffer[Took]()
    val stateMb = ArrayBuffer[Double]()
    val stateFiles = ArrayBuffer[Long]()
    (0 until 3).foreach { b =>
      lats += ingest(state, b)
      stateMb += dirBytes(new File(state)) / 1e6
      stateFiles += dirFiles(new File(state))
    }
    val pairs = span("ops", "all_pairs") {
      IncrementalDedup.allPairs(spark, state).collect()
    }
    val took = m.took
    val ok = pairSet(pairs) == expected
    val stored = dirBytes(new File(state))
    rm(state)
    Round(took, nDocs.toDouble, lats.map(t => Op(t.wallS, t.netS, ok)).toSeq, stored,
      Map("batch_s" -> lats.map(_.wallS).toSeq, "state_mb" -> stateMb.toSeq,
        "state_files" -> stateFiles.toSeq, "pairs" -> pairs.length))
  }

  def kernelInputs: KernelInputs = sample
}

/** `StreamingSketch.windowedAgg` (cqf distinct users per day and event
  * type, 1 h watermark, append) and `cqfStateFn` under mapGroupsWithState,
  * each over the same seeded event-time-ordered files with
  * maxFilesPerTrigger=1 and AvailableNow. */
final class StreamIngest(ctx: Ctx) extends Workload(ctx) {
  val scale = Inputs.Scale(0, 0, 0, 0, events = 24000, users = 1500, documents = 0)
  val nFiles = 6
  private var dir = ""
  private var schema: org.apache.spark.sql.types.StructType = _
  private var expectedWindows = Set.empty[(Long, String, Long)]
  private var expectedState = Map.empty[String, (Long, Long)]
  private var sample: KernelInputs = _

  def unitName = "rows"
  def inputs = Map("events" -> scale.events, "files" -> nFiles,
    "windows" -> expectedWindows.size)

  def generate(d: String): Unit = {
    dir = d
    val ev = Inputs.events(spark, scale, ctx.seed)
    Inputs.writeTables(dir, Seq("events" -> ev))
    val all = spark.read.parquet(s"$dir/events.parquet")
    schema = all.schema
    // seeded cut points split the time-ordered events into nFiles files;
    // file k gets an mtime k seconds after file k-1, so the file source
    // reads them in event-time order
    val rnd = new scala.util.Random(ctx.seed)
    val cuts = (0L +: (1 until nFiles).map(_ => 1L + rnd.nextInt(scale.events.toInt - 2).toLong)
      .distinct.sorted :+ scale.events).distinct
    val base = System.currentTimeMillis() - 3600000L
    cuts.sliding(2).zipWithIndex.foreach { case (Seq(lo, hi), k) =>
      val f = f"$dir/stream/part-$k%03d.parquet"
      graft.util.ParquetState.writeSingleFile(
        all.where(col("event_id") >= lo && col("event_id") < hi), f)
      new File(f).setLastModified(base + 1000L * k)
    }
  }

  def expect(): Unit = {
    val all = spark.read.parquet(s"$dir/events.parquet")
    // batch answers over the same events: append mode emits a window once
    // the final watermark (max event time - 1 h) passes its end
    val maxTs = all.agg(max(col("ts"))).head().getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 3600000L)
    expectedWindows = all.groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(countDistinct(col("user_id")))
      .where(col("window.end") <= lit(wm))
      .select(unix_micros(col("window.start")), col("event_type"), col("count(DISTINCT user_id)"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    expectedState = all.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")), count(lit(1))).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val u = all.select(col("user_id"), col("value")).collect()
    val keys = u.map(_.getLong(0))
    sample = KernelInputs(keys, u.map(_.getDouble(1)), pack(keys, 128))
  }

  private def source(path: String): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path)

  /** Run the two streams over `path`; returns their timing, progress
    * records, final outputs, stored bytes and start-up seconds. */
  private def streams(path: String, tag: String) = {
    val sess = spark
    import sess.implicits._
    val ck = s"$dir/ck-$tag"
    val startMs = ArrayBuffer[Long]()
    val m = Mark()
    val win = span("streaming", "windowed") {
      startMs += System.currentTimeMillis()
      val q = StreamingSketch.windowedAgg(source(path), col("ts"), "1 hour", "1 day",
          Seq(col("event_type")), api.cqf_agg(col("user_id"), 10, 64))
        .select(unix_micros(col("window.start")).as("start"), col("event_type"),
          api.cqf_distinct(col("sketch")).as("distinct_users"))
        .writeStream.format("memory").queryName(s"pb_win_$tag")
        .option("checkpointLocation", s"$ck/win").outputMode("append")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val st = span("streaming", "state") {
      startMs += System.currentTimeMillis()
      val q = source(path).select(col("event_type"), col("user_id"))
        .as[(String, Long)].map { case (k, u) => (k, Array(u)) }
        .groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout())(StreamingSketch.cqfStateFn(10))
        .toDF("event_type", "distinct_users", "n_events")
        .writeStream.format("memory").queryName(s"pb_state_$tag")
        .option("checkpointLocation", s"$ck/state").outputMode("update")
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q
    }
    val took = m.took
    val progress = (win.recentProgress ++ st.recentProgress).map(Trace.progressRecord)
    // start-up: from the start() call to the first trigger of each stream
    val startS = Seq(win, st).zip(startMs).flatMap { case (q, ms) =>
      q.recentProgress.headOption.map(p =>
        (java.time.Instant.parse(p.timestamp).toEpochMilli - ms) / 1e3)
    }
    val windows = spark.table(s"pb_win_$tag").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val state = spark.table(s"pb_state_$tag").collect()
      .groupBy(_.getString(0)).map { case (k, rs) =>
        val last = rs.maxBy(_.getLong(2)); k -> (last.getLong(1), last.getLong(2))
      }
    val stored = dirBytes(new File(ck))
    spark.catalog.dropTempView(s"pb_win_$tag")
    spark.catalog.dropTempView(s"pb_state_$tag")
    rm(ck)
    (took, progress, windows, state, stored, startS)
  }

  /** One whole round: both streams over every file. */
  def warmup(): Unit = streams(s"$dir/stream", "warm")

  def round(i: Int): Round = {
    val (took, progress, windows, state, stored, startS) = streams(s"$dir/stream", s"r$i")
    val ok = windows == expectedWindows && state == expectedState
    // a micro-batch's stolen share is its round's
    val ops = progress.map { p =>
      val t = p("trigger_ms").asInstanceOf[Long] / 1e3
      Op(t, t * (1 - took.stealFrac), ok)
    }
    Round(took, 2.0 * scale.events, ops.toSeq, stored,
      Map("progress" -> progress.toSeq, "start_s" -> startS))
  }

  def kernelInputs: KernelInputs = sample
}
