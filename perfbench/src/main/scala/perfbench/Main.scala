package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload several times, measure it for a
  * fixed time and write the raw record (op latencies, rounds, spans,
  * Spark counters) as JSON. `perfbench/run.py` builds this, runs it and
  * turns the record into metrics.
  *
  *   Main --workload W --seed N --seconds T --trace 0|1 --work DIR --out FILE
  *
  * With --trace 1 the measured time is split: the first half untraced,
  * the second half traced (spans plus listeners), then one traced round
  * of the workload's layer probe ([[Probes]]) and the kernel, buffer and
  * probe-expression measurements. */
object Main {
  val SetupReps = 3
  /** Quotient bits for kernel measurements: the shipped build Config's. */
  val Q = graft.jobs.BuildSketches.Config().quotientBits
  /** Traced runs of these workloads also run one traced round of other
    * user paths, so their layers (`entry`; `ops`, `util`, `streaming`) are
    * measured too. A probe round follows set-up and expected answers with
    * no warm-up, so its figures include first-run costs. */
  val Probes = Map("corpus_build" -> Seq("sketch_queries"),
    "corpus_build_hll" -> Seq("incremental_dedup", "stream_ingest"))

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - tMain) / 1e9}%.2f s: $what")
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    require(Workload.Names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work")).getAbsoluteFile
    val cores = Runtime.getRuntime.availableProcessors()
    val trace = new Trace(s"$workload-$seed-${System.currentTimeMillis()}")

    def session(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.GraftFunctions.registerAll(s)
      s
    }

    // --- set-up, repeated: session start and input generation. The last
    // repetition's session and inputs are the ones measured, after the
    // expected answers and an untimed warm-up.
    val setups = ArrayBuffer[Took]()
    var ctx: Ctx = null
    var w: Workload = null
    for (rep <- 0 until SetupReps) {
      val dir = s"$work/data-$rep"
      val m = Mark()
      if (ctx != null) ctx.spark.stop()
      ctx = new Ctx(session(), seed, trace, cores)
      w = Workload(workload, ctx)
      w.generate(dir)
      setups += m.took
      phase(s"set-up $rep done")
      if (rep > 0) Workload.rm(s"$work/data-${rep - 1}")
    }
    val tExpect = System.nanoTime()
    w.expect()
    val expectS = (System.nanoTime() - tExpect) / 1e9
    phase("expected answers done")
    val mWarm = Mark()
    w.warmup()
    val warm = mWarm.took
    phase("warm-up done")
    val spark = ctx.spark

    def measure(budgetS: Double, from: Int): Seq[Round] = {
      val t0 = System.nanoTime()
      val rounds = ArrayBuffer[Round]()
      while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < budgetS)
        rounds += w.round(from + rounds.size)
      rounds.toSeq
    }
    def tookJson(t: Took) = Map("wall_s" -> t.wallS, "steal_frac" -> t.stealFrac)
    def roundJson(r: Round) = tookJson(r.took) ++ Map("units" -> r.units,
      "stored_bytes" -> r.storedBytes,
      "ops" -> r.ops.map(o => Map("s" -> o.latencyS, "net_s" -> o.netS, "ok" -> o.ok)),
      "layer" -> r.layer)

    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> (if (traced) 1 else 0),
      "cores" -> cores, "unit" -> w.unitName, "setup" -> setups.map(tookJson).toSeq, "warmup" -> tookJson(warm),
      "expect_s" -> expectS)
    if (!traced) {
      record("rounds") = measure(seconds, 0).map(roundJson)
    } else {
      val plain = measure(seconds / 2, 0)
      record("rounds") = plain.map(roundJson)
      trace.attach(spark)
      val tracedRounds = measure(seconds / 2, plain.size)
      trace.detach(spark)
      record("traced_rounds") = tracedRounds.map(roundJson)
      record("probes") = Probes.getOrElse(workload, Nil).map { p =>
        val pw = Workload(p, ctx)
        pw.generate(s"$work/probe-$p")
        pw.expect()
        trace.attach(spark)
        val r = pw.round(0)
        trace.detach(spark)
        Workload.rm(s"$work/probe-$p")
        phase(s"probe $p done")
        Map("workload" -> p, "round" -> roundJson(r))
      }
      record("trace") = trace.toJson
      val in = w.kernelInputs
      record("kernels") = Kernels.sketch(in, Q) ++ Kernels.agg(in, Q) ++
        Kernels.functions(spark, in, Q, cores)
    }
    phase("measured")
    record("inputs") = w.inputs
    record("families") = SketchQueries.Family
    val out = new File(opts("out"))
    java.nio.file.Files.write(out.toPath, Json.write(record).getBytes("UTF-8"))
    spark.stop()
    Workload.rm(s"$work/data-${SetupReps - 1}")
    phase("stopped")
  }
}
