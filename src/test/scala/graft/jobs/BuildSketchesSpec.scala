package graft.jobs

import graft.GraftFunctions
import graft.api
import graft.sketch.Cqf
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** M3 checkpoint/resume/lineage tests (FIXTURES.md F4) plus TokenGen
  * determinism (the property the scaling evidence relies on). */
class BuildSketchesSpec extends AnyFunSuite with BeforeAndAfterAll {

  @transient lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-jobs-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  test("TokenGen is deterministic across partitioning") {
    val a = TokenGen.generate(spark, 500, vocab = 1000, numPartitions = 1)
      .orderBy("doc_id").collect()
    val b = TokenGen.generate(spark, 500, vocab = 1000, numPartitions = 7)
      .orderBy("doc_id").collect()
    assert(a.toSeq == b.toSeq)
    // skew: the head source holds roughly half the rows
    val bySource = a.groupBy(_.getString(3)).view.mapValues(_.length).toMap
    assert(bySource(TokenGen.Sources.head) > 200 && bySource(TokenGen.Sources.head) < 300)
  }

  private def itemsOf(bytes: Array[Byte]): List[(Long, Long)] =
    Cqf.deserialize(bytes).iterator.toList

  /** Append partials exactly as `run` does: through the product's append
    * function, which tags `build_params` with the flat layout. */
  private def appendAsRun(partials: org.apache.spark.sql.DataFrame, dir: String): Unit =
    BuildSketches.appendPartials(partials, dir)

  /** Visible entry names of a checkpoint dir (hidden _SUCCESS/.crc excluded). */
  private def visibleNames(dir: String): Seq[String] =
    graft.util.ParquetState.visibleEntries(spark, dir).map(_.getPath.getName)

  private def perSource(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((itemsOf(r.getAs[Array[Byte]](1)), r.getLong(2), r.getLong(3)))).toMap

  test("resume from truncated checkpoint == uninterrupted build") {
    val input = TokenGen.generate(spark, 1500, vocab = 2000).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 8, quotientBits = 10)

    // uninterrupted run
    val dirA = Files.createTempDirectory("graft_ckpt_a").toString
    val fullRun = BuildSketches.run(spark, input, dirA, cfg)
      .collect().map(r => r.getString(0) ->
        ((itemsOf(r.getAs[Array[Byte]](1)), r.getLong(2), r.getLong(3)))).toMap

    // interrupted run: only salts 0-2 got checkpointed before the "crash".
    // The simulation must shard with the FULL input's (auto-tuned) salt
    // expression, exactly as the interrupted run itself would have
    val dirB = Files.createTempDirectory("graft_ckpt_b").toString
    val scheme = BuildSketches.deriveScheme(input, cfg)
    val prefix = input
      .withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
      .where(col("salt") < 3)
      .drop("salt")
    appendAsRun(BuildSketches.buildPartials(prefix, cfg, Some(scheme)), dirB)
    // resume processes only the missing shards
    val resumed = BuildSketches.run(spark, input, dirB, cfg)
      .collect().map(r => r.getString(0) ->
        ((itemsOf(r.getAs[Array[Byte]](1)), r.getLong(2), r.getLong(3)))).toMap

    assert(resumed == fullRun, "resumed build differs from uninterrupted build")

    // re-running a complete build is a no-op (idempotent) with same result
    val again = BuildSketches.run(spark, input, dirB, cfg)
      .collect().map(r => r.getString(0) ->
        ((itemsOf(r.getAs[Array[Byte]](1)), r.getLong(2), r.getLong(3)))).toMap
    assert(again == fullRun)
  }

  test("packed input column drives the build and matches the array path exactly") {
    // TokenGen emits `packed` (the default fast scan layout); the build
    // must use it automatically AND produce content-identical sketches to
    // the array<int> path on the same rows
    val input = TokenGen.generate(spark, 800, vocab = 2000).cache()
    assert(input.columns.contains("packed"))
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 8)
    val dirP = Files.createTempDirectory("graft_ckpt_p").toString
    val viaPacked = BuildSketches.run(spark, input, dirP, cfg)
      .orderBy("source").collect()
    val dirQ = Files.createTempDirectory("graft_ckpt_q").toString
    val viaArray = BuildSketches.run(spark, input.drop("packed"), dirQ, cfg)
      .orderBy("source").collect()
    assert(viaPacked.length == viaArray.length && viaPacked.nonEmpty)
    viaPacked.zip(viaArray).foreach { case (p, q) =>
      assert(p.getString(0) == q.getString(0))
      assert(itemsOf(p.getAs[Array[Byte]]("sketch_bytes")) ==
        itemsOf(q.getAs[Array[Byte]]("sketch_bytes")),
        s"packed/array sketch content diverged for source ${p.getString(0)}")
      assert(p.getLong(2) == q.getLong(2) && p.getLong(3) == q.getLong(3))
    }
  }

  test("auto-salting keeps stage-1 shards balanced under 90% source skew") {
    // adversarial skew: one source holds 90% of the rows. With a fixed
    // per-source salt count the hot source's shards would be ~63x the
    // cold ones and the stage wall clock = the hottest task; the
    // auto-tuned salts (proportional to observed rows) must keep every
    // shard within a small factor of the mean. Shard sizes are read from
    // the checkpoint's exact n_rows lineage column.
    import spark.implicits._
    val n = 20000
    val rows = (0 until n).map { i =>
      val src = if (i % 10 != 0) "hot" else Seq("a", "b", "c")(i % 3)
      (f"doc_$i%08d", Seq(i % 97, i % 31), 2, src)
    }
    val input = rows.toDF("doc_id", "tokens", "n_tok", "source")
    val cfg = BuildSketches.Config(kind = "cqf", salts = 8, quotientBits = 8)

    val saltMap = BuildSketches.saltCounts(input, cfg)
    assert(saltMap("hot") > 20, s"hot source under-sharded: $saltMap")
    assert(Seq("a", "b", "c").forall(saltMap(_) >= 1))

    val dir = Files.createTempDirectory("graft_ckpt_skew").toString
    BuildSketches.run(spark, input, dir, cfg).collect()
    val shardRows = spark.read.parquet(dir)
      .select(col("n_rows")).collect().map(_.getLong(0))
    val mean = shardRows.sum.toDouble / shardRows.length
    assert(shardRows.max <= 4 * mean,
      s"skewed shard: max ${shardRows.max} vs mean $mean (${shardRows.length} shards)")
    // the fixed-salt plan for comparison: hot shards ~9x the mean
    val fixed = BuildSketches.buildPartials(input, cfg, Some((Map.empty, cfg.salts)))
      .select(col("n_rows")).collect().map(_.getLong(0))
    assert(fixed.max > 3 * (fixed.sum.toDouble / fixed.length),
      "skew fixture lost its skew — tighten the test data")
  }

  test("resume reuses the checkpoint's recorded scheme; untracked checkpoints are rejected") {
    import spark.implicits._
    val input = TokenGen.generate(spark, 1000, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 8)

    // a resume against a DRIFTED input (different per-source proportions)
    // must shard under the checkpoint's scheme, not a freshly derived one
    val dir = Files.createTempDirectory("graft_ckpt_scheme").toString
    val scheme = BuildSketches.deriveScheme(input, cfg)
    val prefix = input
      .withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
      .where(col("salt") === 0).drop("salt")
    appendAsRun(BuildSketches.buildPartials(prefix, cfg, Some(scheme)), dir)
    // drift: drop most of the head source's rows — a re-derived scheme
    // would assign it fewer salts and misalign with the done-set
    val drifted = input.where(col("source") =!= TokenGen.Sources.head ||
      xxhash64(col("doc_id")) % 10 === 0)
    val resumed = BuildSketches.run(spark, drifted, dir, cfg)
      .agg(sum(col("n_rows"))).head().getLong(0)
    // prefix rows (full input, salt 0) + drifted rows not in salt 0:
    // every drifted row outside the done shards processed exactly once
    val prefixRows = prefix.count()
    val driftedOutside = drifted
      .withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
      .where(col("salt") =!= 0).count()
    assert(resumed == prefixRows + driftedOutside,
      s"resume under drifted input mis-sharded: $resumed != $prefixRows + $driftedOutside")

    // a checkpoint without the scheme column must be rejected loudly
    val dirOld = Files.createTempDirectory("graft_ckpt_old").toString
    appendAsRun(BuildSketches.buildPartials(prefix, cfg, Some(scheme))
      .drop("salt_scheme"), dirOld)
    val ex = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dirOld, cfg).collect()
    }
    assert(ex.getMessage.contains("salt-scheme") && ex.getMessage.contains(dirOld), ex.getMessage)
  }

  test("lineage rows carry exact per-shard counts and input hashes") {
    val input = TokenGen.generate(spark, 800, vocab = 500)
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val partials = BuildSketches.buildPartials(input, cfg).collect()
    assert(partials.map(_.getAs[Long]("n_rows")).sum == 800)
    val totalTokens = input.agg(sum(col("n_tok"))).head().getLong(0)
    assert(partials.map(_.getAs[Long]("n_tokens")).sum == totalTokens)
    assert(partials.forall(_.getAs[String]("sketch_kind") == "cqf"))
    // shard input hashes are distinct and deterministic
    val hashes = partials.map(r => (r.getAs[String]("source"), r.getAs[Int]("salt")) ->
      r.getAs[Long]("input_hash")).toMap
    val partials2 = BuildSketches.buildPartials(input, cfg).collect()
    partials2.foreach { r =>
      assert(hashes((r.getAs[String]("source"), r.getAs[Int]("salt"))) ==
        r.getAs[Long]("input_hash"))
    }
  }

  test("observe() metrics surface rows/tokens consumed by the run") {
    val input = TokenGen.generate(spark, 400, vocab = 300)
    val expectedTokens = input.agg(sum(col("n_tok"))).head().getLong(0)
    @volatile var observed: Option[(Long, Long)] = None
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, duration: Long): Unit = {
        qe.observedMetrics.get("graft_build").foreach { row =>
          observed = Some((row.getLong(0), row.getLong(1)))
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_obs").toString
      BuildSketches.run(spark, input, dir,
        BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 8)).collect()
      var waited = 0
      while (observed.isEmpty && waited < 100) { Thread.sleep(100); waited += 1 }
      assert(observed.contains((400L, expectedTokens)), s"observed=$observed")
    } finally spark.listenerManager.unregister(listener)
  }

  test("build works for every sketch kind") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    for (kind <- Seq("cqf", "hll", "cms", "bloom", "tdigest", "kll", "ss", "kmv")) {
      val dir = Files.createTempDirectory(s"graft_ckpt_$kind").toString
      val out = BuildSketches.run(spark, input, dir,
        BuildSketches.Config(kind = kind, salts = 4))
      assert(out.count() == TokenGen.Sources.size.toLong, s"kind=$kind")
      assert(out.where(col("sketch_bytes").isNull).count() == 0, s"kind=$kind")
      // kind round-trips through the checkpoint's sketch_state metrics
      val metaKinds = spark.read.parquet(dir)
        .select(graft.api.sketch_meta(col("sketch_bytes")).getField("kind"))
        .distinct().collect().map(_.getString(0))
      assert(metaKinds.sameElements(Array(kind)), s"kind=$kind meta=${metaKinds.mkString}")
    }
  }

  test("kmv build: below-capacity checkpoint answers exactly; resume is byte-identical") {
    // 500-key vocab under k=1024 ⇒ the merged per-source sketch never
    // evicts: kmv_distinct must equal the exact per-source distinct
    // token count, and a resume from a truncated checkpoint must
    // reproduce the uninterrupted build byte for byte (bottom-k union
    // is idempotent, so re-processed overlap cannot perturb state)
    val input = TokenGen.generate(spark, 400, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "kmv", salts = 4, kmvK = 1024)
    val full = Files.createTempDirectory("graft_kmv_full").toString + "/ck"
    val part = Files.createTempDirectory("graft_kmv_part").toString + "/ck"
    val uninterrupted = BuildSketches.run(spark, input, full, cfg)
      .select(col("source"), col("sketch_bytes"),
        graft.api.kmv_distinct(col("sketch_bytes")).as("est"),
        graft.api.kmv_is_exact(col("sketch_bytes")).as("ok"))
      .collect().map(r => r.getString(0) -> (r.getAs[Array[Byte]](1), r.getLong(2), r.getBoolean(3))).toMap
    val exact = input.selectExpr("source", "explode(tokens) t")
      .groupBy("source").agg(countDistinct(col("t")).as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((s, (_, est, ok)) <- uninterrupted) {
      assert(ok, s"source=$s evicted under k=1024 with vocab 500")
      assert(est == exact(s), s"source=$s kmv=$est exact=${exact(s)}")
    }
    // interrupted run: only salts 0-1 got checkpointed before the
    // "crash" — sharded with the FULL input's scheme, as the
    // interrupted run itself would have (resume is shard-level)
    val scheme = BuildSketches.deriveScheme(input, cfg)
    val prefix = input
      .withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
      .where(col("salt") < 2).drop("salt")
    appendAsRun(BuildSketches.buildPartials(prefix, cfg, Some(scheme)), part)
    val resumed = BuildSketches.run(spark, input, part, cfg)
      .select(col("source"), col("sketch_bytes"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    for ((s, (bytes, _, _)) <- uninterrupted)
      assert(java.util.Arrays.equals(resumed(s), bytes), s"source=$s resume not byte-identical")
    input.unpersist()
  }

  test("resume rejects a kind mismatch against the checkpoint") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val dir = Files.createTempDirectory("graft_kind").toString + "/ck"
    BuildSketches.run(spark, input, dir,
      BuildSketches.Config(kind = "cqf", salts = 2, quotientBits = 8)).collect()
    val err = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dir,
        BuildSketches.Config(kind = "hll", salts = 2)).collect()
    }
    assert(err.getMessage.contains("kind"))
    input.unpersist()
  }

  test("salt scheme survives adversarial source names (delimiters)") {
    val hostile = Map("x=2,y" -> 7, "a,b" -> 3, "plain" -> 4)
    val enc = BuildSketches.schemeString(hostile, 16)
    assert(BuildSketches.parseScheme(enc, "ck") == ((hostile, 16)))
    // v2-tagged encoding; sane names still encode to themselves
    assert(BuildSketches.schemeString(Map("web" -> 64, "news" -> 8), 16)
      == "v2;default=16;news=8,web=64")
  }

  test("salt scheme: percent/plus names round-trip") {
    // names with URL-special bytes survive the v2 percent-encoding
    val tricky = Map("pct%20ok" -> 5, "a+b" -> 3)
    val enc = BuildSketches.schemeString(tricky, 8)
    assert(BuildSketches.parseScheme(enc, "ck") == ((tricky, 8)))
    assert(BuildSketches.parseScheme("v2;default=4", "ck") == ((Map.empty[String, Int], 4)))
  }

  test("a null, untagged or malformed salt scheme rejects, naming the checkpoint") {
    // the scheme string comes from parquet on disk
    for (bad <- Seq(
        null,                       // written before scheme tracking
        "default=16;a+b=3",         // pre-v2: raw names, untagged
        "v2;default=4;abc",         // an entry without '='
        "v2;default=4;web=x",       // a count that is no integer
        "v2;default=4;web=0",       // a count < 1: a pmod divisor of 0
        "v2;default=0",
        "v2;default=4;%zz=3")) {    // a name that is not percent-encoded
      val e = intercept[IllegalArgumentException] {
        BuildSketches.parseScheme(bad, "/ckpt/dir")
      }
      assert(e.getMessage.contains("/ckpt/dir") &&
        e.getMessage.contains("rebuild from a fresh dir"), e.getMessage)
    }
  }

  test("empty input on a fresh checkpoint returns an empty result, not a crash") {
    val dir = Files.createTempDirectory("graft_empty").toString + "/ck"
    val empty = TokenGen.generate(spark, 5, vocab = 10).where(lit(false))
    val cfg = BuildSketches.Config(kind = "cqf", salts = 2, quotientBits = 10)
    val out = BuildSketches.run(spark, empty, dir, cfg).collect()
    assert(out.isEmpty)
    // the same on a dir pre-created empty (by ops, say)
    assert(BuildSketches.run(spark, empty,
      Files.createTempDirectory("graft_empty_pre").toString, cfg).collect().isEmpty)
    // the next day's rows build on the zero-row checkpoint exactly as on
    // a fresh one (it holds no partials, so no kind or scheme to match)
    val input = TokenGen.generate(spark, 200, vocab = 500).cache()
    val fresh = Files.createTempDirectory("graft_empty_fresh").toString
    assert(perSource(BuildSketches.run(spark, input, dir, cfg)) ==
      perSource(BuildSketches.run(spark, input, fresh, cfg)))
  }

  test("a fresh build checkpoints flat: no salt= directory, one part file per task") {
    val input = TokenGen.generate(spark, 600, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 8, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_flat").toString
    BuildSketches.run(spark, input, dir, cfg).collect()
    val names = visibleNames(dir)
    assert(!names.exists(_.startsWith("salt=")), s"salt= directory in $names")
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(names.nonEmpty && names.length <= parts,
      s"${names.length} part files from one append (shuffle partitions $parts)")
    // salt is an ordinary column, and every partial carries the layout
    // tag that makes versions predating the flat layout reject the dir
    val ck = spark.read.parquet(dir)
    assert(ck.select(col("salt")).distinct().count() > 1)
    assert(ck.select(col("build_params")).distinct().collect().map(_.getString(0))
      .sameElements(Array(BuildSketches.buildFor(cfg).paramString + BuildSketches.FlatTag)))
  }

  /** Salts 0 and 1 of `input`'s partials, sharded under its scheme. */
  private def firstShards(input: org.apache.spark.sql.DataFrame,
      cfg: BuildSketches.Config): org.apache.spark.sql.DataFrame = {
    val scheme = BuildSketches.deriveScheme(input, cfg)
    BuildSketches.buildPartials(input
      .withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
      .where(col("salt") < 2).drop("salt"), cfg, Some(scheme))
  }

  /** Every file under a checkpoint dir, as paths relative to it, with
    * its bytes. */
  private def filesUnder(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.map { f =>
      val p = f.asInstanceOf[java.nio.file.Path]
      root.relativize(p).toString -> Files.readAllBytes(p).toSeq
    }.toMap
    finally walk.close()
  }

  /** Resume `dir` with `cfg`, which must reject and leave every file of
    * the checkpoint byte-identical: the message and the jobs it started. */
  private def rejectedResume(input: org.apache.spark.sql.DataFrame, dir: String,
      cfg: BuildSketches.Config): (String, Seq[String]) = {
    val files = filesUnder(dir)
    var message = ""
    val jobs = jobsOf {
      message = intercept[IllegalArgumentException] {
        BuildSketches.run(spark, input, dir, cfg)
      }.getMessage
    }
    assert(filesUnder(dir) == files, s"the rejected resume changed $dir")
    (message, jobs)
  }

  test("a salt=N checkpoint rejects before any Spark job and leaves its files unchanged") {
    // the layout before flat checkpoints: one directory per shard
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_saltdirs").toString
    firstShards(input, cfg).write.mode("append").partitionBy("salt").parquet(dir)
    assert(visibleNames(dir).sorted == Seq("salt=0", "salt=1"))
    val (message, jobs) = rejectedResume(input, dir, cfg)
    assert(message.contains("salt=N directories") && message.contains(dir) &&
      message.contains("rebuild from a fresh dir"), message)
    assert(jobs.isEmpty, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    input.unpersist()
  }

  test("a checkpoint mixing flat part files and salt=N directories rejects") {
    // what a version predating build-parameter tracking leaves when it
    // resumes a flat checkpoint: partition discovery would skip the flat
    // part files and the merged counts would silently shrink
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_mixed").toString
    val shards = firstShards(input, cfg)
    appendAsRun(shards.where(col("salt") === 0), dir)
    shards.where(col("salt") === 1).write.mode("append").partitionBy("salt").parquet(dir)
    val (message, jobs) = rejectedResume(input, dir, cfg)
    assert(message.contains("salt=N directories"), message)
    assert(jobs.isEmpty, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    input.unpersist()
  }

  test("a flat checkpoint with a null or untagged build_params or salt_scheme rejects before stage 1") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val shards = firstShards(input, cfg)
    val untagged = col("salt_scheme").substr(lit(4), lit(Int.MaxValue))
    val fixtures = Seq[(String, String => Unit, String)](
      // written before parameter tracking, and before the flat layout
      ("null build_params", shards.drop("build_params").write.parquet(_),
        "parameters 'null'"),
      ("untagged build_params", shards.write.parquet(_),
        s"parameters '${BuildSketches.buildFor(cfg).paramString}'"),
      // written before scheme tracking, and before the v2 encoding
      ("null salt_scheme", appendAsRun(shards.drop("salt_scheme"), _),
        "salt scheme 'null'"),
      ("untagged salt_scheme", appendAsRun(shards.withColumn("salt_scheme", untagged), _),
        "salt scheme 'default="))
    for ((name, write, expected) <- fixtures) {
      val dir = Files.createTempDirectory("graft_ckpt_untagged").toString + "/ck"
      write(dir)
      val (message, jobs) = rejectedResume(input, dir, cfg)
      assert(message.contains(expected) && message.contains(dir) &&
        message.contains("rebuild from a fresh dir"), s"$name: $message")
      assert(jobs == Seq("build[cqf] resume checks"), s"$name: ${jobs.mkString(" | ")}")
    }
    input.unpersist()
  }

  test("a checkpoint dir holding only hidden entries is a fresh start, not a broken resume") {
    // a killed first run commits nothing but leaves _temporary/ (and an
    // empty committed run leaves _SUCCESS); either must NOT be read as
    // checkpoint data — the old guard counted any dir entry and sent the
    // resume into UNABLE_TO_INFER_SCHEMA
    val input = TokenGen.generate(spark, 200, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_hidden").toString
    Files.createDirectory(java.nio.file.Paths.get(dir, "_temporary"))
    Files.createFile(java.nio.file.Paths.get(dir, "_SUCCESS"))
    val out = BuildSketches.run(spark, input, dir, cfg).collect()
    assert(out.nonEmpty, "hidden-only checkpoint dir must build fresh")
  }

  test("resume with drifted build parameters is rejected before any append") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val dir = Files.createTempDirectory("graft_ckpt_params").toString
    BuildSketches.run(spark, input, dir, BuildSketches.Config(kind = "hll", hllP = 12))
    val e = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dir, BuildSketches.Config(kind = "hll", hllP = 14))
    }
    assert(e.getMessage.contains("parameters"), e.getMessage)
    // the original config still resumes cleanly (nothing was appended)
    val again = BuildSketches.run(spark, input, dir,
      BuildSketches.Config(kind = "hll", hllP = 12)).collect()
    assert(again.nonEmpty)
  }

  /** `(salt, build_params)` of every partial, read under a declared
    * schema: an inferred read of a checkpoint that mixes partials with
    * and without `build_params` may sample a file without it and drop
    * the column. */
  private def saltParams(dir: String): Seq[(Int, Option[String])] =
    spark.read.schema("salt INT, build_params STRING").parquet(dir)
      .select(col("salt"), col("build_params")).collect()
      .map(r => (r.getInt(0), Option(r.getString(1)))).toSeq.sorted

  test("drifted parameters reject on a checkpoint whose oldest partial predates build_params") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "hll", salts = 2, hllP = 12)
    val dir = Files.createTempDirectory("graft_ckpt_legacy_params").toString
    val scheme = BuildSketches.deriveScheme(input, cfg)
    val salted = input.withColumn("salt", BuildSketches.saltExprFor(scheme._1, scheme._2))
    def shard(s: Int) =
      BuildSketches.buildPartials(salted.where(col("salt") === s).drop("salt"), cfg, Some(scheme))
    // salt 0 as a version predating build_params wrote it, then salt 1
    // as run appends it
    shard(0).drop("build_params").write.mode("append").parquet(dir)
    appendAsRun(shard(1), dir)
    val params = saltParams(dir)
    assert(params.map(_._2).toSet ==
      Set(None, Some(BuildSketches.buildFor(cfg).paramString + BuildSketches.FlatTag)), params)
    val files = filesUnder(dir)
    val e = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dir, cfg.copy(hllP = 14))
    }
    assert(e.getMessage.contains("parameters"), e.getMessage)
    assert(filesUnder(dir) == files, "the rejected resume appended to the checkpoint")
    assert(saltParams(dir) == params)
    input.unpersist()
  }

  test("null-source rows shard, build, and stay resume-idempotent") {
    import spark.implicits._
    val base = TokenGen.generate(spark, 300, vocab = 500)
    // the null-source shard: an equi anti-join would never match it
    // against the done-set and every resume would double-count it
    val nulled = base.withColumn("source",
      when(pmod(xxhash64(col("doc_id")), lit(10)) === 0, lit(null).cast("string"))
        .otherwise(col("source"))).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_null").toString
    val first = BuildSketches.run(spark, nulled, dir, cfg)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(first.contains(None), "the null source must form its own group")
    // resuming the COMPLETE checkpoint must append nothing and reproduce
    // the same counts (pre-fix this doubled the null shard's n_rows)
    val again = BuildSketches.run(spark, nulled, dir, cfg)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(2)).toMap
    assert(again == first, s"resume drifted: $again vs $first")
  }

  test("an identically re-appended shard dedupes; diverging input hashes reject") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 2, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_dupe").toString
    val cleanRows = BuildSketches.run(spark, input, dir, cfg).collect()
    val clean = cleanRows.map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // concurrent-resume simulation: the same shards appended a second time
    val scheme = BuildSketches.deriveScheme(input, cfg)
    appendAsRun(BuildSketches.buildPartials(input, cfg, Some(scheme)), dir)
    val dedupedRows = BuildSketches.run(spark, input, dir, cfg).collect()
    val deduped = dedupedRows.map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(deduped == clean, "identical duplicate shards must not double-count")
    // the only spec that runs the dedupe branch: its sketches, too, are
    // the clean build's, byte for byte
    def bytesBySource(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    assert(bytesBySource(dedupedRows) == bytesBySource(cleanRows),
      "deduped sketch bytes differ from the clean build's")
    // diverging duplicate (different rows -> different input_hash) rejects
    appendAsRun(BuildSketches.buildPartials(
      input.where(pmod(xxhash64(col("doc_id"), lit(7)), lit(2)) === 0), cfg, Some(scheme)), dir)
    val e = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dir, cfg).collect()
    }
    assert(e.getMessage.contains("DIVERGING"), e.getMessage)
  }

  private def jobsOf(body: => Unit): Seq[String] = graft.JobsOf(spark)(body)

  test("a fresh build plus one action runs at most six jobs, each labelled") {
    // the input exists before the counting window opens
    val input = TokenGen.generate(spark, 600, vocab = 500)
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_jobs").toString
    val sc = spark.sparkContext
    sc.setJobDescription("caller: nightly build")
    val jobs = try jobsOf {
      assert(BuildSketches.run(spark, input, dir, cfg).collect().nonEmpty)
    } finally sc.setJobDescription(null)
    assert(jobs.length <= 6, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    // run labels its own jobs; stage 2 runs at the caller's action
    assert(jobs.toSet == Set("build[cqf] salt counts", "build[cqf] stage 1",
      "build[cqf] lineage", "caller: nightly build"), jobs.mkString(" | "))
  }

  test("a resume of a complete checkpoint plus one action runs at most six jobs") {
    val input = TokenGen.generate(spark, 600, vocab = 500)
    val cfg = BuildSketches.Config(kind = "cqf", salts = 4, quotientBits = 10)
    val dir = Files.createTempDirectory("graft_ckpt_resume_jobs").toString
    // the first build runs before the counting window opens
    BuildSketches.run(spark, input, dir, cfg).collect()
    val sc = spark.sparkContext
    sc.setJobDescription("caller: nightly build")
    val jobs = try jobsOf {
      assert(BuildSketches.run(spark, input, dir, cfg).collect().nonEmpty)
    } finally sc.setJobDescription(null)
    assert(jobs.length <= 6, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    // one lineage collect serves every resume check and the done-set;
    // the recorded scheme makes the salt counts unnecessary
    assert(jobs.toSet == Set("build[cqf] resume checks", "build[cqf] stage 1",
      "build[cqf] lineage", "caller: nightly build"), jobs.mkString(" | "))
  }

  test("build_params at Config defaults are the strings existing checkpoints hold") {
    val expected = Seq(
      "cqf" -> "cqf;q=12;hb=64;compact=false", "hll" -> "hll;p=12",
      "cms" -> "cms;d=5;w=8192", "bloom" -> "bloom;bits=1048576;h=5",
      "tdigest" -> "tdigest;c=100.0", "kll" -> "kll;k=200", "ss" -> "ss;k=4096",
      "kmv" -> "kmv;k=1024")
    for ((kind, params) <- expected) {
      val build = BuildSketches.buildFor(BuildSketches.Config(kind = kind))
      assert(build.paramString == params, kind)
      assert(build.kind.name == kind)
    }
  }

  test("an unknown kind is rejected before any Spark job and leaves no checkpoint") {
    val input = TokenGen.generate(spark, 300, vocab = 500)
    val dir = Files.createTempDirectory("graft_ckpt_theta").toString
    val jobs = jobsOf {
      val e = intercept[IllegalArgumentException] {
        BuildSketches.run(spark, input, dir, BuildSketches.Config(kind = "theta"))
      }
      assert(e.getMessage.contains("unknown sketch kind theta"), e.getMessage)
    }
    assert(jobs.isEmpty, s"${jobs.length} jobs: ${jobs.mkString(" | ")}")
    assert(visibleNames(dir).isEmpty)
  }

  test("kmv and ss builds take the packed path and match the array path byte for byte") {
    val input = TokenGen.generate(spark, 600, vocab = 2000).cache()
    def bytesBySource(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("sketch_bytes").toSeq).toMap
    // the default ssK (4096) exceeds the vocabulary, so the ss sketches
    // are exact and their canonical bytes do not depend on merge order
    for (kind <- Seq("kmv", "ss")) {
      val cfg = BuildSketches.Config(kind = kind, salts = 4)
      val plan = BuildSketches.buildPartials(input, cfg).queryExecution.analyzed.toString
      assert(plan.contains(s"${kind}_agg_packed("), plan)
      val viaPacked = bytesBySource(BuildSketches.run(spark, input,
        Files.createTempDirectory(s"graft_ckpt_${kind}_p").toString, cfg))
      val viaArray = bytesBySource(BuildSketches.run(spark, input.drop("packed"),
        Files.createTempDirectory(s"graft_ckpt_${kind}_a").toString, cfg))
      assert(viaPacked.nonEmpty && viaPacked.keySet == viaArray.keySet)
      viaPacked.foreach { case (source, bytes) =>
        assert(bytes == viaArray(source), s"$kind packed/array bytes diverged for $source")
      }
    }
    input.unpersist()
  }

  test("the caller's job description survives run, also when run rejects") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val dir = Files.createTempDirectory("graft_ckpt_desc").toString
    val sc = spark.sparkContext
    sc.setJobDescription("caller: nightly build")
    try {
      BuildSketches.run(spark, input, dir,
        BuildSketches.Config(kind = "cqf", salts = 2, quotientBits = 8)).collect()
      assert(sc.getLocalProperty("spark.job.description") == "caller: nightly build")
      intercept[IllegalArgumentException] {
        BuildSketches.run(spark, input, dir, BuildSketches.Config(kind = "hll", salts = 2))
      }
      assert(sc.getLocalProperty("spark.job.description") == "caller: nightly build")
    } finally sc.setJobDescription(null)
    input.unpersist()
  }

  test("a checkpoint lacking a declared column rejects before stage 2; partition dirs count as present") {
    val input = TokenGen.generate(spark, 300, vocab = 500).cache()
    val cfg = BuildSketches.Config(kind = "cqf", salts = 2, quotientBits = 10)
    // a complete checkpoint whose partials lack input_hash: the declared
    // read would see the column as null and merge every shard unchecked
    val dir = Files.createTempDirectory("graft_ckpt_nohash").toString
    appendAsRun(BuildSketches.buildPartials(input, cfg).drop("input_hash"), dir)
    // run itself throws: the stage-2 DataFrame is never handed out
    val e = intercept[IllegalArgumentException] {
      BuildSketches.run(spark, input, dir, cfg)
    }
    assert(e.getMessage.contains("input_hash") && e.getMessage.contains(dir), e.getMessage)
    // a column present only as name=value partition directories counts,
    // as in the batch_id= stores of IncrementalDedup and the IVF index
    val store = Files.createTempDirectory("graft_state_batches").toString + "/st"
    BuildSketches.buildPartials(input, cfg).withColumn("batch_id", lit("b0"))
      .write.partitionBy("batch_id").parquet(store)
    val read = graft.util.ParquetState.read(spark, store,
      BuildSketches.Stage2Schema.add("batch_id", "string"))
    assert(read.select(col("batch_id")).distinct().collect().map(_.getString(0)).toSeq == Seq("b0"))
    assert(read.where(col("input_hash").isNull).count() == 0)
    input.unpersist()
  }

  test("TokenGen nTok=0 rows carry genuinely empty token arrays") {
    val df = TokenGen.generate(spark, 400, vocab = 100, minTok = 0, maxTok = 3)
    val rows = df.select(col("n_tok"), size(col("tokens")).as("sz"),
      length(col("packed")).as("plen")).collect()
    assert(rows.forall(r => r.getInt(1) == r.getInt(0)), "size(tokens) == n_tok")
    assert(rows.forall(r => r.getInt(2) == 4 * r.getInt(0)), "packed bytes == 4*n_tok")
    assert(rows.exists(_.getInt(0) == 0), "the range must actually draw nTok=0")
  }
}
