package graft.jobs

import graft.api
import graft.agg.{SketchBuild, SketchBuildAgg}
import graft.agg.SketchBuild._
import graft.util.StagedRun
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types._

/** Checkpoint-resumable distributed sketch build (SURVEY.md §7.2 M3,
  * north_rule: "resumable from checkpoint with per-partition lineage +
  * metrics").
  *
  * Stage 1 salts each (skewed) source into `salts` shards and builds one
  * sketch partial per (source, salt) — the unit of work AND of resume.
  * Partials land in the checkpoint dir as flat parquet part files, one
  * per write task, with `salt` an ordinary column beside the full lineage
  * (rows, tokens, order-insensitive input hash). Stage 2 kernel-merges
  * partials per source with *_merge_agg.
  *
  * Kinds: [[buildFor]] maps the config to one [[graft.agg.SketchBuild]]
  * entry before anything else runs, so an unknown kind is rejected before
  * any Spark job and leaves no checkpoint. Both stages take what they
  * need from that entry — the build aggregate and its packed form, the
  * `build_params` string, the kind name and its `*_merge_agg` — and name
  * no kind themselves.
  *
  * Format: the flat layout is the only one `run` reads or writes. Every
  * partial's `build_params` is the kind's parameter string plus
  * [[FlatTag]], and its `salt_scheme` is `v2;`-tagged. A checkpoint with
  * a `salt=N` directory (the layout before flat), a partial with a null
  * or untagged `build_params` or `salt_scheme`, or a malformed scheme is
  * rejected before any write, naming the directory: rebuild it from a
  * fresh dir. graft versions that predate the flat layout reject a flat
  * checkpoint before appending to it ([[FlatTag]]).
  *
  * Resume: `run` is the [[graft.util.StagedRun]] `build[<kind>]`, which
  * labels its jobs; each shard records its input fingerprint. One driver
  * collect of the checkpoint's lineage under the declared
  * [[ResumeSchema]] serves the kind, parameter and scheme checks and the
  * done-set. Done shards are filtered out of the input without a join,
  * so a killed stage-1 job re-processes only missing shards; stage 2
  * always recomputes from the (cheap, tiny) partials, so a resumed build
  * yields the uninterrupted build's sketch bytes (StagedKillMatrixSpec).
  *
  * Read-back: stage 2 reads the checkpoint under the declared
  * [[Stage2Schema]] ([[graft.util.ParquetState.read]]: no inference job;
  * a checkpoint lacking a declared column is rejected). One driver
  * collect of the lineage `(source, salt, input_hash)` — one row per
  * partial, at most the sum of the per-source shard counts per append —
  * rejects shards whose appends diverge, and stage 2 runs the dedupe
  * shuffle only when it shows a shard appended twice.
  *
  * Jobs: a fresh build plus one action on its result runs six — salt
  * counts (one, no exchange), stage 1 (shuffle and write), the lineage
  * collect, and stage 2 (shuffle and result). A resume runs six too:
  * the resume-checks collect replaces the salt counts, since the
  * checkpoint records its scheme.
  */
object BuildSketches {

  /** kind: cqf | hll | cms | tdigest | kll | bloom | ss | kmv; the
    * remaining fields are that kind's build parameters.
    * salts is the MEAN shard count per source. The per-source counts are
    * derived from observed row counts (one cheap pre-pass over the
    * `source` column), so one hot source holding most of the corpus gets
    * most of the shard budget instead of the same fixed count as a cold
    * source — at 100x data a fixed count would leave the hot source's
    * shards 100x the others and the stage wall clock would be that one
    * task. Stage 1 co-partitions rows by (source, salt) before
    * aggregating: each shard's sketch is built by exactly one task
    * (cache-resident working set, no k-way partial re-merge). */
  final case class Config(
      kind: String = "cqf",
      salts: Int = 16,
      quotientBits: Int = 12,
      hashBits: Int = 64,
      compact: Boolean = false,
      hllP: Int = 12,
      cmsDepth: Int = 5,
      cmsWidth: Int = 8192,
      bloomBits: Long = 1L << 20,
      bloomHashes: Int = 5,
      tdCompression: Double = 100.0,
      kllK: Int = 200,
      ssK: Int = 4096,
      kmvK: Int = 1024)

  /** The build entry for `cfg`: the kind's aggregate, parameters, merge
    * and the canonical `build_params` string written into every
    * checkpoint partial, so a resume with drifted config (hllP bumped,
    * cms resized...) is rejected BEFORE appending incompatible partials
    * beside the old ones. Without it the kind check passes, the
    * mixed-geometry shards land in the done-set, and stage 2 crashes on
    * a merge mismatch that no re-run with any single config can clear.
    * The one place this job names kinds; an unknown kind throws
    * IllegalArgumentException. */
  private[jobs] def buildFor(cfg: Config): SketchBuild[_ >: Null <: AnyRef] = cfg.kind match {
    case "cqf" => CqfBuild(cfg.quotientBits, cfg.hashBits, cfg.compact)
    case "hll" => HllBuild(cfg.hllP)
    case "cms" => CmsBuild(cfg.cmsDepth, cfg.cmsWidth)
    case "bloom" => BloomBuild(cfg.bloomBits, cfg.bloomHashes)
    case "tdigest" => TDigestBuild(cfg.tdCompression)
    case "kll" => KllBuild(cfg.kllK)
    case "ss" => SsBuild(cfg.ssK)
    case "kmv" => KmvBuild(cfg.kmvK)
    case other => throw new IllegalArgumentException(s"unknown sketch kind $other")
  }

  /** Suffix of the `build_params` of every flat-layout partial. Older
    * versions compare `build_params` verbatim, so they reject a flat
    * checkpoint as built with other parameters instead of appending
    * `salt=N` directories beside its part files, which Spark's partition
    * discovery would then silently skip. */
  private[jobs] val FlatTag = ";layout=flat"

  /** Append stage-1 partials to the checkpoint as flat part files, one
    * per write task, each partial's `build_params` tagged [[FlatTag]]. */
  private[jobs] def appendPartials(partials: DataFrame, checkpointDir: String): Unit =
    partials.withColumn("build_params", concat(col("build_params"), lit(FlatTag)))
      .write.mode(SaveMode.Append).parquet(checkpointDir)

  /** Per-source shard counts: the total shard budget (cfg.salts x
    * #sources) split proportionally to observed per-source row counts,
    * clamped to [1, 4096]. Deterministic for a given input, so the
    * resume's done-set filter recomputes identical salts. One Spark job with no
    * exchange: each input partition counts its sources and the driver
    * merges one count map per partition. */
  def saltCounts(df: DataFrame, cfg: Config): Map[String, Int] = {
    // a NULL source is legal input: it cannot ride the scheme map (a null
    // map key breaks typedLit and the scheme sort) so it takes the default
    // shard count via the saltExprFor coalesce — same as any source first
    // seen after the scheme was derived
    val perPartition = df.select(col("source")).rdd.mapPartitions { rows =>
      val seen = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { r =>
        val s = r.getString(0)
        if (s != null) seen(s) = seen.getOrElse(s, 0L) + 1
      }
      Iterator.single(seen)
    }.collect()
    val counts = perPartition.flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val total = math.max(1L, counts.values.sum)
    val budget = cfg.salts.toDouble * counts.size
    counts.map { case (s, n) =>
      s -> math.min(4096, math.max(1, math.round(budget * n / total).toInt))
    }
  }

  /** Canonical string encoding of a salt scheme — written into every
    * checkpoint partial so a resume can (a) detect that the checkpoint
    * was sharded under a different scheme (old code, changed config, or
    * drifted per-source row counts) and (b) re-shard remaining rows
    * under the CHECKPOINT's scheme rather than a freshly derived one. */
  // source names come straight from data (adversarial by policy): a name
  // containing the scheme's own delimiters (',' '=' ';') would corrupt
  // the encoding or crash the parse — percent-encode each name. "v2;"
  // tags this encoding.
  private def encName(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private[jobs] def schemeString(map: Map[String, Int], default: Int): String =
    map.toSeq.sortBy(_._1).map { case (s, n) => s"${encName(s)}=$n" }
      .mkString(s"v2;default=$default;", ",", "")

  /** Decode the scheme the checkpoint at `checkpointDir` recorded. The
    * string comes from disk: a null, untagged (pre-v2, raw names) or
    * malformed one, or a shard count below 1 (a `pmod` divisor), throws
    * IllegalArgumentException naming the directory. */
  private[jobs] def parseScheme(s: String, checkpointDir: String): (Map[String, Int], Int) = {
    def reject(why: String): Nothing = throw new IllegalArgumentException(
      s"checkpoint at $checkpointDir records salt scheme '$s', $why — " +
      "rebuild from a fresh dir")
    if (s == null || !s.startsWith("v2;"))
      reject("written before v2 salt-scheme tracking")
    def count(n: String): Int = n.toIntOption.filter(_ >= 1)
      .getOrElse(reject(s"whose shard count '$n' is not a positive integer"))
    def decode(name: String): String =
      try java.net.URLDecoder.decode(name, "UTF-8")
      catch { case _: IllegalArgumentException => reject(s"whose name '$name' is not percent-encoded") }
    val Array(head, rest @ _*) = s.substring(3).split(";", 2)
    val default = count(head.stripPrefix("default="))
    val map = rest.headOption.filter(_.nonEmpty).map(_.split(",").map { kv =>
      val i = kv.lastIndexOf('=')
      if (i < 0) reject(s"whose entry '$kv' has no '='")
      decode(kv.substring(0, i)) -> count(kv.substring(i + 1))
    }.toMap).getOrElse(Map.empty)
    (map, default)
  }

  /** Salt expression for a concrete scheme. try_element_at (not
    * element_at): under ANSI mode a source unseen when the scheme was
    * derived must fall back to the default, not throw. */
  private[jobs] def saltExprFor(map: Map[String, Int], default: Int): Column = {
    val perSource: Column =
      if (map.nonEmpty)
        coalesce(try_element_at(typedLit(map), col("source")), lit(default))
      else lit(default)
    pmod(xxhash64(col("doc_id")), perSource).cast("int")
  }

  /** Derive this run's salt scheme from the input (see [[saltCounts]]). */
  private[jobs] def deriveScheme(df: DataFrame, cfg: Config): (Map[String, Int], Int) =
    (saltCounts(df, cfg), cfg.salts)

  /** The partial columns stage 2 reads back from the checkpoint — the
    * declared schema of [[graft.util.ParquetState.read]], so the
    * read-back runs no schema-inference job. */
  private[jobs] val Stage2Schema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("salt", IntegerType),
    StructField("sketch_bytes", BinaryType),
    StructField("n_rows", LongType),
    StructField("n_tokens", LongType),
    StructField("input_hash", LongType)))

  /** The per-partial lineage a resume checks before it appends. A column
    * an older checkpoint lacks reads as null, which `run` rejects. */
  private[jobs] val ResumeSchema: StructType = StructType(Seq(
    StructField("source", StringType),
    StructField("salt", IntegerType),
    StructField("sketch_kind", StringType),
    StructField("build_params", StringType),
    StructField("salt_scheme", StringType)))

  /** Stage 1: per-(source, salt) sketch partials with lineage columns
    * (F4 fixture schema). `scheme` overrides the salt scheme — the
    * resume path passes the CHECKPOINT's recorded scheme so a
    * partially-built checkpoint and its resume agree on every row's
    * shard even if per-source row proportions drifted in between. */
  def buildPartials(df: DataFrame, cfg: Config,
      scheme: Option[(Map[String, Int], Int)] = None): DataFrame = {
    val build = buildFor(cfg)
    val (saltMap, saltDefault) = scheme.getOrElse(deriveScheme(df, cfg))
    val distributed = df.withColumn("salt", saltExprFor(saltMap, saltDefault))
      .repartition(col("source"), col("salt"))
    // DEFAULT fast path: a `packed` BINARY column (pack_ints layout) keeps
    // the scan on parquet's vectorized primitive path — used automatically
    // for every kind with a packed form when the input table carries it
    val packed = build.packable && df.columns.contains("packed")
    val sketch = GraftBridge.column(SketchBuildAgg(
      GraftBridge.expression(col(if (packed) "packed" else "tokens")), build, packed)
      .toAggregateExpression())
    distributed
      .groupBy(col("source"), col("salt"))
      .agg(
        sketch.as("sketch_bytes"),
        count(lit(1)).as("n_rows"),
        sum(col("n_tok").cast("long")).as("n_tokens"),
        // the shard's input fingerprint — idempotence check for resume
        // (same rows ⇒ same hash)
        StagedRun.fingerprint(col("doc_id"), col("n_tok")).as("input_hash"))
      // the lineage columns in ONE projection (each withColumn re-analyzes
      // the whole plan)
      .select(Stage2Schema.fieldNames.map(col).toIndexedSeq ++ Seq(
        lit(build.kind.name).as("sketch_kind"),
        // the kind's build parameters — resume rejects config drift up front
        lit(build.paramString).as("build_params"),
        // the scheme every row was sharded under — resume validates/reuses it
        lit(schemeString(saltMap, saltDefault)).as("salt_scheme"),
        // per-partial sketch-state metrics (load factor, counts, error
        // bound at the current state) — the monitoring half of the
        // north-rule lineage contract; resume reads never depend on it,
        // so pre-metric checkpoints stay resumable
        graft.api.sketch_meta(col("sketch_bytes")).as("sketch_state")): _*)
  }

  /** Run (or resume) the build. Returns the per-source final sketches:
    * (source, sketch_bytes, n_rows, n_tokens).
    *
    * `run` itself runs the salt-count, stage-1 and lineage jobs as a
    * [[graft.util.StagedRun]] `build[<kind>]`, so each carries a
    * `build[<kind>] <stage>` job description and the caller's comes back
    * on every exit path; stage 2 runs at the caller's action under the
    * caller's description. A fresh build or a resume plus one action on
    * the result is six Spark jobs; an unknown kind throws
    * IllegalArgumentException before the first. */
  def run(spark: SparkSession, input: DataFrame, checkpointDir: String,
      cfg: Config = Config()): DataFrame =
    StagedRun(spark, "build", cfg.kind)(runImpl(_, spark, input, checkpointDir, cfg))

  private def runImpl(run: StagedRun, spark: SparkSession, input: DataFrame,
      checkpointDir: String, cfg: Config): DataFrame = {
    // an unknown kind fails here, before any Spark job
    val build = buildFor(cfg)
    graft.GraftFunctions.registerAll(spark)
    def derivedScheme(): (Map[String, Int], Int) = {
      run.stage("salt counts")
      deriveScheme(input, cfg)
    }
    // VISIBLE entries only (shared guard, graft.util.ParquetState): a
    // killed first run leaves _temporary/ (and a committed empty run
    // leaves _SUCCESS) — counting those as checkpoint data would send
    // the advertised killed-job resume into a parquet read with zero
    // data files instead of a fresh start
    val entries = graft.util.ParquetState.visibleEntries(spark, checkpointDir)
    // the layout before flat: rejected from the listing, before any job
    val saltDirs = entries.map(_.getPath.getName).filter(_.startsWith("salt="))
    require(saltDirs.isEmpty,
      s"checkpoint at $checkpointDir holds salt=N directories " +
      s"(${saltDirs.sorted.take(3).mkString(", ")}), the layout before flat " +
      "checkpoints, which this version does not read — rebuild from a fresh dir")
    // ONE driver collect of the checkpoint's lineage serves every resume
    // check and the done-set
    run.stage("resume checks")
    val priorLineage: Option[Array[Row]] = Option.when(entries.nonEmpty)(
      spark.read.schema(ResumeSchema).parquet(checkpointDir).collect())

    // observe() metrics on the input actually consumed this run
    val observed = input.observe("graft_build",
      count(lit(1)).as("rows_in"),
      sum(col("n_tok").cast("long")).as("tokens_in"))

    // A resume MUST shard under the scheme the checkpoint was built with:
    // recomputing salts from this run's input (salt counts can drift,
    // config can change) would silently drop/double-count rows against
    // the recorded (source, salt) done-set. The scheme travels inside the
    // checkpoint itself; a partial without it is rejected loudly. A
    // checkpoint of zero partials (an append of an empty input leaves
    // one schema-only part file) constrains nothing.
    val scheme: (Map[String, Int], Int) = priorLineage match {
      case None => derivedScheme()
      case Some(rows) =>
        def recorded(column: String): Array[String] =
          rows.map(_.getAs[String](column)).distinct
        // the checkpoint's KIND must match: resuming a cqf build as
        // hll would append incompatible partials beside the old ones and
        // stage 2 would feed cqf bytes into hll_merge_agg
        val kinds = recorded("sketch_kind")
        require(kinds.isEmpty || kinds.sameElements(Array(cfg.kind)),
          s"checkpoint at $checkpointDir holds sketch kind " +
          s"'${kinds.mkString(",")}' but this run builds '${cfg.kind}' — " +
          "use a fresh checkpoint dir per kind")
        // same-kind resumes with drifted parameters are rejected BEFORE
        // any append, and so is a partial whose parameters are null or
        // untagged (written before parameter tracking or the flat layout)
        val params = recorded("build_params")
        val expected = build.paramString + FlatTag
        require(params.forall(_ == expected),
          s"checkpoint at $checkpointDir was built with parameters " +
          s"'${params.mkString(",")}' but this run writes '$expected' — " +
          "appending would poison the checkpoint with unmergeable partials; " +
          "resume with the original config or rebuild from a fresh dir")
        val schemes = recorded("salt_scheme")
        require(schemes.length <= 1,
          s"checkpoint at $checkpointDir mixes salt schemes: ${schemes.mkString(" | ")} — " +
          "rebuild from a fresh dir")
        schemes.headOption.map(parseScheme(_, checkpointDir)).getOrElse(derivedScheme())
    }
    val salt = saltExprFor(scheme._1, scheme._2)
    val remaining = priorLineage match {
      case None => observed
      case Some(rows) =>
        // the done-set filters on the driver's collected keys: no join
        // and no broadcast job. Keys are null-safe: a NULL source forms a
        // legitimate shard, and a key that never matched it would
        // re-append (and double-count) its partial on EVERY resume
        val done = rows.map(r =>
          (Option(r.getAs[String]("source")), r.getAs[Int]("salt"))).toSet
        val pending = udf((source: String, salt: Int) => !done((Option(source), salt)))
        observed.where(pending(col("source"), salt))
    }

    // unconditional append: probing emptiness first (remaining.take(1))
    // costs a second full filtered scan of the input; an empty append
    // writes no partial rows (at most a schema-only part file, which a
    // resume reads as a checkpoint of zero partials)
    run.stage("stage 1")
    appendPartials(buildPartials(remaining, cfg, Some(scheme)), checkpointDir)

    // the read-back always finds a data file, even after a zero-row build
    // on a fresh dir: an append commits at least one (schema-only) part
    // file. The file list is fixed here, so the lineage check and stage 2
    // see the same partials even if another run appends in between.
    run.stage("lineage")
    val partials = graft.util.ParquetState.read(spark, checkpointDir, Stage2Schema)
    // Concurrent resumes (operator retry, overlapping cron) can append
    // the same shard twice: identical re-appends (same input_hash over
    // the same rows) dedupe to one harmlessly; a shard appearing with
    // DIVERGING hashes means the input changed between appends and the
    // merged counts would be silently wrong — reject loudly. One driver
    // collect of one row per partial: at most the sum of the per-source
    // shard counts per append (25,600 rows at 100 sources x 256 salts).
    val lineage = partials.select(col("source"), col("salt"), col("input_hash")).collect()
    // null-safe shard key: the null source is a shard like any other
    val hashesByShard = lineage.groupMap(r => (Option(r.getString(0)), r.get(1)))(_.get(2))
    val conflicted = hashesByShard.collect {
      case ((source, salt), hashes) if hashes.distinct.length > 1 =>
        s"[${source.orNull},$salt]"
    }.take(5)
    require(conflicted.isEmpty,
      s"checkpoint at $checkpointDir holds shards with DIVERGING input " +
      s"hashes (input changed between appends?): ${conflicted.mkString(", ")} — " +
      "the merged counts would silently double; rebuild from a fresh dir")
    // the dedupe shuffle only when some shard was appended twice
    val uniq =
      if (hashesByShard.size == lineage.length) partials
      else partials.dropDuplicates("source", "salt", "input_hash")
    uniq.groupBy(col("source"))
      .agg(
        call_function(s"${build.kind.fn}_merge_agg",
          col("sketch_bytes")).as("sketch_bytes"),
        sum(col("n_rows")).as("n_rows"),
        sum(col("n_tokens")).as("n_tokens"))
  }
}
