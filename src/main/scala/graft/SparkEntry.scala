package graft

import graft.ops.{AnnOps, DedupOps, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator family from SURVEY.md §2 has at least one query here and
  * almost every query carries an exact DuckDB oracle in [[oracleSql]]:
  * exact-mode results (CQF lookups/enumeration/zip/set-ops/set_count,
  * heavy hitters and near-dup pairs with exact recheck, dedup, text
  * metrics, media header decode, joins, windows) reproduce bit-identically
  * in DuckDB; intrinsically approximate estimators (HLL, CMS, t-digest,
  * KLL) are oracled through the bound-check pattern — the query computes
  * the exact answer AND a boolean asserting the estimate sits inside its
  * published error bound, and the oracle reproduces the exact answer with
  * a literal TRUE, so a broken estimator still fails the compare. The two
  * deliberately-lossy ANN variants (ivf nProbe < nCells, multi-table LSH)
  * are oracled the same way — in-query recall@k against the brute-force
  * top-k with a threshold chosen with margin below the observed recall at
  * every gate SF — and the exhaustive IVF variant (nProbe = nCells)
  * hash-matches the brute-force oracle exactly.
  */
object SparkEntry {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    GraftFunctions.registerAll(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Rebalanced fixture read for EXPRESSION-HEAVY map sides only
    * (optimization guide §2.5, "unsplittable input — repartition right
    * after the read"): the gate fixtures are single-file
    * single-ROW-GROUP parquet, so a scan plans as ONE task and every
    * map-side pass ran single-threaded regardless of core count. For
    * operators whose per-row work dwarfs a row's shuffle cost (shingle
    * hashing, 64-hash minhash signatures, simhash, hyperplane LSH
    * banding, per-doc text metrics) [[graft.ops.TextOps.rebalanced]]
    * round-robins the rows across the cluster once — measured 1.5-2x
    * per query here. Deliberately NOT the default: for cheap-agg
    * queries (sketch partials over lineitem) the partial-agg-in-scan-
    * stage is cheaper than shuffling the raw rows (measured 0.3 s ->
    * 0.7 s on cqf_count_by_flag), and multi-action state pipelines
    * (IVF build/append) would pay the extra shuffle once per driver
    * action. At production scale the scan has >= slots splits and
    * rebalanced() adds nothing (no exchange). */
  private def tb(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.TextOps.rebalanced(t(spark, dir, name))

  /** Fixture table `name` opened as a stream: the file source wants a
    * directory, so it streams the sf dir under the table's schema with a
    * glob filter selecting just the table's file. */
  private def streamOf(spark: SparkSession, dir: String, name: String): DataFrame =
    streamOf(t(spark, dir, name), dir, name)

  /** [[streamOf]] under the schema of `static`, the table's batch read: a
    * query that reads the table both ways infers its schema once. */
  private def streamOf(static: DataFrame, dir: String, name: String): DataFrame =
    static.sparkSession.readStream.schema(static.schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)

  /** Run a streaming frame to the memory sink `name` under AvailableNow
    * (one pass over the files present) and return the sink's table. */
  private def toMemory(stream: DataFrame, name: String, outputMode: String): DataFrame = {
    stream.writeStream.format("memory").queryName(name).outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start().awaitTermination()
    stream.sparkSession.table(name)
  }

  /** Materialize a state query's (small) result, then delete the
    * throwaway state dir it read: bench reps and plan audits re-execute
    * the query, and each run would otherwise leak a store under
    * java.io.tmpdir. */
  private def collectThenDelete(result: DataFrame, stateDir: String): DataFrame = {
    val rows = result.collect()
    graft.util.ParquetState.deleteRecursively(new java.io.File(stateDir))
    result.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** The IVF gate queries' serve: top-3 of the first 10 embeddings from
    * the index at `idx`, probing all of its 16 cells. */
  private def servedTopK(s: SparkSession, idx: String, emb: DataFrame): DataFrame =
    AnnOps.ivfTopKFromIndex(s, idx, emb.where(col("vec_id") < 10), col("vec_id"),
        col("embedding"), k = 3, nProbe = 16)
      .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("cqf_count_by_flag")(spark, "/root/testdata/sf0.001")

  /** Queries that EXECUTE work on construction (multi-batch state
    * pipelines that ingest into a temp store before returning the
    * result frame) — like the streaming_ shapes, they cannot be
    * analyzed without running; ContractSpec's analyze-only loop skips
    * them (they are covered by the gate + their own specs).
    *
    * Membership is declared AT THE QUERY DEFINITION SITE via the
    * [[eager]] wrapper, never in a separate hand-kept list — a separate
    * list drifts exactly the way the pre-r5 streaming enumeration
    * drifted 4 shapes behind, silently turning the analyze-only
    * contract test into full state-building runs. */
  lazy val eagerStateQueries: Set[String] = {
    require(queries.nonEmpty) // force the map so every eager() has registered
    eagerNames.toSet
  }
  private val eagerNames = scala.collection.mutable.Set[String]()
  private def eager(name: String)(fn: (SparkSession, String) => DataFrame)
      : (String, (SparkSession, String) => DataFrame) = {
    eagerNames += name
    name -> fn
  }

  /** table_profile's sketch pass, pre-materialization: every family's
    * summary for the profiled columns built side by side in ONE fact
    * scan. Exposed (package-private) because the query immediately
    * localCheckpoints the 1-row result, which hides this plan from the
    * final query's explain — PlanGuardSpec asserts the single-scan
    * Expand-free ObjectHashAggregate shape on THIS frame. */
  private[graft] def tableProfileSketchPass(li: DataFrame): DataFrame =
    graft.ops.ProfileOps.profile(li, graft.ops.ProfileOps.ProfileSpec(
        idCols = Seq("l_partkey"), numCols = Seq("l_extendedprice"),
        catCols = Seq("l_returnflag"), hllP = 14, kllK = 256, ssK = 16))
      .select(col("n_rows"),
        col("l_extendedprice_nulls").as("price_nulls"),
        col("l_extendedprice_min").as("price_min"),
        col("l_extendedprice_max").as("price_max"),
        api.hll_estimate(col("l_partkey_hll")).as("pk_est"),
        api.kll_quantile(col("l_extendedprice_kll"), lit(0.5)).as("e50"),
        api.kll_quantile(col("l_extendedprice_kll"), lit(0.95)).as("e95"),
        col("l_returnflag_ss").as("flag_ss"))

  /** Heavy-hitter tail shared by the cms/ss/streaming variants: "every
    * key at least as frequent as the rank-K key" (K=15, ties included).
    * The threshold is DATA-DERIVED — the exact count of the K-th most
    * frequent candidate — so the query returns non-empty, assertion-
    * bearing output at every SF (a fixed n/1333 fraction passed
    * trivially with 0 rows at sf0.1, where per-key counts stay ~flat
    * while n grows 100x).
    *
    * Shape: ONE summary pass (`skN` must carry `ss`; k=32768 at the
    * gate call sites — sized for the sf1-class rehearsal domain of 10k
    * near-uniform suppkeys, where k=8192 correctly tripped this very
    * assert: offset ~ n/k crossed the flat rank-15 threshold) gives the
    * top-M=256 candidate pool by upper bound; the (M+1)-th entry is
    * fetched only as the completeness WITNESS — every key outside the
    * pool has exact <= cutoff = max(offset, ub_{M+1}), so asserting
    * cutoff < thresh in-query proves no true heavy hitter was missed
    * (k too small or a flat distribution must FAIL LOUDLY, not return a
    * silently-divergent answer). The 256 candidates broadcast into the
    * exact recheck — never a distinct-all-keys scan — and the rank-K
    * count comes from a window over that <=256-row counted table. NOTE:
    * this is the one deliberately UNPARTITIONED Window in the library —
    * WindowExec logs "No Partition Defined ... single partition" on
    * every heavy-hitter query, and that is safe BY DESIGN: the window's
    * input is the post-aggregation candidate-count table, bounded by
    * the M=256 summary pool at any corpus scale, never the fact table
    * (PlanGuardSpec pins the shape structurally so the warning needs no
    * re-audit). `dispose` is an optional final-stage predicate (the
    * CMS variant's overestimate law) over (l_partkey, cnt, thresh) plus
    * any `carry` columns cross-joined from the 1-row skN. */
  private def heavyHittersFromSummary(fact: DataFrame, skN: DataFrame,
      queryName: String, dispose: Option[Column] = None,
      carry: Seq[String] = Nil, keyCol: String = "l_suppkey",
      outKey: String = "suppkey", stringKeys: Boolean = false): DataFrame = {
    val K = 15
    val M = 256
    // materialize the 1-row summary ONCE (the table_profile pattern):
    // it feeds the candidate pool, the cutoff witness, and the carry
    // columns — without this the plan re-runs the full summary scan for
    // each consumer (4 fact scans instead of 2)
    val sk1 = skN.localCheckpoint()
    val entries = sk1.select(
      posexplode(api.ss_topk(col("ss"), M + 1)).as(Seq("rank", "e")),
      api.ss_offset(col("ss")).as("off"))
    // keys absent from the summary have exact <= offset; summary keys
    // outside the top-M have exact <= ub <= ub_{M+1} (lb ordering == ub
    // ordering: ub - lb is the uniform offset)
    val cutoff = entries.agg(
      greatest(coalesce(max(when(col("rank") === M, col("e.ub"))), lit(0L)),
        max(col("off"))).as("cutoff"))
    // string-keyed summaries surface the original key in key_str
    // (the canonical long is the byte fold — joinable only by hash)
    val candidates = entries.where(col("rank") < M)
      .select((if (stringKeys) col("e.key_str") else col("e.key")).as(keyCol))
    val counted = fact.join(broadcast(candidates), Seq(keyCol))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))
    // rank-K exact count among candidates == the global rank-K count
    // whenever cutoff < thresh (asserted below): no non-candidate can
    // out-count a candidate past the threshold
    val wAll = Window.orderBy(col("cnt").desc, col(keyCol))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withThresh = counted.withColumn("thresh",
      coalesce(nth_value(col("cnt"), K).over(wAll), min(col("cnt")).over(wAll)))
    val base = withThresh.crossJoin(broadcast(cutoff))
    val withCarry =
      if (carry.isEmpty) base
      else base.crossJoin(broadcast(sk1.select(carry.map(col): _*)))
    withCarry
      .where(assert_true(col("cutoff") < col("thresh"), lit(
          s"$queryName: candidate-pool cutoff >= rank-$K threshold; raise M or k")).isNull &&
        col("cnt") >= col("thresh") && dispose.getOrElse(lit(true)))
      .select(col(keyCol).as(outKey), col("cnt"))
  }

  // ------------------------------------------------------------------
  // Queries
  // ------------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- CQF family (exact mode: invertible Wang hash, 64 hash bits) ----
    "cqf_count_by_flag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sk = li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 12, 64).as("sk"))
      sk.crossJoin(broadcast(s.range(0, 10).select(col("id").as("suppkey"))))
        .select(col("l_returnflag"), col("suppkey"),
          api.cqf_count(col("sk"), col("suppkey")).as("cnt"))
        .where(col("cnt") > 0)
    }),

    "cqf_items_by_flag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 12, 64).as("sk"))
        .select(col("l_returnflag"), api.cqf_items(col("sk")).as(Seq("hash", "key", "count")))
        .select(col("l_returnflag"), col("key").as("suppkey"), col("count").as("cnt"))
    }),

    "cqf_merge_two_stage" -> ((s, dir) => {
      // two-level build: per-(flag, salt) partials, kernel-merged per flag —
      // the skew pattern for hot groups at cluster scale
      val li = t(s, dir, "lineitem")
      li.withColumn("salt", pmod(hash(col("l_orderkey")), lit(16)))
        .groupBy(col("l_returnflag"), col("salt"))
        .agg(api.cqf_agg(col("l_suppkey"), 10, 64).as("partial"))
        .groupBy(col("l_returnflag"))
        .agg(api.cqf_merge_agg(col("partial")).as("sk"))
        .select(col("l_returnflag"),
          api.cqf_total(col("sk")).as("total_items"),
          api.cqf_distinct(col("sk")).as("distinct_suppkeys"))
    }),

    "cqf_setops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def skFor(flag: String) = li.where(col("l_returnflag") === flag)
        .agg(api.cqf_agg(col("l_partkey"), 12, 64).as(s"sk_$flag"))
      // each set-op result is bound once in its own projection (expensive
      // aliases used more than once are not inlined by CollapseProject),
      // so union/intersect/diff each run once per row, not per probe
      skFor("R").crossJoin(skFor("A"))
        .withColumn("u", api.cqf_union(col("sk_R"), col("sk_A")))
        .withColumn("i", api.cqf_intersect(col("sk_R"), col("sk_A")))
        .withColumn("d", api.cqf_diff(col("sk_R"), col("sk_A")))
        .select(
          api.cqf_distinct(col("u")).as("union_distinct"),
          api.cqf_total(col("u")).as("union_total"),
          api.cqf_total(api.cqf_union(col("sk_R"), col("sk_A"), "max")).as("maxu_total"),
          api.cqf_distinct(col("i")).as("inter_distinct"),
          api.cqf_total(col("i")).as("inter_total"),
          api.cqf_distinct(col("d")).as("diff_distinct"),
          api.cqf_total(col("d")).as("diff_total"),
          // named combiners (the reference's closure merge_by as SQL
          // modes — round 4): satsub must equal the diff kernel,
          // replace takes the right side's count where present,
          // absdiff the symmetric difference of multiplicities
          api.cqf_total(api.cqf_union(col("sk_R"), col("sk_A"), "satsub")).as("satsub_total"),
          api.cqf_total(api.cqf_union(col("sk_R"), col("sk_A"), "replace")).as("replace_total"),
          api.cqf_total(api.cqf_union(col("sk_R"), col("sk_A"), "absdiff")).as("absdiff_total"))
    }),

    "cqf_intersect_by_bucket" -> ((s, dir) => {
      // row-heavy binary set-op: ONE sketch per order-bucket (~10k rows at
      // sf0.01) each intersected with a single broadcast reference sketch.
      // Exercises the two-slot operand cache: the reference side parses
      // once per task (content-equality hit), not once per row, and the
      // intersect runs inside whole-stage codegen (no CodegenFallback)
      val li = t(s, dir, "lineitem")
      val ref = li.where(col("l_returnflag") === "R")
        .agg(api.cqf_agg(col("l_suppkey"), 10, 64).as("ref_sk"))
      val buckets = li.groupBy(pmod(col("l_orderkey"), lit(16384)).as("bucket"))
        .agg(api.cqf_agg(col("l_suppkey"), 6, 64).as("sk"))
      buckets.crossJoin(broadcast(ref))
        .withColumn("x", api.cqf_intersect(col("sk"), col("ref_sk")))
        .select(col("bucket"),
          api.cqf_distinct(col("x")).as("common_suppkeys"),
          api.cqf_total(col("x")).as("min_total"))
    }),

    "cqf_zip_flags" -> ((s, dir) => {
      // aligned enumeration of two sketches — the reference's ZippedCqfIter
      // as a first-class UDTF (sketch-vs-sketch per-key count comparison)
      val li = t(s, dir, "lineitem")
      def skFor(flag: String) = li.where(col("l_returnflag") === flag)
        .agg(api.cqf_agg(col("l_suppkey"), 12, 64).as(s"sk_$flag"))
      skFor("R").crossJoin(skFor("A"))
        .select(api.cqf_zip_items(col("sk_R"), col("sk_A"))
          .as(Seq("hash", "key", "count_a", "count_b")))
        .select(col("key").as("suppkey"),
          col("count_a").as("cnt_r"), col("count_b").as("cnt_a"))
    }),

    "ref_layout_roundtrip" -> ((s, dir) => {
      // reference-engine interop surface: per-group sketches serialized
      // into the reference's exact Metadata‖Blocks byte image and parsed
      // back must carry identical content (cross-implementation byte
      // goldens live in RefLayoutSpec; this keeps the SQL surface oracled)
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 10, 64).as("sk"))
        .withColumn("rt", api.cqf_from_ref(api.cqf_to_ref(col("sk"))))
        .select(col("l_returnflag"),
          api.cqf_distinct(col("rt")).as("distinct_suppkeys"),
          api.cqf_total(col("rt")).as("total_rows"),
          (api.cqf_count(col("rt"), lit(7L)) ===
            api.cqf_count(col("sk"), lit(7L))).as("probe_eq"))
    }),

    "cqf_set_count_probe" -> ((s, dir) => {
      // set_count end-to-end: overwrite (12345), then true deletion (0);
      // neighbors and distinct counts must be unaffected / decremented
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 12, 64).as("sk"))
        .withColumn("sk2", api.cqf_set_count(col("sk"), lit(7L), lit(12345L)))
        .withColumn("sk3", api.cqf_set_count(col("sk2"), lit(7L), lit(0L)))
        .select(col("l_returnflag"),
          api.cqf_count(col("sk"), lit(7L)).as("before_cnt"),
          api.cqf_count(col("sk2"), lit(7L)).as("set_cnt"),
          api.cqf_total(col("sk2")).as("set_total"),
          api.cqf_count(col("sk3"), lit(7L)).as("deleted_cnt"),
          api.cqf_count(col("sk3"), lit(8L)).as("neighbor_cnt"),
          api.cqf_distinct(col("sk3")).as("distinct_after_del"))
    }),

    "sketch_state_metrics" -> ((s, dir) => {
      // kind-agnostic sketch_meta over all eight families built in ONE
      // aggregation pass: exact fields (cqf n/distinct, cms/kll/td n)
      // reproduce in DuckDB; per-kind load and published-error-bound
      // fields are asserted as in-query booleans (bound-check pattern).
      // This is the monitoring surface checkpointed builds attach to
      // every partial (BuildSketches sketch_state column).
      val li = t(s, dir, "lineitem")
      // exact_distinct lives in its OWN aggregation: a DISTINCT mixed
      // into the sketch aggregation makes Spark plan the distinct-Expand
      // shape, whose stage 1 groups by l_partkey — every sketch family
      // then allocates a buffer PER DISTINCT KEY (~200k x 6 at sf0.1)
      // before the merge. Split, it is one cheap codegen'd hash pass
      // cross-joined onto the single sketch row.
      val base = li.agg(
          api.cqf_agg(col("l_partkey"), 12, 64).as("sk_cqf"),
          api.hll_agg(col("l_partkey"), 12).as("sk_hll"),
          api.cms_agg(col("l_partkey"), 5, 2048).as("sk_cms"),
          // 2^22 bits (512 KB): keeps fpp meaningfully inside (0,1) up
          // to the sf1-class domain (~2M distinct partkeys); 2^16
          // saturated at sf1 (fpp -> 1.0, err_ok false)
          api.bloom_agg(col("l_partkey"), 1L << 22, 5).as("sk_bloom"),
          api.td_agg(col("l_quantity"), 100.0).as("sk_td"),
          api.kll_agg(col("l_quantity"), 200).as("sk_kll"),
          api.ss_agg(col("l_partkey"), 4096).as("sk_ss"),
          api.kmv_agg(col("l_partkey"), 1024).as("sk_kmv"))
        .crossJoin(li.agg(countDistinct(col("l_partkey")).as("exact_distinct")))
      def m(kind: String) = col(s"m_$kind")
      val withMeta = Seq("cqf", "hll", "cms", "bloom", "td", "kll", "ss", "kmv")
        .foldLeft(base)((df, k) =>
          df.withColumn(s"m_$k", api.sketch_meta(col(s"sk_$k"))))
      def inUnit(c: Column) = c > lit(0.0) && c <= lit(1.0)
      def near(c: Column, v: Double) = abs(c - lit(v)) < lit(1e-12)
      // one row per kind via ONE exploded array of structs — a union of
      // per-kind selects would re-execute the whole 6-sketch aggregation
      // per branch (column pruning gives each branch a different
      // aggregate, so exchange reuse cannot deduplicate them)
      def row(kind: String, meta: Column, metaDistinct: Column,
          hllOk: Column, loadOk: Column, errOk: Column) =
        struct(lit(kind).as("kind"),
          meta.getField("n").as("meta_n"),
          metaDistinct.cast("long").as("meta_distinct"),
          hllOk.as("hll_est_ok"), loadOk.as("load_ok"), errOk.as("err_ok"))
      withMeta.select(explode(array(
        row("cqf", m("cqf"), m("cqf").getField("distinct"), lit(true),
          inUnit(m("cqf").getField("load")),
          m("cqf").getField("err_bound") === lit(0.0)), // invertible = exact
        row("hll", m("hll"), lit(-1L),
          // estimate within 3 relative standard errors of exact
          abs(m("hll").getField("distinct") - col("exact_distinct")) <=
            lit(3 * 1.04 / 64.0) * col("exact_distinct"),
          inUnit(m("hll").getField("load")),
          near(m("hll").getField("err_bound"), 1.04 / 64.0)), // p=12: 1.04/sqrt(4096)
        row("cms", m("cms"), m("cms").getField("distinct"), lit(true),
          inUnit(m("cms").getField("load")),
          near(m("cms").getField("err_bound"), math.E / 2048.0)),
        row("bloom", m("bloom"), m("bloom").getField("distinct"), lit(true),
          inUnit(m("bloom").getField("load")),
          m("bloom").getField("err_bound") > lit(0.0) &&
            m("bloom").getField("err_bound") < lit(1.0)),
        row("td", m("td"), m("td").getField("distinct"), lit(true),
          m("td").getField("load") > lit(0.0) && m("td").getField("load") <= lit(2.0),
          isnan(m("td").getField("err_bound"))), // t-digest: no closed-form bound
        row("kll", m("kll"), m("kll").getField("distinct"), lit(true),
          inUnit(m("kll").getField("load")),
          near(m("kll").getField("err_bound"), 1.33 / 200.0)),
        // frequent-items (7th family, round 4): n is the exact total;
        // err_bound is offset/total, bounded by the published 2/k
        row("ss", m("ss"), m("ss").getField("distinct"), lit(true),
          inUnit(m("ss").getField("load")),
          m("ss").getField("err_bound") >= lit(0.0) &&
            m("ss").getField("err_bound") <= lit(2.0 / 4096.0)),
        // kmv (8th family, round 4): distinct is exact below k=1024
        // retained keys (err_bound 0), else the (k-1)/u_k estimate
        // within 4 RSE of exact; load = retained/k
        row("kmv", m("kmv"), lit(-1L),
          (m("kmv").getField("err_bound") === lit(0.0) &&
            m("kmv").getField("distinct") === col("exact_distinct")) ||
          (m("kmv").getField("err_bound") > lit(0.0) &&
            abs(m("kmv").getField("distinct") - col("exact_distinct")) <=
              lit(4.0) * m("kmv").getField("err_bound") * col("exact_distinct")),
          inUnit(m("kmv").getField("load")),
          m("kmv").getField("err_bound") === lit(0.0) ||
            near(m("kmv").getField("err_bound"), 1.0 / math.sqrt(1022.0))))).as("r"))
        .select(col("r.*"))
    }),

    "cqf_string_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val words = Seq("data", "table", "the", "spark")
      val sk = docs.groupBy(col("lang"))
        .agg(api.cqf_agg(TextOps.tokens(col("text")), 8, 64).as("sk"))
      val probes = words.asDf(s)("word")
      sk.crossJoin(broadcast(probes))
        .select(col("lang"), col("word"),
          api.cqf_count(col("sk"), col("word")).as("cnt"))
        .where(col("cnt") > 0)
    }),

    "cqf_multiplicity_hist" -> ((s, dir) => {
      // whole-table CQF over l_partkey, enumerated into a multiplicity
      // histogram: how many keys occur exactly cnt times
      val li = t(s, dir, "lineitem")
      li.agg(api.cqf_agg(col("l_partkey"), 12, 64).as("sk"))
        .select(api.cqf_items(col("sk")).as(Seq("hash", "key", "count")))
        .groupBy(col("count").as("cnt"))
        .agg(count(lit(1)).as("n_keys"))
    }),

    "streaming_distinct_users" -> ((s, dir) => {
      // Structured Streaming surface: the same mergeable aggregate under
      // an incremental plan (AvailableNow over the file source, complete
      // mode) — results must equal the batch/DuckDB answer exactly
      toMemory(streamOf(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(api.cqf_agg(col("user_id"), 12, 64).as("sk"))
        .select(col("event_type"), api.cqf_distinct(col("sk")).as("distinct_users")),
        "graft_stream_distinct", "complete")
    }),

    "streaming_windowed_distinct" -> ((s, dir) => {
      // event-time tumbling windows over the stream: exact distinct per
      // (day, event_type); complete mode so every window is emitted and
      // the result equals the batch/DuckDB date_trunc answer
      toMemory(streamOf(s, dir, "events")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(api.cqf_agg(col("user_id"), 10, 64).as("sk"))
        .select(col("window.start").as("window_start"), col("event_type"),
          api.cqf_distinct(col("sk")).as("distinct_users")),
        "graft_stream_windowed", "complete")
    }),

    "streaming_append_windowed" -> ((s, dir) => {
      // watermarked APPEND-mode streaming: only windows the watermark has
      // closed are emitted, and each exactly once — the long-running-
      // stream shape (complete mode re-emits all state per trigger and
      // cannot survive an unbounded stream). With AvailableNow the final
      // no-data batch advances the watermark to max(ts) - delay and
      // flushes every closed window; the last (still-open) day stays in
      // state and is NOT emitted, which the oracle reproduces.
      val src = streamOf(s, dir, "events")
        // watermarks require TIMESTAMP; the table stores TIMESTAMP_NTZ.
        // The session timezone is pinned to UTC (Verify/Bench builders),
        // so the cast out and back is wall-value identity
        .withColumn("ts", col("ts").cast("timestamp"))
      val agg = graft.streaming.StreamingSketch.windowedAgg(
        src, col("ts"), "1 hour", "1 day",
        Seq(col("event_type")), api.cqf_agg(col("user_id"), 10, 64))
      toMemory(agg
        .select(col("window.start").cast("timestamp_ntz").as("window_start"),
          col("event_type"),
          api.cqf_distinct(col("sketch")).as("distinct_users")),
        "graft_stream_append", "append")
    }),

    "streaming_stateful_distinct" -> ((s, dir) => {
      // custom state lifecycle surface: a serialized CQF kernel as
      // explicit mapGroupsWithState state (the checkpoint byte format IS
      // the state format), emitting (key, distinct, total) per update.
      // AvailableNow over the single events file = one batch, so update
      // mode emits exactly one final row per key — exactly oracle-able
      import s.implicits._
      val src = streamOf(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long"))
        .as[(String, Long)]
        .map { case (k, u) => (k, Array(u)) }
      toMemory(src.groupByKey(_._1)
        .mapGroupsWithState(
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
          graft.streaming.StreamingSketch.cqfStateFn(10))
        .toDF("event_type", "distinct_users", "n_events"),
        "graft_stream_state", "update")
    }),

    // streaming heavy hitters (6th streaming shape, round 4): the
    // frequent-items summary built INCREMENTALLY by the streaming engine
    // (global complete-mode aggregation, AvailableNow), candidates
    // exploded from the final snapshot with the in-query completeness
    // proof (offset < thresh), then the batch exact recheck — identical
    // final rows to the batch ss_heavy_hitters / its DuckDB oracle, so
    // incremental construction is gated end-to-end exact.
    "streaming_heavy_hitters" -> ((s, dir) => {
      val summary = toMemory(streamOf(s, dir, "lineitem")
        .groupBy()
        .agg(api.ss_agg(col("l_suppkey"), 32768).as("ss"), count(lit(1)).as("n")),
        "graft_stream_hh", "complete")
      heavyHittersFromSummary(t(s, dir, "lineitem"), summary, "streaming_heavy_hitters")
    }),

    "streaming_dedup_first_seen" -> ((s, dir) => {
      // streaming ingestion dedup as a stateful stream — the continuous
      // form of dedup_exact_fingerprint. State per 64-bit content
      // fingerprint is (kept_id, n_dups) — 16 bytes per distinct
      // content, never the text. The canonical winner is min(doc_id),
      // the SAME convention as the batch exactDedup and
      // batch-order-independent (literal first-arrival would depend on
      // how a reprocessed stream batches); across batches a smaller id
      // re-emits its fp row with the new winner, superseding by fp.
      // AvailableNow over the single documents file = one batch, so
      // update mode emits exactly one final row per distinct content,
      // equal to the batch/DuckDB answer.
      import s.implicits._
      val src = streamOf(s, dir, "documents")
        .select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
        .as[(Long, Long)]
      // the fp key rides the update-mode rows so multi-batch consumers
      // can supersede by it; the oracle compares the value columns
      toMemory(src.groupByKey(_._1)
        .mapGroupsWithState(
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout())(
          graft.streaming.StreamingSketch.dedupStateFn())
        .toDF("fp", "kept_id", "n_dups"),
        "graft_stream_dedup", "update").select(col("kept_id"), col("n_dups"))
    }),

    "streaming_decontamination" -> ((s, dir) => {
      // stream-static join (8th streaming shape): the corpus arrives as
      // a STREAM while the benchmark/eval gram set is STATIC — ingest-
      // time decontamination, the continuous form of
      // benchmark_decontamination. The SAME DedupOps.contamination
      // operator runs unchanged on the streaming frame: the bench grams
      // collapse and broadcast once, the stream side is a stateless
      // map-only explode whose rows die at the join unless contaminated,
      // and only the per-doc matched-gram count is stateful (update
      // mode; state is one counter per CONTAMINATED doc, not per doc).
      // AvailableNow over the single file = one batch, so update mode
      // emits exactly the batch answer
      val docs = t(s, dir, "documents")
      val src = streamOf(docs, dir, "documents")
        .where(pmod(col("doc_id"), lit(97)) =!= 0)
      val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      toMemory(graft.ops.DedupOps.contamination(
          src, col("doc_id"), col("text"), bench, col("text"), k = 3),
        "graft_stream_decontam", "update")
    }),

    "streaming_sessionization" -> ((s, dir) => {
      // session windows as a STREAM (7th streaming shape): the continuous
      // form of the batch sessionization operator. The engine keeps one
      // state row per OPEN session; the 1-hour watermark bounds that
      // state and emits each closed session exactly once (append mode).
      // A sketch aggregate rides inside the session (distinct event types
      // via CQF) — mergeable state composes with session merging. With
      // AvailableNow the final no-data batch advances the watermark to
      // max(ts) - 1h and flushes every session whose end (last event +
      // gap) it passed; still-open sessions stay in state, which the
      // oracle reproduces. Boundary convention matches the batch
      // operator: session_window merges on touch, so diff == gap stays
      // in-session and only diff > gap splits — the oracle replays
      // exactly the batch gap rule.
      val src = streamOf(s, dir, "events")
        // watermarks require TIMESTAMP; session TZ is pinned UTC so the
        // cast out of NTZ and back is wall-value identity
        .where(col("ts").isNotNull)
        .withColumn("ts", col("ts").cast("timestamp"))
      toMemory(graft.streaming.StreamingSketch.sessionWindowAgg(
        src, col("ts"), "1 hour", "30 minutes", col("user_id"),
        Seq(api.cqf_agg(col("event_type"), 8, 64).as("sk"),
          count(lit(1)).as("n_events")))
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("session_window.end").cast("timestamp_ntz").as("session_end"),
          api.cqf_distinct(col("sk")).as("distinct_event_types"),
          col("n_events")),
        "graft_stream_sessions", "append")
    }),

    "streaming_dedup_incremental" -> ((s, dir) => {
      // streaming front end for the growing-corpus dedup (9th streaming
      // shape): Structured Streaming drives IncrementalDedup from
      // foreachBatch with the epoch id as the batch id, so the engine's
      // replay-on-restart contract COMPOSES with the store's commit
      // markers — a replayed epoch re-runs as a no-op or completes a
      // half-ingested batch from the store (mid-stream kill/resume
      // pinned in StreamingIncrementalDedupSpec). Three single-file
      // micro-batches (maxFilesPerTrigger=1) over a deterministic 3-way
      // split of the documents table; the accumulated pair store must
      // hash-match the SAME from-scratch all-pairs oracle as
      // dedup_incremental — the batch-composition law, now with the
      // engine choosing the batches.
      val docs = t(s, dir, "documents")
      val work = java.nio.file.Files
        .createTempDirectory("graft_sinc_dedup").toString
      val src = s"$work/src"
      new java.io.File(src).mkdirs()
      (0 until 3).foreach { b =>
        graft.util.ParquetState.writeSingleFile(
          docs.where(pmod(col("doc_id"), lit(3)) === b),
          s"$src/batch_$b.parquet")
      }
      val state = s"$work/state"
      val cfg = graft.ops.IncrementalDedup.Config(
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      val q = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          graft.ops.IncrementalDedup.run(s, df,
            TextOps.tokens(col("text")), col("doc_id"), state,
            s"epoch_$epochId", cfg)
          ()
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      collectThenDelete(graft.ops.IncrementalDedup.allPairs(s, state), work)
    }),

    "benchmark_decontamination" -> ((s, dir) => {
      // pre-training hygiene: corpus docs sharing any word 3-gram with
      // the (deterministic pseudo) eval set doc_id % 97 == 0. Benchmark
      // grams broadcast; corpus grams are a map-only explode that dies
      // at the join unless contaminated — the only shuffle carries
      // matched grams. Grams compare as STRINGS (no hashing), so the
      // DuckDB oracle replays the operator exactly
      val docs = tb(s, dir, "documents")
      graft.ops.DedupOps.contamination(
        docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        col("doc_id"), col("text"),
        docs.where(pmod(col("doc_id"), lit(97)) === 0), col("text"), k = 3)
    }),

    "corpus_mixture_sample" -> ((s, dir) => {
      // training-recipe corpus mixing: per-source deterministic keep
      // rates (100% / 30% / 5% / default 50%) decided by the seeded key
      // hash — append-stable and engine-agnostic like train_test_split;
      // seed=7 exercises the xor-decorrelation path in the oracle replay
      GraftFunctions.registerAll(s)
      val docs = t(s, dir, "documents")
      docs.select(col("source"), col("doc_id"),
          graft.ops.SplitOps.mixtureSample(col("doc_id"), col("source"),
            Map("src0" -> 1.0, "src1" -> 0.3, "src2" -> 0.05),
            defaultFraction = 0.5, seed = 7L).as("keep"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(expr("bit_xor(CASE WHEN keep THEN doc_id END)"), lit(0L))
            .as("kept_checksum"))
    }),

    "train_test_split" -> ((s, dir) => {
      // deterministic, engine-agnostic dataset splitting: label and
      // sample decisions are pure functions of the key through the
      // library's Wang mix, so the DuckDB oracle replays the ENTIRE
      // 64-bit hash chain in HUGEINT arithmetic and the per-split id
      // checksums must agree bit-for-bit — proving the split is
      // reproducible across engines (and hence across cluster sizes,
      // partitionings, and corpus growth). Map-only at any scale.
      GraftFunctions.registerAll(s)
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          graft.ops.SplitOps.splitLabel(col("doc_id"),
            Seq("train" -> 98, "valid" -> 1, "test" -> 1)).as("split"),
          graft.ops.SplitOps.hashSample(col("doc_id"), 0.10).as("sampled"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(doc_id)").as("id_checksum"),
          sum(when(col("sampled"), 1L).otherwise(0L)).as("n_sampled"))
    }),

    "bpeish_token_counts" -> ((s, dir) => {
      // both token-counting conventions per source: whitespace tokens
      // (the corpus-size denominator) and the BPE-ish count (words +
      // digit runs + punctuation runs — the cheap proxy for byte-pair
      // tokenizer budgets). Map-only expressions into one partial-agg
      // groupBy; regex semantics (\w, \s, kept trailing empties) agree
      // between engines, so the oracle replays both rules exactly
      val docs = t(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text")).cast("long"))
            .as("ws_tokens"),
          sum(TextOps.bpeishTokenCount(col("text")).cast("long"))
            .as("bpeish_tokens"))
    }),

    "leakage_safe_split" -> ((s, dir) => {
      // near-dup-leakage-safe dataset split: the split key is the dedup
      // CLUSTER (connected component of exact-Jaccard >= 0.8 pairs), not
      // the row id, so near-copies land on ONE side of train/test BY
      // CONSTRUCTION (same component -> same hash -> same label) — the
      // standard fix for eval contamination via paraphrase/near-dup
      // leakage. Composition: ngramJaccardPairs -> connectedComponents
      // -> splitLabel(component); singleton docs are their own cluster.
      // n_clusters (exact distinct components per split) pins that the
      // component labels themselves replay engine-exact, not just the
      // per-doc assignment
      GraftFunctions.registerAll(s)
      val docs = tb(s, dir, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          Seq(col("lang"), expr("n_chars div 32")), k = 3)
        .where(col("uni") > 0 && expr("(inter * 10) div uni") >= 8)
        .select(col("id_a"), col("id_b"))
      val nodes = docs.select(col("doc_id").as("id"))
      DedupOps.connectedComponents(nodes, pairs)
        .select(col("id"), col("component"),
          graft.ops.SplitOps.splitLabel(col("component"),
            Seq("train" -> 98, "valid" -> 1, "test" -> 1)).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          expr("bit_xor(id)").as("id_checksum"),
          countDistinct(col("component")).as("n_clusters"))
    }),

    "source_cap_sample" -> ((s, dir) => {
      // stratified per-source capping ("at most 15 docs per source") by
      // deterministic hash rank, in the bounded-shuffle form: per-group
      // counts broadcast back, rows enter the rank window only under the
      // margin*n/total hash threshold, so the window sort is O(margin*n)
      // per task no matter how hot a source — with the in-query
      // starvation guard asserting every source still supplies
      // min(n, total). The prefilter cannot change the answer, so the
      // DuckDB oracle replays the pure rank semantics (Wang chain +
      // row_number over (hash, id)) and checksums match bit-for-bit
      GraftFunctions.registerAll(s)
      val docs = t(s, dir, "documents")
      graft.ops.SplitOps.capPerGroupBounded(
          docs, col("doc_id"), col("source"), n = 15L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          expr("bit_xor(doc_id)").as("kept_checksum"))
    }),

    "training_recipe" -> ((s, dir) => {
      // the end-to-end pre-training data recipe, composed from the
      // library's stages in ONE declarative plan: Gopher-style quality +
      // repetition filters (map-only expression passes), eval-set
      // exclusion, exact dedup (min-id per content fingerprint, one
      // window exchange), 5-gram benchmark decontamination (eval grams
      // broadcast; the hit list — eval-adjacent, hence small — broadcast
      // back as an anti-join), then deterministic train/valid/test
      // labels and per-source mixture sampling (map-only hash
      // decisions) into one summary groupBy. Every stage decision is
      // integer-exact, so the DuckDB oracle replays the WHOLE recipe
      // and the per-(split, source) id checksums agree bit-for-bit —
      // the composition proof that the stages a 100 TB corpus build
      // needs chain inside one Spark plan with four shuffles total
      // (dedup window, bench-gram distinct, contamination gram count,
      // final groupBy). Dedup semantics: min-id per WHITESPACE-
      // NORMALIZED token sequence (what rolling_fingerprint encodes;
      // the oracle partitions by the normalized string — the library-
      // wide 64-bit no-collision assumption documented at
      // dedup_exact_fingerprint applies)
      GraftFunctions.registerAll(s)
      val docs = tb(s, dir, "documents")
      val qm = TextOps.qualityMetrics(col("text")).toMap
      val rm = TextOps.repetitionMetrics(col("text")).toMap
      val filtered = docs
        .where(pmod(col("doc_id"), lit(97)) =!= 0) // eval ids out of the corpus
        .where(qm("n_words").cast("long") >= 20 &&
          qm("stopword_permille").cast("long") >= 20 &&
          rm("top_bigram_permille").cast("long") < 100)
      // exact dedup among the filtered set: identical texts share all
      // filter decisions, so filtering commutes with the content groups
      val wFp = Window.partitionBy(TextOps.fingerprint(col("text")))
      val deduped = filtered
        .withColumn("min_id", min(col("doc_id")).over(wFp))
        .where(col("doc_id") === col("min_id")).drop("min_id")
      val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      // contamination status is CONTENT-determined, so the hit list is
      // computed over the pre-dedup filtered set: a kept id hits iff its
      // text shares a gram (extra hits on dropped duplicate ids are
      // no-ops in the anti-join below), and the decontamination branch
      // then re-runs only the map-side filter over a second scan instead
      // of replaying the dedup window's shuffle — one Window/exchange in
      // the whole plan, not two
      val hits = graft.ops.DedupOps.contamination(
        filtered, col("doc_id"), col("text"), bench, col("text"), k = 5)
      val clean = deduped.join(broadcast(hits.select(col("doc_id"))),
        Seq("doc_id"), "left_anti")
      clean.select(col("doc_id"), col("source"),
          TextOps.tokenCount(col("text")).cast("long").as("n_toks"),
          graft.ops.SplitOps.splitLabel(col("doc_id"),
            Seq("train" -> 98, "valid" -> 1, "test" -> 1)).as("split"),
          graft.ops.SplitOps.mixtureSample(col("doc_id"), col("source"),
            Map("src0" -> 1.0, "src1" -> 0.3, "src2" -> 0.05),
            defaultFraction = 0.5, seed = 7L).as("keep"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          expr("bit_xor(doc_id)").as("id_checksum"),
          sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
          coalesce(expr("bit_xor(CASE WHEN keep THEN doc_id END)"), lit(0L))
            .as("kept_checksum"))
    }),

    "sequence_packing" -> ((s, dir) => {
      // concat-and-chunk packing of documents into fixed 512-token
      // training sequences over 8 hash shards — per-sequence doc count,
      // fill level (512 everywhere but each shard's last sequence), and
      // doc-id checksum. ONE exchange end-to-end: the summary groupBy
      // reuses the window's shard partitioning. Every offset is exact
      // 64-bit integer arithmetic (integral div, Wang shard hash) that
      // the DuckDB oracle replays bit-for-bit
      GraftFunctions.registerAll(s)
      val docs = t(s, dir, "documents")
      graft.ops.PackOps.packSummary(docs, col("doc_id"),
        TextOps.tokenCount(col("text")), seqLen = 512L, nShards = 8)
    }),

    "repetition_metrics" -> ((s, dir) => {
      // Gopher-rule repetition signals (within-doc boilerplate that
      // dedup can't see): duplicate-line and top-2-gram rates as exact
      // integer permilles — ONE map-only pass, no shuffle (a single
      // expression computes all counters per row; the explode+groupBy
      // alternative would shuffle every line of the corpus)
      val docs = t(s, dir, "documents")
      val metrics = TextOps.repetitionMetrics(col("text"))
      docs.select((col("doc_id") +:
        metrics.map { case (n, c) => c.cast("long").as(n) }): _*)
    }),

    "rollup_distinct_parts" -> ((s, dir) => {
      // grouping sets compose with sketch aggregates for free (mergeable
      // partial states under any grouping) — exact rollup distinct
      val li = t(s, dir, "lineitem")
      li.rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(api.cqf_agg(col("l_partkey"), 12, 64).as("sk"))
        .select(col("l_returnflag"), col("l_linestatus"),
          api.cqf_distinct(col("sk")).as("distinct_parts"))
    }),

    "cqf_distinct_users_by_event" -> ((s, dir) => {
      // exact distinct via invertible CQF (contrast with approximate HLL)
      val ev = t(s, dir, "events")
      ev.groupBy(col("event_type"))
        .agg(api.cqf_agg(col("user_id"), 12, 64).as("sk"))
        .select(col("event_type"),
          api.cqf_distinct(col("sk")).as("distinct_users"),
          api.cqf_total(col("sk")).as("n_events"))
    }),

    "join_customer_orders" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(api.cqf_agg(col("o_orderkey"), 10, 64).as("sk"))
        .select(col("c_mktsegment"),
          api.cqf_distinct(col("sk")).as("distinct_orders"),
          api.cqf_total(col("sk")).as("n_orders"))
    }),

    "cqf_stats_by_flag" -> ((s, dir) => {
      // engine-independent stats columns only (occupied slots / sizing are
      // implementation detail; distinct/total/invertibility are semantics)
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 10, 64).as("sk"))
        .select(col("l_returnflag"), api.cqf_stats(col("sk")).as("st"))
        .select(col("l_returnflag"),
          col("st.distinct_keys").as("distinct_keys"),
          col("st.total_count").as("total_count"),
          col("st.invertible").as("invertible"))
    }),

    "cqf_udaf_distinct" -> ((s, dir) => {
      // typed Aggregator surface (functions.udaf) — same kernel, same
      // bytes, interoperating with the expression probes in one SQL query
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem_udaf")
      s.sql("""SELECT l_returnflag,
        cqf_distinct(cqf_agg_udaf(l_suppkey)) AS distinct_suppkeys
        FROM lineitem_udaf GROUP BY l_returnflag""")
    }),

    "window_running_distinct" -> ((s, dir) => {
      // sketch aggregate OVER a window: running exact distinct users per
      // event_type (mergeable state makes sketch aggs window-composable)
      val ev = t(s, dir, "events").where(col("event_id") < 3000)
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(col("event_type"), col("event_id"),
        api.cqf_distinct(api.cqf_agg(col("user_id"), 8, 64).over(w))
          .as("running_distinct_users"))
    }),

    "window_quantile_running" -> ((s, dir) => {
      // order-statistics families over a WINDOW FRAME: running p50 of
      // value per event_type across the trailing 100 rows. The frame
      // (<= 100 items) sits below KLL k=256 level-0 capacity, so the
      // sketch retains every frame value and its quantile rule is the
      // deterministic "sorted item at 1-based index ceil(q*n)" — which
      // the DuckDB oracle replays verbatim (list window agg + list_sort),
      // making the window-frame path of the quantile families EXACTLY
      // gated, not just bound-checked. The t-digest estimate from the
      // same frame is bound-checked between the exact 25th and 75th
      // percentiles (its p50 rank error at c=100 is ~n/200 — the
      // quartile bracket holds with wide margin even at frame size 2).
      // Null values are filtered BEFORE windowing so both engines see
      // identical frames (kll_agg skips nulls; DuckDB list() keeps them).
      val ev = t(s, dir, "events")
        .where(col("event_id") < 3000 && col("value").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(-99, Window.currentRow)
      val kll = api.kll_agg(col("value"), 256).over(w)
      val td = api.td_quantile(api.td_agg(col("value"), 100.0).over(w), lit(0.5))
      ev.select(col("event_type"), col("event_id"),
        api.kll_quantile(kll, lit(0.5)).as("p50"),
        (td >= api.kll_quantile(kll, lit(0.25)) &&
          td <= api.kll_quantile(kll, lit(0.75))).as("td_ok"))
    }),

    "window_cms_running" -> ((s, dir) => {
      // count-min over a WINDOW FRAME (the family's frame-path gate,
      // closing the CQF/KLL/t-digest vs CMS/Bloom asymmetry): a trailing
      // 100-row CMS of user_id per event_type. Two exact readouts the
      // DuckDB oracle replays verbatim — cms_total == frame size (cell-
      // row sums are lossless), and the frame's exact count of the
      // CURRENT row's user (collect_list + filter, engine-agnostic) —
      // plus the deterministic never-underestimate law as the bound
      // check: estimate(current user) >= its exact frame count. Nulls
      // filtered BEFORE windowing so both engines see identical frames.
      val ev = t(s, dir, "events")
        .where(col("event_id") < 3000 && col("user_id").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(-99, Window.currentRow)
      val cms = api.cms_agg(col("user_id"), 5, 2048).over(w)
      val exactCnt = size(filter(collect_list(col("user_id")).over(w),
        v => v === col("user_id"))).cast("long")
      ev.select(col("event_type"), col("event_id"),
        exactCnt.as("exact_cnt"),
        api.cms_total(cms).as("n_frame"),
        (api.cms_estimate(cms, col("user_id")) >= exactCnt).as("cms_ge_exact"))
    }),

    "window_bloom_running" -> ((s, dir) => {
      // Bloom over the same trailing frame: the current row's user is IN
      // the frame by construction, so might_contain MUST be true on
      // every row (the deterministic no-false-negative law, replayed as
      // a literal TRUE by the oracle); frame size rides along exactly.
      val ev = t(s, dir, "events")
        .where(col("event_id") < 3000 && col("user_id").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(-99, Window.currentRow)
      val bloom = api.bloom_agg(col("user_id"), 1L << 16, 5).over(w)
      ev.select(col("event_type"), col("event_id"),
        count(lit(1)).over(w).as("n_frame"),
        api.bloom_might_contain(bloom, col("user_id")).as("bloom_hit"))
    }),

    "sketch_union_probes" -> ((s, dir) => {
      // the binary union expressions + remaining probes, end-to-end:
      // build each sketch over two disjoint halves, union them, and
      // check against the whole-table sketch — exact equality where the
      // kernel is order-invariant (HLL register-max, CMS cell-sum, Bloom
      // bit-or, CQF content), bound checks where merge order matters
      // (t-digest/KLL centroids/compactions), plus td_cdf / kll_rank /
      // cqf_contains / wang_hash∘wang_unhash identities
      val li = t(s, dir, "lineitem")
      val lo = li.where(col("l_orderkey") % 2 === 0)
      val hi = li.where(col("l_orderkey") % 2 === 1)
      def sks(df: org.apache.spark.sql.DataFrame, suffix: String) =
        df.agg(
          api.cqf_agg(col("l_suppkey"), 12, 64).as(s"cqf_$suffix"),
          api.hll_agg(col("l_suppkey"), 12).as(s"hll_$suffix"),
          api.cms_agg(col("l_suppkey"), 5, 4096).as(s"cms_$suffix"),
          api.bloom_agg(col("l_suppkey"), 1L << 17, 5).as(s"bloom_$suffix"),
          api.td_agg(col("l_extendedprice"), 200.0).as(s"td_$suffix"),
          api.kll_agg(col("l_extendedprice"), 256).as(s"kll_$suffix"),
          count(lit(1)).as(s"n_$suffix"))
      val joined = sks(lo, "a").crossJoin(sks(hi, "b")).crossJoin(sks(li, "w"))
      joined.select(
        (api.cqf_total(api.cqf_union(col("cqf_a"), col("cqf_b"))) ===
          api.cqf_total(col("cqf_w")) &&
         api.cqf_distinct(api.cqf_union(col("cqf_a"), col("cqf_b"))) ===
          api.cqf_distinct(col("cqf_w"))).as("cqf_union_eq"),
        (api.hll_estimate(api.hll_union(col("hll_a"), col("hll_b"))) ===
          api.hll_estimate(col("hll_w"))).as("hll_union_eq"),
        (api.cms_estimate(api.cms_union(col("cms_a"), col("cms_b")), lit(7L)) ===
          api.cms_estimate(col("cms_w"), lit(7L)) &&
         api.cms_total(api.cms_union(col("cms_a"), col("cms_b"))) ===
          api.cms_total(col("cms_w"))).as("cms_union_eq"),
        // no-false-negative law: present(7) => might_contain(7). Holds on
        // ANY dataset (unlike asserting might_contain directly, which
        // would fail where key 7 is absent and no false positive occurs)
        ((!api.cqf_contains(col("cqf_w"), lit(7L)) ||
          api.bloom_might_contain(api.bloom_union(col("bloom_a"), col("bloom_b")), lit(7L))) &&
         api.bloom_fpp(api.bloom_union(col("bloom_a"), col("bloom_b"))) >= 0.0).as("bloom_union_ok"),
        // merged quantile sketches stay within (generous) rank bounds
        (abs(api.td_cdf(api.td_union(col("td_a"), col("td_b")),
            api.td_quantile(col("td_w"), lit(0.5))) - 0.5) <= 0.05).as("td_union_ok"),
        // denominator = kll_n (the values the sketch actually saw), not
        // row counts: kll_agg skips nulls, so (n_a + n_b) would shift
        // the rank ratio on null-bearing data
        (abs(api.kll_rank(api.kll_union(col("kll_a"), col("kll_b")),
            api.kll_quantile(col("kll_w"), lit(0.5))).cast("double") /
            api.kll_n(api.kll_union(col("kll_a"), col("kll_b"))).cast("double")
            - 0.5) <= 0.05).as("kll_union_ok"),
        api.cqf_contains(col("cqf_w"), lit(7L)).as("cqf_contains_7"),
        (api.wang_unhash(api.wang_hash(lit(123456789L), 64), 64) ===
          123456789L).as("wang_roundtrip_ok"))
    }),

    // ---- count-min: heavy hitters with exact recheck (end-to-end exact) ----
    // Candidate stage: the mergeable frequent-items summary (ss_agg) —
    // NOT an all-distinct-keys scan: at 100 TB "distinct keys" is
    // billions of rows just to find the top 0.1%, while the summary is
    // one pass + a k-counter merge. Completeness is proven in-query
    // (offset < thresh: no true heavy hitter can be absent, see
    // FrequentItems invariants); the CMS stays as the disposer; the
    // exact recheck makes the final output deterministic regardless of
    // partial-merge order.
    "cms_heavy_hitters" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val skN = li.agg(api.cms_agg(col("l_suppkey"), 5, 8192).as("cms"),
        api.ss_agg(col("l_suppkey"), 32768).as("ss"),
        count(lit(1)).as("n"))
      heavyHittersFromSummary(li, skN, "cms_heavy_hitters",
        // CMS as the disposer: its estimate never underestimates, so a
        // surviving heavy hitter (cnt >= thresh) must also clear the
        // threshold through the CMS — a broken CMS drops rows and fails
        // the exact oracle compare
        dispose = Some(api.cms_estimate(col("cms"), col("l_suppkey")) >= col("thresh")),
        carry = Seq("cms"))
    }),

    // ---- frequent items (SpaceSaving/Misra-Gries): heavy hitters ----
    // Pure ss path: summary -> top-M candidate pool (completeness
    // proven by the cutoff witness, see heavyHittersFromSummary) ->
    // broadcast exact recheck -> rank-K data-derived threshold. One
    // scan + k counters; non-empty exact output at every SF.
    "ss_heavy_hitters" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val skN = li.agg(api.ss_agg(col("l_suppkey"), 32768).as("ss"),
        count(lit(1)).as("n"))
      heavyHittersFromSummary(li, skN, "ss_heavy_hitters")
    }),

    "corpus_top_bigrams" -> ((s, dir) => {
      // corpus-wide top word-2-grams — the boilerplate-phrase miner, and
      // the text x sketch composition: STRING-keyed frequent-items
      // summary over a map-only gram explode (raw grams die into the
      // partial aggregate — they are never shuffled), then the standard
      // two-scan exact recheck of the broadcast candidate pool with the
      // in-query cutoff-below-threshold completeness assert. The answer
      // (every gram with count >= the rank-15 count, ties kept) is
      // exact — modulo the library-wide 64-bit assumption (see
      // dedup_exact_fingerprint): the summary keys grams by their
      // 64-bit byte fold, so two DISTINCT grams colliding (~n²/2^64)
      // would share a counter and evade the cutoff witness. The DuckDB
      // oracle replays plain exact counts
      GraftFunctions.registerAll(s)
      val docs = tb(s, dir, "documents")
      val grams = docs.select(
        explode(TextOps.wordShingles(col("text"), 2)).as("gram"))
      val skN = grams.agg(api.ss_agg(col("gram"), 8192).as("ss"),
        count(lit(1)).as("n"))
      heavyHittersFromSummary(grams, skN, "corpus_top_bigrams",
        keyCol = "gram", outKey = "gram", stringKeys = true)
    }),

    // ---- frequent items: packed-layout parity, asserted in-query ----
    // The packed aggregate must be BYTE-identical to the array aggregate
    // over the same multiset: both buffers live in the same aggregation
    // operator, so they see identical update streams and identical
    // partial-merge trees — any divergence is a decoder bug. The packed
    // path is how top-k vocabulary runs over the production pack_ints
    // corpus (vectorized binary scan, no array assembly).
    "ss_packed_parity" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def keys = array(col("l_partkey").cast("int"), col("l_suppkey").cast("int"))
      li.agg(
          api.ss_agg(keys, 512).as("a"),
          api.ss_agg_packed(api.pack_ints(keys), 512).as("b"),
          count(lit(1)).as("n_rows"))
        .select(col("n_rows"),
          (col("a") === col("b")).as("packed_parity_ok"),
          (api.ss_total(col("a")) === col("n_rows") * 2).as("total_ok"))
    }),

    // ---- frequent items: per-key bound guarantees on the exact top-10 ----
    // k=64 < distinct(l_suppkey), so purges genuinely fire; the flags
    // are deterministic TRUE because they assert invariants that hold
    // under ANY partial-merge tree: lb <= exact <= ub and
    // offset*k <= 2*N (the published 2N/k bound).
    "ss_topk_guarantees" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val skN = li.agg(api.ss_agg(col("l_suppkey"), 64).as("ss"),
        count(lit(1)).as("n"))
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_suppkey")).limit(10)
      exact.crossJoin(broadcast(skN))
        .select(col("l_suppkey"), col("exact_cnt"),
          (api.ss_estimate(col("ss"), col("l_suppkey")) >= col("exact_cnt") &&
            api.ss_estimate(col("ss"), col("l_suppkey")) -
              api.ss_offset(col("ss")) <= col("exact_cnt") &&
            api.ss_offset(col("ss")) * lit(64) <= col("n") * lit(2)).as("ss_ok"))
    }),

    "cms_topk_estimates" -> ((s, dir) => {
      // top-10 keys by exact count; the CMS estimate must be an
      // overestimate within eps*N (bound-check pattern: a broken CMS
      // flips cms_ok to false and fails the oracle compare)
      val li = t(s, dir, "lineitem")
      val skN = li.agg(api.cms_agg(col("l_suppkey"), 5, 4096).as("cms"),
        count(lit(1)).as("n"))
      val exact = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("l_suppkey")).limit(10)
      exact.crossJoin(broadcast(skN))
        .select(col("l_suppkey"), col("exact_cnt"),
          (api.cms_estimate(col("cms"), col("l_suppkey")) >= col("exact_cnt") &&
            api.cms_estimate(col("cms"), col("l_suppkey")) <=
              col("exact_cnt") + expr("n div 200")).as("cms_ok"))
    }),

    // ---- Bloom as prefilter + exact recheck (end-to-end exact) ----
    "bloom_membership" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val r = li.where(col("l_returnflag") === "R")
      val bloom = r.agg(api.bloom_agg(col("l_suppkey"), 1L << 17, 5).as("b"))
      val sup = t(s, dir, "supplier")
      val candidates = sup.crossJoin(broadcast(bloom))
        .where(api.bloom_might_contain(col("b"), col("s_suppkey")))
        .select(col("s_suppkey"))
      val rKeys = r.select(col("l_suppkey")).distinct()
      candidates.join(rKeys, candidates("s_suppkey") === rKeys("l_suppkey"), "left_semi")
        .select(col("s_suppkey").as("suppkey"))
    }),

    // ---- HLL (bound-check oracle: exact distinct + in-bound boolean) ----
    "hll_distinct_by_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // exact distinct in its OWN aggregation (lesson 23): mixed with the
      // sketch agg, the distinct-Expand stage 1 groups by (source,
      // doc_id) and allocates a 16 KB HLL buffer per distinct doc —
      // per-key sketch buffers are the scale killer, not the second scan
      val sk = docs.groupBy(col("source"))
        .agg(api.hll_agg(col("doc_id"), 14).as("sk"))
      val exact = docs.groupBy(col("source").as("source_e"))
        .agg(countDistinct(col("doc_id")).as("exact_docs"))
      // null-safe join key: an equi-join would silently DROP a null
      // group (null != null), where the single-agg shape kept it
      sk.join(broadcast(exact), col("source") <=> col("source_e"))
        .select(col("source"), col("exact_docs"),
          (abs(api.hll_estimate(col("sk")) - col("exact_docs")) <=
            // truncating cast makes the +99 idiom a true long ceiling
            // (Column `/` on integrals returns double)
            greatest(lit(3L), ((col("exact_docs") * 5 + 99) / 100).cast("long")))
            .as("hll_ok"))
    }),

    // ---- KMV bottom-k family (exact below capacity — distinct count,
    // sample and jaccard reproduce DuckDB bit-exactly; the capacity
    // estimator is oracled via the bound-check pattern) ----
    "kmv_distinct_by_source" -> ((s, dir) => {
      // two-level build: per-(type, salt) partials merged per type; k is
      // far above the per-type user cardinality at every gate SF, so the
      // sketch stays in exact mode: estimate == countDistinct and the
      // retained sample IS the full distinct-key set — every sampled key
      // must join back to a genuine (type, user) pair
      val ev = t(s, dir, "events")
      // the aggregated result is tiny (one row + sketch per type):
      // materialize it ONCE (localCheckpoint cuts the lineage) so the
      // readout columns and the sample explode don't each rebuild the
      // sketch from a separate fact scan
      val sk = ev.withColumn("salt", pmod(hash(col("user_id")), lit(8)))
        .groupBy(col("event_type"), col("salt"))
        .agg(api.kmv_agg(col("user_id"), 16384).as("partial"))
        .groupBy(col("event_type"))
        .agg(api.kmv_merge_agg(col("partial")).as("sk"))
        .select(col("event_type"),
          api.kmv_distinct(col("sk")).as("est_distinct"),
          api.kmv_size(col("sk")).as("sample_n"),
          api.kmv_is_exact(col("sk")).as("is_exact"),
          api.kmv_sample(col("sk"), 1 << 20).as("smp"))
        .localCheckpoint()
      val sampled = sk.select(col("event_type"), explode(col("smp")).as("e"))
        .select(col("event_type"), col("e.key").as("user_id"))
      // membership check with the SMALL side broadcast: the fact table
      // stays distributed, the ≤ 5·k sampled pairs ship to every task
      val matched = ev.select(col("event_type"), col("user_id"))
        .join(broadcast(sampled), Seq("event_type", "user_id"), "left_semi")
        .distinct()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_matched"))
      sk.join(broadcast(matched), Seq("event_type"))
        .select(col("event_type"), col("est_distinct"), col("sample_n"),
          (col("n_matched") === col("sample_n")).as("members_ok"),
          col("is_exact"))
    }),

    "kmv_estimate_bound" -> ((s, dir) => {
      // high-cardinality composite key forces eviction at every gate SF
      // (k=256 << per-flag distinct): the (k-1)/u_k estimator must sit
      // inside 4 RSE = 4/sqrt(k-2) of the exact distinct, and the
      // sketch must report estimation mode
      val li = t(s, dir, "lineitem")
      val keyed = li.select(col("l_returnflag"),
        (col("l_orderkey") * 1000000L + col("l_partkey")).as("ck"))
      // exact distinct lives in its OWN aggregation (lesson 23): mixed
      // with the sketch agg, Spark plans the distinct-Expand shape whose
      // stage 1 groups by (flag, ck) and allocates a kmv buffer per
      // DISTINCT KEY (~6M at sf0.1) before the merge — measured 2.8 s
      // vs 0.5 s split. Both passes scan; the 3-row join broadcasts.
      val sk = keyed.groupBy(col("l_returnflag"))
        .agg(api.kmv_agg(col("ck"), 256).as("sk"))
      val exact = keyed.groupBy(col("l_returnflag").as("flag_e"))
        .agg(countDistinct(col("ck")).as("exact_distinct"))
      // null-safe join key: an equi-join would silently DROP a null
      // group (null != null), where the single-agg shape kept it
      sk.join(broadcast(exact), col("l_returnflag") <=> col("flag_e"))
        .select(col("l_returnflag"), col("exact_distinct"),
          (abs(api.kmv_distinct(col("sk")) - col("exact_distinct")) <=
            col("exact_distinct") * (4.0 / math.sqrt(254.0))).as("est_ok"),
          (!api.kmv_is_exact(col("sk"))).as("estimation_engaged"),
          api.kmv_size(col("sk")).as("sample_n"))
    }),

    "kmv_jaccard_pairs" -> ((s, dir) => {
      // customer-set resemblance between order priorities. kBig=2^18
      // keeps both sides exact through the sf1-class rehearsal (max
      // per-priority custkeys ~130k at sf1, ~13k at sf0.1), so
      // jacc_milli reproduces DuckDB's exact rational; kSmall=256 forces
      // the capacity estimator, bound-checked against the exact value in
      // the same row (4·sqrt(J(1-J)/k) ≈ 0.11 at the observed J ≈ 0.76).
      // The kSmall row is the 100 TB path — kBig-exact is gate
      // instrumentation, not the scale design.
      val o = t(s, dir, "orders")
      val sk = o.groupBy(col("o_orderpriority"))
        .agg(api.kmv_agg(col("o_custkey"), 262144).as("big"),
          api.kmv_agg(col("o_custkey"), 256).as("small"))
      val a = sk.select(col("o_orderpriority").as("pa"),
        col("big").as("big_a"), col("small").as("small_a"))
      val b = sk.select(col("o_orderpriority").as("pb"),
        col("big").as("big_b"), col("small").as("small_b"))
      a.join(broadcast(b), col("pa") < col("pb"))
        .select(col("pa"), col("pb"),
          floor(api.kmv_jaccard(col("big_a"), col("big_b")) * 1000.0 + 0.5)
            .cast("long").as("jacc_milli"),
          (abs(api.kmv_jaccard(col("small_a"), col("small_b")) -
            api.kmv_jaccard(col("big_a"), col("big_b"))) <= 0.11).as("est_ok"),
          (api.kmv_is_exact(col("big_a")) && api.kmv_is_exact(col("big_b")))
            .as("both_exact"))
    }),

    // ---- quantile sketches (bound-check oracles: exact rank of the
    // estimated quantile must sit within the sketch's rank-error bound) ----
    "td_quantiles_by_event_type" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      // n counts NON-NULL values: td_agg skips nulls and the r* sums
      // count non-null matches, so a count(*) denominator would flip the
      // bound booleans on null-bearing data (the table_profile rule)
      val sk = ev.groupBy(col("event_type"))
        .agg(api.td_agg(col("value"), 200.0).as("td"), count(col("value")).as("n"))
        .select(col("event_type"), col("n"),
          api.td_quantile(col("td"), lit(0.5)).as("e50"),
          api.td_quantile(col("td"), lit(0.9)).as("e90"),
          api.td_quantile(col("td"), lit(0.99)).as("e99"))
      ev.join(broadcast(sk), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("n")).as("n"),
          sum(when(col("value") <= col("e50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("e90"), 1L).otherwise(0L)).as("r90"),
          sum(when(col("value") <= col("e99"), 1L).otherwise(0L)).as("r99"))
        .select(col("event_type"), col("n"),
          (abs(col("r50") * 100L - col("n") * 50L) <= col("n") * 2L).as("ok50"),
          (abs(col("r90") * 100L - col("n") * 90L) <= col("n") * 2L).as("ok90"),
          (abs(col("r99") * 100L - col("n") * 99L) <= col("n") * 1L).as("ok99"))
    }),

    "sessionization" -> ((s, dir) => {
      // gap-based event sessions (30-min gap) with per-user stats — the
      // per-session feature-extraction precursor. One shuffle of events
      // keyed by user; the DuckDB oracle replays the identical
      // integer-microsecond definition, so the compare is EXACT.
      val ev = t(s, dir, "events")
      graft.ops.SessionOps.sessionStats(ev, col("user_id"), col("ts"),
          gapSeconds = 1800L, tieBreak = col("event_id"))
        .withColumnRenamed("entity", "user_id")
    }),

    "sessionization_daybounded" -> ((s, dir) => {
      // the skew-guard variant as a first-class oracled operator:
      // (entity, UTC-day) windows bound per-task work for hot keys;
      // DuckDB replays the identical integer-microsecond + floor-day
      // definition, so the compare is EXACT (midnight splits included)
      val ev = t(s, dir, "events")
      graft.ops.SessionOps.sessionizeDayBounded(ev, col("user_id"),
          col("ts"), gapSeconds = 1800L, tieBreak = col("event_id"))
        .groupBy(col("user_id"), col("session_day"))
        .agg((max(col("session_idx")) + 1L).as("n_sessions"),
          count(lit(1)).as("n_events"))
    }),

    "kll_quantiles_by_flag" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      // n counts NON-NULL values — see td_quantiles_by_event_type
      val sk = li.groupBy(col("l_returnflag"))
        .agg(api.kll_agg(col("l_extendedprice"), 256).as("kll"),
          count(col("l_extendedprice")).as("n"))
        .select(col("l_returnflag"), col("n"),
          api.kll_quantile(col("kll"), lit(0.5)).as("e50"),
          api.kll_quantile(col("kll"), lit(0.95)).as("e95"))
      li.join(broadcast(sk), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"))
        .agg(first(col("n")).as("n"),
          sum(when(col("l_extendedprice") <= col("e50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("l_extendedprice") <= col("e95"), 1L).otherwise(0L)).as("r95"))
        .select(col("l_returnflag"), col("n"),
          (abs(col("r50") * 100L - col("n") * 50L) <= col("n") * 3L).as("ok50"),
          (abs(col("r95") * 100L - col("n") * 95L) <= col("n") * 3L).as("ok95"))
    }),

    "table_profile" -> ((s, dir) => {
      // One-pass all-families column profile — the data-quality pass a
      // training pipeline runs before ingest: exact shape stats (count,
      // nulls, min/max) + an HLL distinct per id column + KLL quantiles
      // per numeric + a frequent-items summary per categorical, all
      // built side by side in a SINGLE fact scan (one
      // ObjectHashAggregate stage — tableProfileSketchPass, whose
      // pre-materialization plan the guard spec asserts). The extra
      // exact passes below exist only to oracle the estimator bound
      // checks (the hll/kll/ss patterns above); production cost at
      // 100 TB is pass 1 alone.
      val li = t(s, dir, "lineitem")
      // 1 row; localCheckpoint so the recheck scan and the readout
      // don't each rebuild the sketch pass from its own fact scan
      val prof = tableProfileSketchPass(li).localCheckpoint()
      // exact distinct stays in its OWN hash pass (lesson 23): mixed
      // into the sketch aggregation, the distinct-Expand stage 1 would
      // allocate a sketch buffer per DISTINCT l_partkey
      val exactD = li.agg(countDistinct(col("l_partkey")).as("pk_distinct"))
      // one recheck scan rank-verifies both quantiles and exact-counts
      // the per-flag groups; the 1-row profile side broadcasts. The top
      // value is the EXACT argmax with DuckDB's tie-break (count desc,
      // value asc — min_by over (-cnt, flag)), so the output stays
      // deterministic even if two flags ever tie; the sketch is then
      // judged against it in flag_top_ok
      val byFlag = li
        .crossJoin(broadcast(prof.select(col("e50"), col("e95"))))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("cnt"),
          sum(when(col("l_extendedprice") <= col("e50"), 1L).otherwise(0L)).as("g50"),
          sum(when(col("l_extendedprice") <= col("e95"), 1L).otherwise(0L)).as("g95"))
      val tieOrd = struct((-col("cnt")).as("nc"), col("l_returnflag"))
      val check = byFlag.agg(
        sum(col("g50")).as("r50"), sum(col("g95")).as("r95"),
        min_by(col("l_returnflag"), tieOrd).as("flag_top"),
        min_by(col("cnt"), tieOrd).as("flag_top_cnt"))
      // rank checks calibrate against the KLL population: non-null
      // prices only (null-price rows count in n_rows but not in the
      // sketch or in r50/r95)
      val nn = col("n_rows") - col("price_nulls")
      prof.crossJoin(broadcast(exactD)).crossJoin(broadcast(check))
        .select(
          col("n_rows"), col("price_nulls"), col("price_min"), col("price_max"),
          col("pk_distinct"),
          // ceiling of 5% in LONG arithmetic: Column `/` on integrals
          // returns double, so the +99 idiom needs the truncating cast
          // to actually floor
          (abs(col("pk_est") - col("pk_distinct")) <=
            greatest(lit(3L), ((col("pk_distinct") * 5 + 99) / 100).cast("long")))
            .as("pk_hll_ok"),
          (abs(col("r50") * 100L - nn * 50L) <= nn * 3L).as("price_p50_ok"),
          (abs(col("r95") * 100L - nn * 95L) <= nn * 3L).as("price_p95_ok"),
          col("flag_top"), col("flag_top_cnt"),
          // 3 distinct flags < k=16: Misra-Gries never evicts, so the
          // summary must score the exact argmax EXACTLY — equality on
          // its estimate, zero offset — not a bound
          (api.ss_estimate(col("flag_ss"), col("flag_top")) === col("flag_top_cnt") &&
            api.ss_offset(col("flag_ss")) === 0L).as("flag_top_ok"))
    }),

    // ---- dedup family ----
    "dedup_exact_props" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      ev.groupBy(col("props"))
        .agg(min(col("event_id")).as("kept_event_id"), count(lit(1)).as("n_dups"))
    }),

    "dedup_exact_fingerprint" -> ((s, dir) => {
      // 64-bit rolling fingerprint as the shuffle key (8 bytes vs full text)
      val docs = t(s, dir, "documents")
      DedupOps.exactDedup(docs, col("text"), col("doc_id"))
        .select(col("kept_id"), col("n_dups"))
    }),

    "ngram_jaccard_hist" -> ((s, dir) => {
      val docs = tb(s, dir, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
        Seq(col("lang"), expr("n_chars div 32")), k = 3)
      pairs.where(col("uni") > 0)
        .select(expr("(inter * 10) div uni").as("jaccard_decile"))
        .groupBy(col("jaccard_decile"))
        .agg(count(lit(1)).as("n_pairs"))
    }),

    "dedup_cluster_reps" -> ((s, dir) => {
      // full near-dup dedup: exact jaccard pairs (>= 0.8) -> connected
      // components (large-star/small-star) -> one representative per cluster
      val docs = tb(s, dir, "documents")
      val pairs = DedupOps.ngramJaccardPairs(docs, col("text"), col("doc_id"),
          Seq(col("lang"), expr("n_chars div 32")), k = 3)
        .where(col("uni") > 0 && expr("(inter * 10) div uni") >= 8)
        .select(col("id_a"), col("id_b"))
      val nodes = docs.select(col("doc_id").as("id"))
      DedupOps.dedupByPairs(nodes, pairs)
        .where(!col("kept")) // report only documents dropped as duplicates
        .select(col("id"), col("component"))
    }),

    "minhash_lsh_candidates" -> ((s, dir) => {
      // LSH proposes, exact shingle-Jaccard disposes: output = all pairs
      // with true Jaccard >= 0.8. Equality with the all-pairs oracle is a
      // property of the FIXED gate datasets (verified at sf0.01 and
      // sf0.1): bands are sized so the per-pair miss probability at the
      // threshold is ~2e-4 and no bucket approaches the cap there; on
      // arbitrary data LSH recall is probabilistic by design.
      val docs = tb(s, dir, "documents")
      DedupOps.minhashVerifiedPairs(docs, TextOps.tokens(col("text")),
        col("doc_id"), k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
    }),

    eager("dedup_incremental")((s, dir) => {
      // the GROWING-corpus near-dup pipeline: three ingest batches
      // (doc_id mod 3) into a fresh signature/pair store, each paying
      // only its NEW x ALL LSH join — old x old pairs are never
      // re-proposed. The accumulated pair set must hash-match the SAME
      // from-scratch all-pairs oracle as minhash_lsh_candidates (same
      // params, so the recall/cap margins are identical): incremental
      // construction is gated end-to-end exact, the streaming_heavy_
      // hitters pattern applied to dedup. State goes to a throwaway dir
      // here; production points it at durable storage and feeds real
      // shards (resume/idempotence contract in IncrementalDedupSpec).
      val docs = t(s, dir, "documents")
      val state = java.nio.file.Files
        .createTempDirectory("graft_inc_dedup").toString
      val cfg = graft.ops.IncrementalDedup.Config(
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.8)
      (0 until 3).foreach { b =>
        graft.ops.IncrementalDedup.run(s,
          docs.where(pmod(col("doc_id"), lit(3)) === b),
          TextOps.tokens(col("text")), col("doc_id"), state, s"batch_$b", cfg)
      }
      collectThenDelete(graft.ops.IncrementalDedup.allPairs(s, state), state)
    }),

    "simhash_near_dups" -> ((s, dir) => {
      // simhash 16-bit-band prefilter (guaranteed Hamming<=3) ensembled
      // with a minhash proposer for the short-doc regime, exact
      // shingle-Jaccard recheck — both proposers keep buckets ~ n
      val docs = tb(s, dir, "documents")
      DedupOps.nearDupVerifiedPairs(docs, col("text"), col("doc_id"),
        k = 3, threshold = 0.9)
    }),

    "embedding_near_dups" -> ((s, dir) => {
      // multi-band hyperplane LSH prefilter + exact cosine recheck.
      // The SHIPPED fixture has no cos >= 0.8 pair at any gate SF (max
      // observed 0.60), so the raw query passed vacuously (0 == 0 rows)
      // — the input is therefore a DERIVED relation that unions
      // deterministic planted copies, pure functions of (vec_id,
      // embedding) the DuckDB oracle replays exactly: an identical copy
      // per vec_id < 8 (cos = 1, MUST match — 8 non-vacuous rows at
      // every SF) and a negated copy (cos = -1 with its parent, must
      // NOT match; fixture min cos -0.56 keeps every cross pair far
      // from the threshold on both sides)
      val emb = tb(s, dir, "embeddings")
      val base = emb.select(col("vec_id"), col("embedding"))
      val dups = emb.where(col("vec_id") < 8)
        .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
      val negs = emb.where(col("vec_id") < 8)
        .select((col("vec_id") + 20000000L).as("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      DedupOps.embeddingNearDups(base.unionAll(dups).unionAll(negs),
        col("embedding"), col("vec_id"),
        minCos = 0.8, bands = 32, planesPerBand = 6)
    }),

    // ---- similarity search ----
    "ann_brute_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      AnnOps.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          emb.where(col("vec_id") < 10), col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
    }),

    "ann_ivf_topk" -> ((s, dir) => {
      // approximate (nProbe=6 of 16 cells), oracled via the recall
      // bound-check pattern: the query ALSO computes the exact brute-force
      // top-k and asserts recall@3 >= 500 permille (observed 600-800 at
      // sf0.001/0.01/0.1; a broken codebook/assignment/probe degrades to
      // ~nProbe/nCells = 375). Exact output shape is covered by
      // ann_brute_topk / ann_ivf_exhaustive (hash-matched oracles).
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val approx = AnnOps.ivfTopK(emb, col("vec_id"), col("embedding"),
          qs, col("vec_id"), col("embedding"), k = 3, nCells = 16, nProbe = 6)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val brute = AnnOps.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          qs, col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      brute.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          (sum(coalesce(col("hit"), lit(0L))) * 1000 >=
            count(lit(1)) * 500).as("recall_ok"))
    }),

    "ann_ivf_exhaustive" -> ((s, dir) => {
      // nProbe = nCells probes every cell: the whole IVF plumbing
      // (codebook, k-means refinement, assignment, probing, ranking) must
      // reproduce brute force EXACTLY
      val emb = t(s, dir, "embeddings")
      AnnOps.ivfTopK(emb, col("vec_id"), col("embedding"),
          emb.where(col("vec_id") < 10), col("vec_id"), col("embedding"),
          k = 3, nCells = 16, nProbe = 16)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
    }),

    eager("ann_ivf_persisted")((s, dir) => {
      // build-once / serve-many IVF: the index persists (codebook +
      // cell-PARTITIONED assignments + commit marker — buildIvfIndex),
      // then serving reads it back and probes every cell (nProbe =
      // nCells), so the answer must EXACTLY reproduce the brute-force
      // oracle THROUGH the persisted artifact: codebook round-trip,
      // partition-pruned assignment read, probe ranking and all. In-query
      // ivfTopK re-paid the k-means per run; production builds once into
      // durable storage and serves many query batches (resume/drift
      // contract in AnnIndexSpec). Throwaway index dir, deleted after
      // materializing — the dedup_incremental pattern.
      val emb = t(s, dir, "embeddings")
      val idx = java.nio.file.Files
        .createTempDirectory("graft_ann_idx").toString
      AnnOps.buildIvfIndex(s, emb, col("vec_id"), col("embedding"), idx,
        nCells = 16, kmeansIters = 2)
      collectThenDelete(servedTopK(s, idx, emb), idx)
    }),

    eager("ann_ivf_incremental")((s, dir) => {
      // the GROWING-corpus similarity index: base build on a third of
      // the vectors, then two appendIvfBatch deltas quantized against
      // the stored codebook (no k-means re-pay, batch-lineage commit
      // markers — the IncrementalDedup pattern applied to the IVF
      // index). Served at nProbe = nCells the grown index must EXACTLY
      // reproduce the brute-force oracle over the FULL corpus — every
      // cell is probed, so quantizer staleness cannot hide a lost or
      // double-counted vector (kill/resume + id-contract edges in
      // AnnIndexSpec).
      val emb = t(s, dir, "embeddings")
      def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
      val idx = java.nio.file.Files
        .createTempDirectory("graft_ann_idx_inc").toString
      AnnOps.buildIvfIndex(s, part(0), col("vec_id"), col("embedding"), idx,
        nCells = 16, kmeansIters = 2)
      AnnOps.appendIvfBatch(s, part(1), col("vec_id"), col("embedding"), idx, "d1")
      AnnOps.appendIvfBatch(s, part(2), col("vec_id"), col("embedding"), idx, "d2")
      collectThenDelete(servedTopK(s, idx, emb), idx)
    }),

    "streaming_ann_ingest" -> ((s, dir) => {
      // 10th streaming shape: the growing similarity index fed by the
      // engine — foreachBatch drives appendIvfBatch with epoch-keyed
      // batch ids over a committed base build (the streaming analog of
      // streaming_dedup_incremental, composing the engine's
      // replay-on-restart with the index's per-batch commit markers;
      // kill/resume pinned in StreamingAnnIngestSpec). Served
      // exhaustively, the streamed-in index must reproduce the SAME
      // full-corpus brute-force oracle as ann_ivf_incremental — the
      // ingestion path (batch or stream) must be invisible in answers.
      val emb = t(s, dir, "embeddings")
      def part(b: Int) = emb.where(pmod(col("vec_id"), lit(3)) === b)
      val work = java.nio.file.Files
        .createTempDirectory("graft_sann_ingest").toString
      val src = s"$work/src"
      new java.io.File(src).mkdirs()
      (1 until 3).foreach { b =>
        graft.util.ParquetState.writeSingleFile(part(b), s"$src/batch_$b.parquet")
      }
      val idx = s"$work/idx"
      AnnOps.buildIvfIndex(s, part(0), col("vec_id"), col("embedding"), idx,
        nCells = 16, kmeansIters = 2)
      val q = s.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream
        .foreachBatch { (df: DataFrame, epochId: Long) =>
          if (!df.isEmpty)
            AnnOps.appendIvfBatch(s, df, col("vec_id"), col("embedding"),
              idx, s"epoch_$epochId")
        }
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      collectThenDelete(servedTopK(s, idx, emb), work)
    }),

    "ann_lsh_topk" -> ((s, dir) => {
      // multi-table (OR-construction) LSH, oracled via the same recall
      // bound-check: recall@3 >= 700 permille (observed 867-900 at all
      // three gate SFs with 32 tables x 6 planes; a broken bucketing
      // degrades to the random-collision fraction ~400).
      val emb = t(s, dir, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val approx = AnnOps.lshTopK(emb, col("vec_id"), col("embedding"),
          qs, col("vec_id"), col("embedding"), k = 3, nPlanes = 6, nTables = 32)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
      val brute = AnnOps.bruteForceTopK(emb, col("vec_id"), col("embedding"),
          qs, col("vec_id"), col("embedding"), k = 3)
        .select(col("query_id"), col("neighbor_id"))
      brute.join(broadcast(approx), Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          count(lit(1)).as("n_pairs"),
          (sum(coalesce(col("hit"), lit(0L))) * 1000 >=
            count(lit(1)) * 700).as("recall_ok"))
    }),

    // ---- text analysis ----
    "quality_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val metrics = TextOps.qualityMetrics(col("text"))
      docs.select((col("doc_id") +: metrics.map { case (n, c) => c.cast("long").as(n) }): _*)
    }),

    "token_counts" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.groupBy(col("source"))
        .agg(sum(TextOps.tokenCount(col("text")).cast("long")).as("total_tokens"),
          sum(octet_length(col("text")).cast("long")).as("total_bytes"))
    }),

    "lang_id_confusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      docs.select(col("lang"), TextOps.langId(col("text")).as("guessed"))
        .groupBy(col("lang"), col("guessed"))
        .agg(count(lit(1)).as("n"))
    }),

    // ---- join / window composition over sketch outputs ----
    "join_enrich_topsupp" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val items = li.groupBy(col("l_returnflag"))
        .agg(api.cqf_agg(col("l_suppkey"), 12, 64).as("sk"))
        .select(col("l_returnflag"), api.cqf_items(col("sk")).as(Seq("hash", "key", "count")))
      items.join(broadcast(sup), items("key") === sup("s_suppkey"))
        .select(col("l_returnflag"), col("s_name"), col("count").as("cnt"))
    }),

    "window_top_events" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id").asc)
      ev.withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("event_type"), col("rn").cast("long").as("rn"), col("event_id"))
    }),

    // ---- multimodal plumbing ----
    "multimodal_meta" -> ((s, dir) => {
      // byte-length plumbing over the clearly-marked decode stub
      val docs = t(s, dir, "documents")
      val decoded = docs
        .withColumn("blob", col("text").cast("binary"))
        .withColumn("meta", api.fake_media_decode(col("blob")))
      decoded.groupBy(col("source"))
        .agg(count(lit(1)).as("n_blobs"),
          sum(col("meta.num_bytes")).as("total_bytes"))
    }),

    "multimodal_decode" -> ((s, dir) => {
      // REAL container parsing: synthesize structurally-valid PNG/WAV
      // blobs (real magic, chunk layout, CRC) and decode their headers
      val docs = t(s, dir, "documents")
      val blob = api.synth_media_blob(
        pmod(col("doc_id"), lit(2)).cast("int"),
        (pmod(col("n_chars"), lit(100)) + 1).cast("int"),
        (pmod(col("doc_id"), lit(50)) + 2).cast("int"))
      docs.withColumn("meta", api.media_decode(blob))
        .select(col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").as("width"),
          col("meta.height").as("height"),
          col("meta.channels").as("channels"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.bit_depth").as("bit_depth"),
          col("meta.num_bytes").as("num_bytes"))
    })
  )

  // ------------------------------------------------------------------
  // DuckDB oracles
  // ------------------------------------------------------------------

  /** Shared CTE: distinct word-3-shingle sets per document (mirrors
    * ShingleHashSet over whitespace tokens). */
  private val gramCte =
    """WITH g AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |    i -> array_to_string((regexp_split_to_array(trim(text), '\s+'))[i:i+2], ' '))) AS grams
      |  FROM documents)""".stripMargin

  // ONE replay for both decontamination forms — the streaming query's
  // whole claim is convergence to the batch answer, so the two gate rows
  // must share the oracle by construction, not by keeping copies in sync
  private val decontaminationOracle =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents WHERE len(trim(text)) > 0),
      |grams AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(1, len(t) - 2),
      |      i -> array_to_string(t[i:i+2], ' ')) AS gs
      |  FROM toks WHERE len(t) >= 3),
      |cg AS (SELECT DISTINCT doc_id, g
      |       FROM grams, UNNEST(gs) AS u(g) WHERE doc_id % 97 <> 0),
      |bg AS (SELECT DISTINCT g
      |       FROM grams, UNNEST(gs) AS u(g) WHERE doc_id % 97 = 0)
      |SELECT cg.doc_id, count(*) AS matched_grams
      |FROM cg JOIN bg USING (g) GROUP BY 1""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "cqf_count_by_flag" ->
      """SELECT l_returnflag, l_suppkey AS suppkey, count(*) AS cnt
        |FROM lineitem WHERE l_suppkey < 10 GROUP BY 1, 2""".stripMargin,

    "cqf_items_by_flag" ->
      """SELECT l_returnflag, l_suppkey AS suppkey, count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "cqf_merge_two_stage" ->
      """SELECT l_returnflag, count(*) AS total_items,
        |count(DISTINCT l_suppkey) AS distinct_suppkeys
        |FROM lineitem GROUP BY 1""".stripMargin,

    "cqf_setops" ->
      """WITH a AS (SELECT l_partkey k, count(*) c FROM lineitem WHERE l_returnflag='R' GROUP BY 1),
        |b AS (SELECT l_partkey k, count(*) c FROM lineitem WHERE l_returnflag='A' GROUP BY 1)
        |SELECT
        |(SELECT count(*) FROM (SELECT k FROM a UNION SELECT k FROM b)) AS union_distinct,
        |(SELECT CAST(coalesce(sum(c),0) AS BIGINT) FROM (SELECT c FROM a UNION ALL SELECT c FROM b)) AS union_total,
        |(SELECT CAST(coalesce(sum(greatest(coalesce(a.c,0), coalesce(b.c,0))),0) AS BIGINT) FROM a FULL JOIN b USING (k)) AS maxu_total,
        |(SELECT count(*) FROM a JOIN b USING (k)) AS inter_distinct,
        |(SELECT CAST(coalesce(sum(least(a.c, b.c)),0) AS BIGINT) FROM a JOIN b USING (k)) AS inter_total,
        |(SELECT count(*) FROM a LEFT JOIN b USING (k) WHERE a.c > coalesce(b.c, 0)) AS diff_distinct,
        |(SELECT CAST(coalesce(sum(greatest(a.c - coalesce(b.c, 0), 0)),0) AS BIGINT) FROM a LEFT JOIN b USING (k)) AS diff_total,
        |(SELECT CAST(coalesce(sum(greatest(a.c - coalesce(b.c, 0), 0)),0) AS BIGINT) FROM a LEFT JOIN b USING (k)) AS satsub_total,
        |(SELECT CAST(coalesce(sum(coalesce(b.c, a.c)),0) AS BIGINT) FROM a FULL JOIN b USING (k)) AS replace_total,
        |(SELECT CAST(coalesce(sum(abs(coalesce(a.c,0) - coalesce(b.c,0))),0) AS BIGINT) FROM a FULL JOIN b USING (k)) AS absdiff_total""".stripMargin,

    "sketch_state_metrics" ->
      """SELECT 'cqf' AS kind, count(l_partkey) AS meta_n,
        |  count(DISTINCT l_partkey) AS meta_distinct,
        |  TRUE AS hll_est_ok, TRUE AS load_ok, TRUE AS err_ok FROM lineitem
        |UNION ALL SELECT 'hll', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE
        |UNION ALL SELECT 'cms', count(l_partkey), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE FROM lineitem
        |UNION ALL SELECT 'bloom', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE
        |UNION ALL SELECT 'td', count(l_quantity), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE FROM lineitem
        |UNION ALL SELECT 'kll', count(l_quantity), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE FROM lineitem
        |UNION ALL SELECT 'ss', count(l_partkey), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE FROM lineitem
        |UNION ALL SELECT 'kmv', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), TRUE, TRUE, TRUE""".stripMargin,

    "cqf_intersect_by_bucket" ->
      """WITH r AS (SELECT l_suppkey k, count(*) c FROM lineitem
        |           WHERE l_returnflag = 'R' GROUP BY 1),
        |g AS (SELECT l_orderkey % 16384 AS bucket, l_suppkey k, count(*) c
        |      FROM lineitem GROUP BY 1, 2),
        |j AS (SELECT g.bucket,
        |        CASE WHEN r.c IS NULL THEN 0 ELSE 1 END AS hit,
        |        least(g.c, coalesce(r.c, 0)) AS mc
        |      FROM g LEFT JOIN r USING (k))
        |SELECT bucket, CAST(sum(hit) AS BIGINT) AS common_suppkeys,
        |  CAST(sum(CASE WHEN hit = 1 THEN mc ELSE 0 END) AS BIGINT) AS min_total
        |FROM j GROUP BY 1""".stripMargin,

    "cqf_zip_flags" ->
      """WITH r AS (SELECT l_suppkey k, count(*) c FROM lineitem WHERE l_returnflag='R' GROUP BY 1),
        |a AS (SELECT l_suppkey k, count(*) c FROM lineitem WHERE l_returnflag='A' GROUP BY 1)
        |SELECT coalesce(r.k, a.k) AS suppkey,
        |coalesce(r.c, 0) AS cnt_r, coalesce(a.c, 0) AS cnt_a
        |FROM r FULL JOIN a ON r.k = a.k""".stripMargin,

    "ref_layout_roundtrip" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_suppkeys,
        |count(*) AS total_rows, TRUE AS probe_eq
        |FROM lineitem GROUP BY 1""".stripMargin,

    "cqf_set_count_probe" ->
      """SELECT l_returnflag,
        |count(*) FILTER (WHERE l_suppkey = 7) AS before_cnt,
        |CAST(12345 AS BIGINT) AS set_cnt,
        |count(*) - count(*) FILTER (WHERE l_suppkey = 7) + 12345 AS set_total,
        |CAST(0 AS BIGINT) AS deleted_cnt,
        |count(*) FILTER (WHERE l_suppkey = 8) AS neighbor_cnt,
        |count(DISTINCT l_suppkey) - CASE WHEN count(*) FILTER (WHERE l_suppkey = 7) > 0 THEN 1 ELSE 0 END AS distinct_after_del
        |FROM lineitem GROUP BY 1""".stripMargin,

    "cqf_string_probe" ->
      """SELECT lang, w AS word, count(*) AS cnt
        |FROM (SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents)
        |WHERE w IN ('data', 'table', 'the', 'spark') GROUP BY 1, 2""".stripMargin,

    "cqf_multiplicity_hist" ->
      """SELECT c AS cnt, count(*) AS n_keys FROM
        |(SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "streaming_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1""".stripMargin,

    "streaming_windowed_distinct" ->
      """SELECT date_trunc('day', ts) AS window_start, event_type,
        |count(DISTINCT user_id) AS distinct_users
        |FROM events GROUP BY 1, 2""".stripMargin,

    // append mode emits exactly the windows the final watermark
    // (max event time - 1 hour) has closed: window end <= watermark.
    // The still-open last day stays in state and is not emitted.
    "streaming_append_windowed" ->
      """WITH m AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events)
        |SELECT date_trunc('day', ts) AS window_start, event_type,
        |count(DISTINCT user_id) AS distinct_users
        |FROM events, m
        |WHERE date_trunc('day', ts) + INTERVAL 1 DAY <= wm
        |GROUP BY 1, 2""".stripMargin,

    "streaming_stateful_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        |count(*) AS n_events FROM events GROUP BY 1""".stripMargin,

    "streaming_dedup_first_seen" ->
      """SELECT min(doc_id) AS kept_id, count(*) AS n_dups
        |FROM documents GROUP BY text""".stripMargin,

    // gap replay with the session_window boundary rule — merge on touch,
    // split only at diff > gap (empirically the SAME rule as the batch
    // operator; StreamingSketchSpec pins it) — session_end = last event
    // + gap, emitted iff the final watermark (max event time - 1 hour)
    // has passed it; open sessions stay in state and are not emitted,
    // which the wm filter reproduces
    // Spark tracks event-time watermarks in MILLISECONDS (event times
    // are floored to ms before max-ing), so the oracle must floor too:
    // a session ending inside the sub-ms gap between max(ts)-1h and
    // floor_ms(max(ts))-1h would otherwise be emitted by the oracle but
    // still open in Spark
    "streaming_sessionization" ->
      """WITH m AS (SELECT make_timestamp(epoch_ms(max(ts)) * 1000)
        |                    - INTERVAL 1 HOUR AS wm
        |           FROM events WHERE ts IS NOT NULL),
        |flagged AS (
        |  SELECT user_id, ts, event_type, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
        |sess AS (
        |  SELECT user_id, ts, event_type,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged),
        |per AS (
        |  SELECT user_id, sid, min(ts) AS session_start,
        |    max(ts) + INTERVAL 30 MINUTE AS session_end,
        |    count(DISTINCT event_type) AS distinct_event_types,
        |    count(*) AS n_events
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, session_start, session_end,
        |       distinct_event_types, n_events
        |FROM per, m WHERE session_end <= wm""".stripMargin,

    // literal replay of the operator: whitespace tokens (the token_counts
    // convention), 3-grams via list slicing, per-doc DISTINCT corpus
    // grams joined to the DISTINCT benchmark gram set, counted per doc
    // exact answer semantics of the heavy-hitter pattern: every bigram
    // whose count reaches the rank-15 count (ties kept; min over all if
    // fewer than 15 distinct) — the sketch candidate pool + recheck is
    // the HOW, asserted complete in-query, so the oracle replays plain
    // exact counts
    "corpus_top_bigrams" ->
      """WITH toks AS (SELECT regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |bg AS (SELECT array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |c AS (SELECT g AS gram, count(*) AS cnt FROM bg GROUP BY 1),
        |th AS (SELECT min(cnt) AS thresh FROM
        |  (SELECT cnt FROM c ORDER BY cnt DESC, gram LIMIT 15))
        |SELECT gram, cnt FROM c, th WHERE cnt >= thresh""".stripMargin,

    "streaming_decontamination" -> decontaminationOracle,

    "benchmark_decontamination" -> decontaminationOracle,

    // same Wang replay as train_test_split, seeded: v = wang64(id ^
    // premix(7)) where premix(7) = wang64(7) = 9406415178646722915
    // unsigned = -9040328895062828701 as the signed BIGINT the xor
    // operates on; the +2^64 mod 2^64 normalizes the signed xor result
    // back onto the unsigned domain the chain runs in. Per-source
    // thresholds = round(fraction * 2^31)
    "corpus_mixture_sample" ->
      """WITH s0 AS (SELECT doc_id, source,
        |              (CAST(xor(doc_id, -9040328895062828701) AS HUGEINT)
        |               + 18446744073709551616) % 18446744073709551616 AS v
        |            FROM documents),
        |s1 AS (SELECT doc_id, source, ((18446744073709551615 - v)
        |         + ((v * 2097152) % 18446744073709551616))
        |         % 18446744073709551616 AS v FROM s0),
        |s2 AS (SELECT doc_id, source, xor(v, v >> 24) AS v FROM s1),
        |s3 AS (SELECT doc_id, source, (v * 265) % 18446744073709551616 AS v FROM s2),
        |s4 AS (SELECT doc_id, source, xor(v, v >> 14) AS v FROM s3),
        |s5 AS (SELECT doc_id, source, (v * 21) % 18446744073709551616 AS v FROM s4),
        |s6 AS (SELECT doc_id, source, xor(v, v >> 28) AS v FROM s5),
        |s7 AS (SELECT doc_id, source,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hi FROM s6),
        |k AS (SELECT doc_id, source,
        |        hi < CASE source WHEN 'src0' THEN 2147483648
        |                         WHEN 'src1' THEN 644245094
        |                         WHEN 'src2' THEN 107374182
        |                         ELSE 1073741824 END AS keep
        |      FROM s7)
        |SELECT source, count(*) AS n_total,
        |       CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(bit_xor(CASE WHEN keep THEN doc_id END), 0)
        |         AS kept_checksum
        |FROM k GROUP BY 1""".stripMargin,

    // full replay of the Wang 64-bit mix in HUGEINT arithmetic (every
    // widening step taken mod 2^64; ~key = 2^64-1 - key; >> on a
    // non-negative HUGEINT is the logical shift), bucket = top 31 bits
    // mod 100, sample threshold = round(0.10 * 2^31) — the identical
    // integer pipeline SplitOps builds with Spark expressions
    "train_test_split" ->
      """WITH s0 AS (SELECT doc_id, CAST(doc_id AS HUGEINT) AS v FROM documents),
        |s1 AS (SELECT doc_id, ((18446744073709551615 - v)
        |         + ((v * 2097152) % 18446744073709551616))
        |         % 18446744073709551616 AS v FROM s0),
        |s2 AS (SELECT doc_id, xor(v, v >> 24) AS v FROM s1),
        |s3 AS (SELECT doc_id, (v * 265) % 18446744073709551616 AS v FROM s2),
        |s4 AS (SELECT doc_id, xor(v, v >> 14) AS v FROM s3),
        |s5 AS (SELECT doc_id, (v * 21) % 18446744073709551616 AS v FROM s4),
        |s6 AS (SELECT doc_id, xor(v, v >> 28) AS v FROM s5),
        |s7 AS (SELECT doc_id,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hi FROM s6),
        |lab AS (SELECT doc_id,
        |         CASE WHEN hi % 100 < 98 THEN 'train'
        |              WHEN hi % 100 < 99 THEN 'valid'
        |              ELSE 'test' END AS split,
        |         hi < 214748365 AS sampled
        |       FROM s7)
        |SELECT split, count(*) AS n_docs, bit_xor(doc_id) AS id_checksum,
        |       CAST(sum(CASE WHEN sampled THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_sampled
        |FROM lab GROUP BY 1""".stripMargin,

    // whitespace rule as token_counts; BPE-ish rule replayed literally:
    // split on \s+ of the trimmed text, plus digit-run and punct-run
    // splits of the RAW text minus one each (split yields runs+1
    // fields, trailing empties kept by both engines). Regex-dialect
    // parity: \w is the same ASCII class in Java regex and RE2; \s
    // differs in ONE code point — Java includes \x0B (vertical tab),
    // RE2 does not — so every whitespace-token oracle in this gate
    // (token_counts, sequence_packing, the recipe filters, this one)
    // assumes the corpus contains no vertical tabs, which the driver's
    // generator guarantees
    "bpeish_token_counts" ->
      """SELECT source,
        |CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
        |  AS BIGINT) AS ws_tokens,
        |CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+'))
        |     + len(regexp_split_to_array(text, '[0-9]+')) - 1
        |     + len(regexp_split_to_array(text, '[^\w\s]+')) - 1 END)
        |  AS BIGINT) AS bpeish_tokens
        |FROM documents GROUP BY 1""".stripMargin,

    // components by the dedup_cluster_reps recursive-CTE replay (ALL
    // docs this time — singletons keep component = own id), including
    // the operator's hot-block guard (blocks over blockCap=5000 docs
    // propose NO pairs — a window count replays capBuckets exactly;
    // never hit at gate SFs where the largest block is ~hundreds, but
    // the replay must model the operator, not the data), then the
    // train_test_split Wang chain applied to the COMPONENT, so a
    // cluster's docs inherit one label; exact distinct components per
    // split pins the labels themselves
    "leakage_safe_split" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, lang, n_chars // 32 AS bucket,
        |    count(*) OVER (PARTITION BY lang, n_chars // 32) AS bc,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
        |      i -> array_to_string((regexp_split_to_array(trim(text), '\s+'))[i:i+2], ' '))) AS grams
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |  WHERE a.bc <= 5000
        |    AND len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |    AND (len(list_intersect(a.grams, b.grams)) * 10)
        |        // len(list_distinct(list_concat(a.grams, b.grams))) >= 8),
        |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id),
        |comp AS (SELECT id, CAST(min(r) AS BIGINT) AS c
        |         FROM reach GROUP BY id),
        |s0 AS (SELECT id, c, CAST(c AS HUGEINT) AS v FROM comp),
        |s1 AS (SELECT id, c, ((18446744073709551615 - v)
        |         + ((v * 2097152) % 18446744073709551616))
        |         % 18446744073709551616 AS v FROM s0),
        |s2 AS (SELECT id, c, xor(v, v >> 24) AS v FROM s1),
        |s3 AS (SELECT id, c, (v * 265) % 18446744073709551616 AS v FROM s2),
        |s4 AS (SELECT id, c, xor(v, v >> 14) AS v FROM s3),
        |s5 AS (SELECT id, c, (v * 21) % 18446744073709551616 AS v FROM s4),
        |s6 AS (SELECT id, c, xor(v, v >> 28) AS v FROM s5),
        |s7 AS (SELECT id, c,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hi FROM s6),
        |lab AS (SELECT id, c,
        |         CASE WHEN hi % 100 < 98 THEN 'train'
        |              WHEN hi % 100 < 99 THEN 'valid'
        |              ELSE 'test' END AS split
        |       FROM s7)
        |SELECT split, count(*) AS n_docs, bit_xor(id) AS id_checksum,
        |  CAST(count(DISTINCT c) AS BIGINT) AS n_clusters
        |FROM lab GROUP BY 1""".stripMargin,

    // pure rank semantics of the cap: the same Wang chain as
    // train_test_split, row_number per source over (hash, doc_id), keep
    // rank <= 15 — the operator's hash prefilter is answer-invariant
    // (enforced in-query by its starvation guard), so the replay needs
    // no margin arithmetic
    "source_cap_sample" ->
      """WITH s0 AS (SELECT doc_id, source,
        |              CAST(doc_id AS HUGEINT) AS v FROM documents),
        |s1 AS (SELECT doc_id, source, ((18446744073709551615 - v)
        |         + ((v * 2097152) % 18446744073709551616))
        |         % 18446744073709551616 AS v FROM s0),
        |s2 AS (SELECT doc_id, source, xor(v, v >> 24) AS v FROM s1),
        |s3 AS (SELECT doc_id, source,
        |         (v * 265) % 18446744073709551616 AS v FROM s2),
        |s4 AS (SELECT doc_id, source, xor(v, v >> 14) AS v FROM s3),
        |s5 AS (SELECT doc_id, source,
        |         (v * 21) % 18446744073709551616 AS v FROM s4),
        |s6 AS (SELECT doc_id, source, xor(v, v >> 28) AS v FROM s5),
        |s7 AS (SELECT doc_id, source,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hi FROM s6),
        |r AS (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY hi, doc_id) AS rk
        |      FROM s7)
        |SELECT source, count(*) AS n_kept, bit_xor(doc_id) AS kept_checksum
        |FROM r WHERE rk <= 15 GROUP BY 1""".stripMargin,

    // the WHOLE recipe replayed literally, stage by stage: quality/
    // repetition permilles by the quality_metrics / repetition_metrics
    // idioms, exact dedup = min(doc_id) per WHITESPACE-NORMALIZED token
    // sequence (the relation rolling_fingerprint actually encodes —
    // "a b" and "a\n b" are one document; raw-text partitioning would
    // model a different operator), 5-gram
    // contamination by the benchmark_decontamination shape at k=5, and
    // BOTH Wang chains (unseeded split v; seed-7-premixed mixture w,
    // premix constant as in corpus_mixture_sample) carried side by side
    // through the same HUGEINT steps — every decision integer-exact, so
    // the per-(split, source) id checksums must agree bit-for-bit
    "training_recipe" ->
      """WITH m AS (
        |  SELECT doc_id, source, text,
        |    CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents),
        |bgr AS (
        |  SELECT doc_id, (max(c) * 1000) // sum(c) AS top_bigram_permille
        |  FROM (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g,
        |          count(*) AS c
        |        FROM m, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
        |        WHERE len(toks) >= 2 GROUP BY doc_id, g)
        |  GROUP BY doc_id),
        |q AS (
        |  SELECT m.doc_id, source, text, len(toks) AS n_words
        |  FROM m LEFT JOIN bgr USING (doc_id)
        |  WHERE doc_id % 97 <> 0
        |    AND len(toks) >= 20
        |    AND (len(list_filter(toks,
        |      t -> t IN ('the','a','an','of','to','and','in','is','it','that')))
        |      * 1000) // len(toks) >= 20
        |    AND coalesce(top_bigram_permille, 0) < 100),
        |d AS (
        |  SELECT doc_id, source, text, n_words
        |  FROM (SELECT q.*, min(doc_id) OVER (PARTITION BY
        |          array_to_string(list_filter(
        |            regexp_split_to_array(text, '\s+'), t -> t <> ''), ' ')
        |        ) AS mid FROM q)
        |  WHERE doc_id = mid),
        |cg AS (
        |  SELECT DISTINCT doc_id, array_to_string(tk[i:i+4], ' ') AS g
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |        FROM d WHERE len(trim(text)) > 0) t,
        |       UNNEST(generate_series(1, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        |bg AS (
        |  SELECT DISTINCT array_to_string(tk[i:i+4], ' ') AS g
        |  FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS tk
        |        FROM documents WHERE doc_id % 97 = 0
        |          AND len(trim(text)) > 0) t,
        |       UNNEST(generate_series(1, len(tk) - 4)) AS u(i)
        |  WHERE len(tk) >= 5),
        |hit AS (SELECT DISTINCT doc_id FROM cg JOIN bg USING (g)),
        |clean AS (SELECT * FROM d
        |          WHERE doc_id NOT IN (SELECT doc_id FROM hit)),
        |c0 AS (SELECT doc_id, source, n_words,
        |         CAST(doc_id AS HUGEINT) AS v,
        |         (CAST(xor(doc_id, -9040328895062828701) AS HUGEINT)
        |           + 18446744073709551616) % 18446744073709551616 AS w
        |       FROM clean),
        |c1 AS (SELECT doc_id, source, n_words,
        |         ((18446744073709551615 - v)
        |           + ((v * 2097152) % 18446744073709551616))
        |           % 18446744073709551616 AS v,
        |         ((18446744073709551615 - w)
        |           + ((w * 2097152) % 18446744073709551616))
        |           % 18446744073709551616 AS w FROM c0),
        |c2 AS (SELECT doc_id, source, n_words,
        |         xor(v, v >> 24) AS v, xor(w, w >> 24) AS w FROM c1),
        |c3 AS (SELECT doc_id, source, n_words,
        |         (v * 265) % 18446744073709551616 AS v,
        |         (w * 265) % 18446744073709551616 AS w FROM c2),
        |c4 AS (SELECT doc_id, source, n_words,
        |         xor(v, v >> 14) AS v, xor(w, w >> 14) AS w FROM c3),
        |c5 AS (SELECT doc_id, source, n_words,
        |         (v * 21) % 18446744073709551616 AS v,
        |         (w * 21) % 18446744073709551616 AS w FROM c4),
        |c6 AS (SELECT doc_id, source, n_words,
        |         xor(v, v >> 28) AS v, xor(w, w >> 28) AS w FROM c5),
        |c7 AS (SELECT doc_id, source, n_words,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hv,
        |         CAST(((w + ((w * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) AS hw
        |       FROM c6),
        |lab AS (SELECT doc_id, source, n_words,
        |         CASE WHEN hv % 100 < 98 THEN 'train'
        |              WHEN hv % 100 < 99 THEN 'valid'
        |              ELSE 'test' END AS split,
        |         hw < CASE source WHEN 'src0' THEN 2147483648
        |                          WHEN 'src1' THEN 644245094
        |                          WHEN 'src2' THEN 107374182
        |                          ELSE 1073741824 END AS keep
        |       FROM c7)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS total_tokens,
        |  bit_xor(doc_id) AS id_checksum,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  coalesce(bit_xor(CASE WHEN keep THEN doc_id END), 0)
        |    AS kept_checksum
        |FROM lab GROUP BY 1, 2""".stripMargin,

    // literal replay of the packing rule: token counts by the
    // token_counts convention, shard = top-31-bits-of-wang64 mod 8
    // (the same HUGEINT chain as train_test_split), per-shard running
    // token offsets over the doc_id order, span indices by integer
    // division — every value BIGINT-exact, so the per-sequence doc-id
    // checksums must agree bit-for-bit
    "sequence_packing" ->
      """WITH tc AS (SELECT doc_id,
        |    CASE WHEN len(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        |  FROM documents),
        |s0 AS (SELECT doc_id, n, CAST(doc_id AS HUGEINT) AS v FROM tc),
        |s1 AS (SELECT doc_id, n, ((18446744073709551615 - v)
        |         + ((v * 2097152) % 18446744073709551616))
        |         % 18446744073709551616 AS v FROM s0),
        |s2 AS (SELECT doc_id, n, xor(v, v >> 24) AS v FROM s1),
        |s3 AS (SELECT doc_id, n, (v * 265) % 18446744073709551616 AS v FROM s2),
        |s4 AS (SELECT doc_id, n, xor(v, v >> 14) AS v FROM s3),
        |s5 AS (SELECT doc_id, n, (v * 21) % 18446744073709551616 AS v FROM s4),
        |s6 AS (SELECT doc_id, n, xor(v, v >> 28) AS v FROM s5),
        |s7 AS (SELECT doc_id, n,
        |         CAST(((v + ((v * 2147483648) % 18446744073709551616))
        |           % 18446744073709551616) >> 33 AS BIGINT) % 8 AS shard
        |       FROM s6),
        |st AS (SELECT doc_id, n, shard,
        |    CAST(coalesce(sum(n) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS s
        |  FROM s7),
        |spans AS (SELECT doc_id, shard, seq,
        |    least(s + n, (seq + 1) * 512) - greatest(s, seq * 512) AS k
        |  FROM st, UNNEST(generate_series(s // 512, (s + n - 1) // 512))
        |    AS u(seq)
        |  WHERE n > 0)
        |SELECT shard, seq, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(k) AS BIGINT) AS n_tokens,
        |  bit_xor(doc_id) AS id_checksum
        |FROM spans GROUP BY 1, 2""".stripMargin,

    // literal replay of the one-pass counters: non-empty lines with
    // per-value occurrence counts (a value's occurrences beyond the
    // first are duplicates; len() = code points on both engines),
    // word 2-grams from the tokens() convention (trailing empty tokens
    // KEPT — regexp_split keeps them, so the expression does too),
    // permilles by the quality_metrics integer idiom
    "repetition_metrics" ->
      """WITH lines AS (
        |  SELECT doc_id, l
        |  FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |        FROM documents), UNNEST(ls) AS u(l)
        |  WHERE len(l) > 0),
        |lc AS (SELECT doc_id, l, count(*) AS c FROM lines GROUP BY 1, 2),
        |la AS (SELECT doc_id,
        |    CAST(sum(c) AS BIGINT) AS n_lines,
        |    CAST(sum(c - 1) AS BIGINT) AS n_dup,
        |    CAST(sum((c - 1) * len(l)) AS BIGINT) AS dup_chars,
        |    CAST(sum(c * len(l)) AS BIGINT) AS total_chars
        |  FROM lc GROUP BY 1),
        |toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |  FROM documents WHERE len(trim(text)) > 0),
        |bg AS (SELECT doc_id, array_to_string(t[i:i+1], ' ') AS g
        |  FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
        |  WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |ba AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    CAST(max(c) AS BIGINT) AS top_n FROM bc GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_lines, 0) AS BIGINT) AS n_lines,
        |  CAST(CASE WHEN coalesce(n_lines, 0) = 0 THEN 0
        |    ELSE (n_dup * 1000) // n_lines END AS BIGINT) AS dup_line_permille,
        |  CAST(CASE WHEN coalesce(total_chars, 0) = 0 THEN 0
        |    ELSE (dup_chars * 1000) // total_chars END AS BIGINT)
        |    AS dup_line_char_permille,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(CASE WHEN coalesce(n_bigrams, 0) = 0 THEN 0
        |    ELSE (top_n * 1000) // n_bigrams END AS BIGINT)
        |    AS top_bigram_permille
        |FROM documents d LEFT JOIN la USING (doc_id)
        |LEFT JOIN ba USING (doc_id)""".stripMargin,

    "rollup_distinct_parts" ->
      """SELECT l_returnflag, l_linestatus,
        |count(DISTINCT l_partkey) AS distinct_parts
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "cqf_distinct_users_by_event" ->
      """SELECT event_type, count(DISTINCT user_id) AS distinct_users,
        |count(*) AS n_events FROM events GROUP BY 1""".stripMargin,

    "join_customer_orders" ->
      """SELECT c_mktsegment, count(DISTINCT o_orderkey) AS distinct_orders,
        |count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1""".stripMargin,

    "cqf_stats_by_flag" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_keys,
        |count(*) AS total_count, TRUE AS invertible
        |FROM lineitem GROUP BY 1""".stripMargin,

    "cqf_udaf_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_suppkeys
        |FROM lineitem GROUP BY 1""".stripMargin,

    "window_running_distinct" ->
      """SELECT event_type, event_id,
        |count(DISTINCT user_id) OVER (PARTITION BY event_type ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_distinct_users
        |FROM events WHERE event_id < 3000""".stripMargin,

    "sketch_union_probes" ->
      """SELECT TRUE AS cqf_union_eq, TRUE AS hll_union_eq,
        |TRUE AS cms_union_eq, TRUE AS bloom_union_ok,
        |TRUE AS td_union_ok, TRUE AS kll_union_ok,
        |(SELECT count(*) FILTER (WHERE l_suppkey = 7) > 0 FROM lineitem) AS cqf_contains_7,
        |TRUE AS wang_roundtrip_ok""".stripMargin,

    "cms_heavy_hitters" ->
      """SELECT l_suppkey AS suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
        |HAVING count(*) >= (SELECT min(cnt) FROM (
        |  SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey
        |  ORDER BY cnt DESC LIMIT 15) topk)""".stripMargin,

    "cms_topk_estimates" ->
      """SELECT l_suppkey, count(*) AS exact_cnt, TRUE AS cms_ok
        |FROM lineitem GROUP BY 1
        |ORDER BY exact_cnt DESC, l_suppkey LIMIT 10""".stripMargin,

    "ss_heavy_hitters" ->
      """SELECT l_suppkey AS suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
        |HAVING count(*) >= (SELECT min(cnt) FROM (
        |  SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey
        |  ORDER BY cnt DESC LIMIT 15) topk)""".stripMargin,

    "ss_topk_guarantees" ->
      """SELECT l_suppkey, count(*) AS exact_cnt, TRUE AS ss_ok
        |FROM lineitem GROUP BY 1
        |ORDER BY exact_cnt DESC, l_suppkey LIMIT 10""".stripMargin,

    "streaming_heavy_hitters" ->
      """SELECT l_suppkey AS suppkey, count(*) AS cnt FROM lineitem GROUP BY 1
        |HAVING count(*) >= (SELECT min(cnt) FROM (
        |  SELECT count(*) AS cnt FROM lineitem GROUP BY l_suppkey
        |  ORDER BY cnt DESC LIMIT 15) topk)""".stripMargin,

    "ss_packed_parity" ->
      """SELECT count(*) AS n_rows, TRUE AS packed_parity_ok, TRUE AS total_ok
        |FROM lineitem""".stripMargin,

    "bloom_membership" ->
      """SELECT DISTINCT l_suppkey AS suppkey FROM lineitem
        |WHERE l_returnflag = 'R'
        |AND l_suppkey IN (SELECT s_suppkey FROM supplier)""".stripMargin,

    "hll_distinct_by_source" ->
      """SELECT source, count(DISTINCT doc_id) AS exact_docs, TRUE AS hll_ok
        |FROM documents GROUP BY 1""".stripMargin,

    "kmv_distinct_by_source" ->
      """SELECT event_type, count(DISTINCT user_id) AS est_distinct,
        |       count(DISTINCT user_id) AS sample_n,
        |       TRUE AS members_ok, TRUE AS is_exact
        |FROM events GROUP BY 1""".stripMargin,

    "kmv_estimate_bound" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_orderkey * 1000000 + l_partkey) AS exact_distinct,
        |       TRUE AS est_ok, TRUE AS estimation_engaged,
        |       CAST(256 AS BIGINT) AS sample_n
        |FROM lineitem GROUP BY 1""".stripMargin,

    "kmv_jaccard_pairs" ->
      // float-op order matches the Spark side exactly: (inter/union) as a
      // double, then *1000.0, then +0.5, then floor — IEEE-deterministic
      """WITH s AS (SELECT DISTINCT o_orderpriority f, o_custkey c FROM orders),
        |n AS (SELECT f, count(*) AS cnt FROM s GROUP BY 1),
        |i AS (SELECT a.f fa, b.f fb, count(*) AS inter
        |      FROM s a JOIN s b ON a.c = b.c AND a.f < b.f GROUP BY 1, 2),
        |p AS (SELECT na.f fa, nb.f fb, na.cnt ca, nb.cnt cb,
        |             COALESCE(i.inter, 0) AS inter
        |      FROM n na JOIN n nb ON na.f < nb.f
        |      LEFT JOIN i ON i.fa = na.f AND i.fb = nb.f)
        |SELECT fa AS pa, fb AS pb,
        |       CAST(floor((inter / CAST(ca + cb - inter AS DOUBLE)) * 1000.0
        |         + 0.5) AS BIGINT) AS jacc_milli,
        |       TRUE AS est_ok, TRUE AS both_exact
        |FROM p""".stripMargin,

    // the KLL exact-mode quantile rule replayed verbatim: sorted frame
    // item at 1-based index ceil(q*n); td_ok is the in-query bound check
    "window_quantile_running" ->
      """WITH f AS (SELECT event_type, event_id, value FROM events
        |           WHERE event_id < 3000 AND value IS NOT NULL),
        |l AS (SELECT event_type, event_id,
        |        list(value) OVER (PARTITION BY event_type ORDER BY event_id
        |          ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS vals
        |      FROM f)
        |SELECT event_type, event_id,
        |  list_sort(vals)[CAST(ceil(0.5 * len(vals)) AS BIGINT)] AS p50,
        |  TRUE AS td_ok
        |FROM l""".stripMargin,

    // frame size + the current user's exact frame count replayed
    // verbatim; the never-underestimate law as a literal TRUE
    "window_cms_running" ->
      """WITH f AS (SELECT event_type, event_id, user_id FROM events
        |           WHERE event_id < 3000 AND user_id IS NOT NULL),
        |l AS (SELECT event_type, event_id, user_id,
        |        list(user_id) OVER (PARTITION BY event_type ORDER BY event_id
        |          ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS vals
        |      FROM f)
        |SELECT event_type, event_id,
        |  CAST(len(list_filter(vals, v -> v = user_id)) AS BIGINT) AS exact_cnt,
        |  CAST(len(vals) AS BIGINT) AS n_frame,
        |  TRUE AS cms_ge_exact
        |FROM l""".stripMargin,

    "window_bloom_running" ->
      """SELECT event_type, event_id,
        |  CAST(count(*) OVER (PARTITION BY event_type ORDER BY event_id
        |    ROWS BETWEEN 99 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_frame,
        |  TRUE AS bloom_hit
        |FROM events WHERE event_id < 3000 AND user_id IS NOT NULL""".stripMargin,

    "td_quantiles_by_event_type" ->
      """SELECT event_type, count(value) AS n,
        |TRUE AS ok50, TRUE AS ok90, TRUE AS ok99
        |FROM events GROUP BY 1""".stripMargin,

    "sessionization" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events WHERE ts IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sess AS (
        |  SELECT user_id, us,
        |    sum(new_s) OVER (PARTITION BY user_id
        |                     ORDER BY us, event_id) AS sid
        |  FROM flagged),
        |per AS (
        |  SELECT user_id, sid, count(*) AS n_ev, max(us) - min(us) AS span_us
        |  FROM sess GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |       CAST(sum(n_ev) AS BIGINT) AS n_events,
        |       max(n_ev) AS max_session_events, max(span_us) AS max_session_span_us
        |FROM per GROUP BY 1""".stripMargin,

    // FLOOR day division, not DuckDB's truncate-toward-zero `//`: the
    // Spark side floors via the pmod idiom so pre-1970 timestamps land
    // in the correct (earlier) day — subtracting the positive remainder
    // first makes the numerator exactly divisible, so `//` is then exact
    // for both signs and the two engines replay the identical definition
    "sessionization_daybounded" ->
      """WITH base AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us,
        |    (epoch_us(ts)
        |       - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
        |      // 86400000000 AS d
        |  FROM events WHERE ts IS NOT NULL),
        |flagged AS (
        |  SELECT user_id, d,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM base
        |  WINDOW w AS (PARTITION BY user_id, d ORDER BY us, event_id))
        |SELECT user_id, d AS session_day,
        |       CAST(sum(new_s) AS BIGINT) AS n_sessions,
        |       count(*) AS n_events
        |FROM flagged GROUP BY 1, 2""".stripMargin,

    "kll_quantiles_by_flag" ->
      """SELECT l_returnflag, count(l_extendedprice) AS n, TRUE AS ok50, TRUE AS ok95
        |FROM lineitem GROUP BY 1""".stripMargin,

    "table_profile" ->
      """WITH top AS (SELECT l_returnflag AS flag_top, count(*) AS flag_top_cnt
        |             FROM lineitem GROUP BY 1 ORDER BY 2 DESC, 1 LIMIT 1)
        |SELECT (SELECT count(*) FROM lineitem) AS n_rows,
        |       (SELECT count(*) - count(l_extendedprice) FROM lineitem)
        |         AS price_nulls,
        |       (SELECT min(l_extendedprice) FROM lineitem) AS price_min,
        |       (SELECT max(l_extendedprice) FROM lineitem) AS price_max,
        |       (SELECT count(DISTINCT l_partkey) FROM lineitem) AS pk_distinct,
        |       TRUE AS pk_hll_ok, TRUE AS price_p50_ok, TRUE AS price_p95_ok,
        |       flag_top, flag_top_cnt, TRUE AS flag_top_ok
        |FROM top""".stripMargin,

    "dedup_exact_props" ->
      """SELECT props, min(event_id) AS kept_event_id, count(*) AS n_dups
        |FROM events GROUP BY 1""".stripMargin,

    // group by the WHITESPACE-NORMALIZED token sequence — the relation
    // rolling_fingerprint encodes (trim + split on runs of whitespace),
    // not raw text equality: "a  b" and "a\nb" are one document to the
    // operator. Library-wide assumption: no 64-bit fingerprint collision
    // between DISTINCT normalized texts (~1e-11 at 1M docs; a collision
    // would both fail this gate and over-merge the dedup itself)
    "dedup_exact_fingerprint" ->
      """SELECT min(doc_id) AS kept_id, count(*) AS n_dups
        |FROM documents GROUP BY array_to_string(list_filter(
        |  regexp_split_to_array(text, '\s+'), t -> t <> ''), ' ')""".stripMargin,

    // bc replays ngramJaccardPairs' capBuckets guard (blocks over 5000
    // docs propose no pairs) — unhit at gate SFs, but part of the op
    "ngram_jaccard_hist" ->
      """WITH g AS (
        |  SELECT doc_id, lang, n_chars // 32 AS bucket,
        |    count(*) OVER (PARTITION BY lang, n_chars // 32) AS bc,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
        |      i -> array_to_string((regexp_split_to_array(trim(text), '\s+'))[i:i+2], ' '))) AS grams
        |  FROM documents),
        |p AS (
        |  SELECT len(list_intersect(a.grams, b.grams)) AS inter,
        |    len(list_distinct(list_concat(a.grams, b.grams))) AS uni
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |  WHERE a.bc <= 5000)
        |SELECT (inter * 10) // uni AS jaccard_decile, count(*) AS n_pairs
        |FROM p WHERE uni > 0 GROUP BY 1""".stripMargin,

    // bc replays the capBuckets hot-block guard, as in leakage_safe_split
    "dedup_cluster_reps" ->
      """WITH RECURSIVE g AS (
        |  SELECT doc_id, lang, n_chars // 32 AS bucket,
        |    count(*) OVER (PARTITION BY lang, n_chars // 32) AS bc,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
        |      i -> array_to_string((regexp_split_to_array(trim(text), '\s+'))[i:i+2], ' '))) AS grams
        |  FROM documents),
        |p AS (
        |  SELECT a.doc_id AS u, b.doc_id AS v
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.bucket = b.bucket
        |    AND a.doc_id < b.doc_id
        |  WHERE a.bc <= 5000
        |    AND len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |    AND (len(list_intersect(a.grams, b.grams)) * 10)
        |        // len(list_distinct(list_concat(a.grams, b.grams))) >= 8),
        |e AS (SELECT u, v FROM p UNION SELECT v AS u, u AS v FROM p),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.id)
        |SELECT id, CAST(min(r) AS BIGINT) AS component
        |FROM reach GROUP BY id HAVING id <> min(r)""".stripMargin,

    "minhash_lsh_candidates" -> (gramCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        |CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS uni
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |AND len(list_intersect(a.grams, b.grams)) * 1000000
        |    >= 800000 * len(list_distinct(list_concat(a.grams, b.grams)))""".stripMargin),

    // identical to minhash_lsh_candidates' all-pairs oracle: the
    // incremental build driven from Structured Streaming must converge
    // to the from-scratch answer, with the ENGINE choosing the batches
    "streaming_dedup_incremental" -> (gramCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        |CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS uni
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |AND len(list_intersect(a.grams, b.grams)) * 1000000
        |    >= 800000 * len(list_distinct(list_concat(a.grams, b.grams)))""".stripMargin),

    // identical to minhash_lsh_candidates' all-pairs oracle: the
    // incremental build must converge to the from-scratch answer
    "dedup_incremental" -> (gramCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        |CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS uni
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |AND len(list_intersect(a.grams, b.grams)) * 1000000
        |    >= 800000 * len(list_distinct(list_concat(a.grams, b.grams)))""".stripMargin),

    "simhash_near_dups" -> (gramCte +
      """
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |CAST(len(list_intersect(a.grams, b.grams)) AS BIGINT) AS inter,
        |CAST(len(list_distinct(list_concat(a.grams, b.grams))) AS BIGINT) AS uni
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE len(list_distinct(list_concat(a.grams, b.grams))) > 0
        |AND len(list_intersect(a.grams, b.grams)) * 1000000
        |    >= 900000 * len(list_distinct(list_concat(a.grams, b.grams)))""".stripMargin),

    // the derived relation replays the Spark side's planted copies
    // verbatim (identical copy: cos exactly 1; negated copy: cos -1)
    "embedding_near_dups" ->
      """WITH e AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL SELECT vec_id + 10000000, embedding
        |    FROM embeddings WHERE vec_id < 8
        |  UNION ALL SELECT vec_id + 20000000, list_transform(embedding, x -> -x)
        |    FROM embeddings WHERE vec_id < 8)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |  CAST(b.embedding AS DOUBLE[])) >= 0.8""".stripMargin,

    "quality_metrics" ->
      """SELECT doc_id,
        |CAST(len(toks) AS BIGINT) AS n_words,
        |CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_words,
        |CAST(CASE WHEN len(toks)=0 THEN 0 ELSE (len(list_filter(toks, t -> t IN ('the','a','an','of','to','and','in','is','it','that'))) * 1000) // len(toks) END AS BIGINT) AS stopword_permille,
        |CAST(CASE WHEN len(toks)=0 THEN 0 ELSE (len(list_distinct(toks)) * 1000) // len(toks) END AS BIGINT) AS distinct_permille,
        |CAST(CASE WHEN len(toks)=0 THEN 0 ELSE (CAST(list_aggregate(list_transform(toks, t -> length(t)), 'sum') AS BIGINT) * 1000) // len(toks) END AS BIGINT) AS mean_word_len_permille
        |FROM (SELECT doc_id,
        |  CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
        |       ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
        |  FROM documents)""".stripMargin,

    "token_counts" ->
      """SELECT source,
        |CAST(sum(CASE WHEN len(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT) AS total_tokens,
        |CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1""".stripMargin,

    "lang_id_confusion" ->
      """WITH t AS (SELECT lang, regexp_split_to_array(lower(text), '\s+') AS toks FROM documents),
        |h AS (SELECT lang,
        |  len(list_filter(toks, w -> w IN ('the','and','of','to','is','that','with','for'))) AS en,
        |  len(list_filter(toks, w -> w IN ('el','los','las','por','una','como','pero','sus'))) AS es,
        |  len(list_filter(toks, w -> w IN ('le','les','des','est','dans','pour','avec','sur'))) AS fr,
        |  len(list_filter(toks, w -> w IN ('der','die','das','und','ist','nicht','mit','ein'))) AS de,
        |  len(list_filter(toks, w -> w IN ('的','是','了','在','我','有','他','这'))) AS zh
        |  FROM t),
        |g AS (SELECT lang, CASE WHEN greatest(en,es,fr,de,zh) = 0 THEN 'und'
        |  WHEN de = greatest(en,es,fr,de,zh) THEN 'de'
        |  WHEN en = greatest(en,es,fr,de,zh) THEN 'en'
        |  WHEN es = greatest(en,es,fr,de,zh) THEN 'es'
        |  WHEN fr = greatest(en,es,fr,de,zh) THEN 'fr'
        |  ELSE 'zh' END AS guessed FROM h)
        |SELECT lang, guessed, count(*) AS n FROM g GROUP BY 1, 2""".stripMargin,

    "ann_brute_topk" ->
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings c WHERE c.vec_id != q.qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    "ann_ivf_exhaustive" ->
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings c WHERE c.vec_id != q.qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    // the persisted index served exhaustively must reproduce brute force
    // exactly — same oracle as ann_ivf_exhaustive
    "ann_ivf_persisted" ->
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings c WHERE c.vec_id != q.qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    // incrementally grown index, served exhaustively == the same
    // full-corpus brute-force answer (the index construction path is
    // invisible to the oracle by design: growth must not change answers)
    "ann_ivf_incremental" ->
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings c WHERE c.vec_id != q.qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    // the stream-ingested index serves the identical full-corpus answer
    "streaming_ann_ingest" ->
      """WITH q AS (SELECT vec_id qid, embedding qv FROM embeddings WHERE vec_id < 10),
        |s AS (SELECT q.qid AS query_id, c.vec_id AS neighbor_id,
        |      list_cosine_similarity(CAST(q.qv AS DOUBLE[]), CAST(c.embedding AS DOUBLE[])) AS cos
        |      FROM q, embeddings c WHERE c.vec_id != q.qid)
        |SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank FROM s)
        |WHERE rank <= 3""".stripMargin,

    // recall bound-check oracles for the deliberately-lossy ANN variants:
    // the Spark query computes brute-force top-3 in-query and asserts the
    // approximate recall sits above its threshold; the oracle reproduces
    // the exact row counts plus literal TRUE, so a broken index flips
    // recall_ok and fails the hash compare
    "ann_ivf_topk" ->
      """SELECT count(*) AS n_queries, 3 * count(*) AS n_pairs, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "ann_lsh_topk" ->
      """SELECT count(*) AS n_queries, 3 * count(*) AS n_pairs, TRUE AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin,

    "join_enrich_topsupp" ->
      """SELECT l_returnflag, s_name, count(*) AS cnt
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY 1, 2""".stripMargin,

    "window_top_events" ->
      """SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
        |  FROM events)
        |WHERE rn <= 3""".stripMargin,

    "multimodal_meta" ->
      """SELECT source, count(*) AS n_blobs, CAST(sum(strlen(text)) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1""".stripMargin,

    "multimodal_decode" ->
      """SELECT doc_id,
        |CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'wav' END AS format,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (n_chars % 100 + 1) ELSE 0 END AS INT) AS width,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 50 + 2) ELSE 0 END AS INT) AS height,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (n_chars % 100 + 1) % 4
        |     ELSE 1 + (n_chars % 100 + 1) % 2 END AS INT) AS channels,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 8000 + (doc_id % 50 + 2) END AS INT) AS sample_rate,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 8 ELSE 16 END AS INT) AS bit_depth,
        |CAST(CASE WHEN doc_id % 2 = 0 THEN 45 ELSE 44 END AS BIGINT) AS num_bytes
        |FROM documents""".stripMargin
  )

  private implicit class SeqToDf(val words: Seq[String]) extends AnyVal {
    def asDf(s: SparkSession)(name: String): DataFrame = {
      val session = s
      import session.implicits._
      words.toDF(name)
    }
  }
}
