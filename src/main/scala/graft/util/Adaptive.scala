package graft.util

import org.apache.spark.sql.SparkSession

/** Session-scoped shuffle tuning for the multi-action state pipelines
  * (incremental dedup / IVF index maintenance). */
object Adaptive {

  /** Run `f` with AQE OFF. Used for control actions — commit-marker
    * and stats reads, delta fingerprint aggs, tiny collects — which are
    * metadata- or delta-aggregate-sized BY CONSTRUCTION at any corpus
    * scale and contain no joins whose strategy AQE could improve, so
    * adaptive execution only adds a re-planning round (a separate job
    * with its own scheduling latency) per exchange. IncrementalDedup
    * also runs its data-bearing stages (the candidate bucket join, the
    * verify and pair append) under it: their skew is bounded by the
    * bucket cap and both sides are delta-proportional, so their static
    * plans need no runtime re-planning.
    * Restores the caller's setting.
    *
    * Assumes one thread drives `spark` meanwhile: the setting is flipped
    * on the shared session conf, so a concurrent query on the same
    * session sees it too. Inside `foreachBatch` the batch frames run
    * under the stream's cloned session, which does not see a flip made
    * on the outer session. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T =
    withConf(spark, "spark.sql.adaptive.enabled", "false")(f)

  /** Run `f` with AQE small-partition coalescing ON (optimization guide
    * §2.2): a state pipeline executes dozens of control queries whose
    * shuffles carry KB-sized frames (markers, counts, candidate ids) —
    * at a fixed spark.sql.shuffle.partitions every one of them schedules
    * a full set of post-shuffle tasks that each carry microseconds of
    * work and milliseconds of overhead. AQE coalescing collapses them to
    * advisory-sized partitions; at production shuffle sizes partitions
    * already exceed the advisory target, so this is scale-neutral (it
    * never splits, only merges). Restores the caller's setting after —
    * the bench session keeps coalescing OFF globally so the frozen
    * headline-build plan stays byte-comparable across rounds.
    *
    * Same single-threaded assumption as [[withoutAqe]]: the flip is on
    * the shared session conf, visible to concurrent queries and not to
    * a `foreachBatch` frame running under the stream's cloned session. */
  def withCoalescedShuffles[T](spark: SparkSession)(f: => T): T =
    withConf(spark, "spark.sql.adaptive.coalescePartitions.enabled", "true")(f)

  /** Set `key` to `value` for the duration of `f`, then restore the
    * caller's setting (or unset it if it had none). */
  private def withConf[T](spark: SparkSession, key: String, value: String)(f: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
