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
    * Restores the caller's setting. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

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
    * headline-build plan stays byte-comparable across rounds. */
  def withCoalescedShuffles[T](spark: SparkSession)(f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try f finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
