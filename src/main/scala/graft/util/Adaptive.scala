package graft.util

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Static planning for graft's multi-action state pipelines. */
object Adaptive {

  private val Key = "spark.sql.adaptive.enabled"

  /** Per session with an open scope: how many are open, and the caller's
    * setting the first of them found. */
  private val open = mutable.HashMap.empty[SparkSession, (Int, Option[String])]

  /** Run `f` with AQE off on `spark`, then give back the caller's setting
    * (or its absence). The incremental state pipelines run dozens of
    * small actions per batch — commit-marker reads, delta fingerprints,
    * ids-only semi-joins, k-means partials, candidate joins whose skew
    * the bucket cap bounds — and none holds a join whose strategy AQE
    * could improve, so adaptive execution only adds a re-planning job
    * per exchange.
    *
    * Only frames of `spark` plan under the flip: a caller's frame from
    * another session (a `foreachBatch` micro-batch) is re-bound first
    * (`GraftBridge.bind`). The flip is on the shared session conf. Scopes
    * that overlap on one session, nested or on other threads, keep AQE
    * off until the last one ends, which gives back the setting the first
    * one found; any other query on the session meanwhile plans with AQE
    * off too. */
  def withoutAqe[T](spark: SparkSession)(f: => T): T = {
    open.synchronized {
      // getOption would read an unset key's default, and restoring that
      // would pin it on the session
      val (n, saved) = open.getOrElse(spark, (0, spark.conf.getAll.get(Key)))
      spark.conf.set(Key, "false")
      open(spark) = (n + 1, saved)
    }
    try f finally open.synchronized {
      val (n, saved) = open(spark)
      if (n > 1) open(spark) = (n - 1, saved)
      else {
        open -= spark
        saved.fold(spark.conf.unset(Key))(spark.conf.set(Key, _))
      }
    }
  }
}
