package graft

import org.apache.spark.sql.SparkSession

/** Descriptions of the Spark jobs `body` starts, read once the listener
  * bus has delivered them: a listener sees events in order, so once it
  * sees a marker job run after `body`, it has seen every job `body`
  * started. Shared by the specs that pin job counts. */
object JobsOf {
  def apply(spark: SparkSession)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val marker = "graft-spec: listener bus drained"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val d = String.valueOf(Option(e.properties)
          .map(_.getProperty("spark.job.description")).orNull)
        if (d == marker) drained.countDown() else descriptions.add(d)
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      val caller = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(caller)
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus stuck")
    } finally sc.removeSparkListener(listener)
    descriptions.toArray(Array.empty[String]).toSeq
  }
}
