package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory span recorder plus the Spark-side counters the traced run
  * needs. Spans are taken around each call the benchmark makes into a
  * graft layer; when tracing is off, [[span]] only runs the body.
  * Everything here is raw data: the arithmetic over it (self time,
  * driver gap, stage grouping) lives in `perfbench/metrics.py`. */
final class Trace(val runId: String) {
  import Trace._
  @volatile var enabled = false

  private val spans = ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0

  /** Time `f` as a span of `layer` when tracing is on. Single-threaded:
    * the benchmark is one closed-loop client. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, layer, name, t0, t1)
      }
    }

  // --- Spark counters, recorded by listeners while tracing is on -------
  // Listener timestamps are wall-clock millis; spans are nanoTime. The
  // offset taken at construction maps both onto one nanosecond axis.
  private val nanoMinusMillis = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def msToNs(ms: Long): Long = ms * 1000000L + nanoMinusMillis

  private val jobs = ArrayBuffer[Job]()
  private val stages = scala.collection.mutable.LinkedHashMap[(Int, Int), Stage]()
  private val progress = ArrayBuffer[Map[String, Any]]()

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      jobs += Job(e.jobId, msToNs(e.time), -1L, desc, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endNs = msToNs(e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val st = stages.getOrElseUpdate((e.stageId, e.stageAttemptId),
        Stage(e.stageId, e.stageAttemptId))
      st.tasks += 1
      st.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { progress += Trace.progressRecord(e.progress) }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamingListener)
    enabled = true
  }

  /** Stop tracing and wait (bounded) for the asynchronous listener bus
    * to deliver the end of every job it reported starting. */
  def detach(spark: SparkSession): Unit = {
    enabled = false
    val deadline = System.nanoTime() + 10000000000L
    while (synchronized(jobs.exists(_.endNs < 0)) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200) // trailing task-end events of the last stage
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamingListener)
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "run_id" -> runId,
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "layer" -> s.layer, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs)).toSeq,
      "jobs" -> jobs.map(j => Map("id" -> j.id, "start_ns" -> j.startNs,
        "end_ns" -> j.endNs, "description" -> j.description,
        "stage_ids" -> j.stageIds)).toSeq,
      "stages" -> stages.values.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "shuffle_write_bytes" -> s.shuffleWrite,
        "shuffle_read_bytes" -> s.shuffleRead, "spill_bytes" -> s.spill,
        "task_ms" -> s.durations.toSeq)).toSeq,
      "progress" -> progress.toSeq)
  }
}

object Trace {
  final case class Span(id: Int, parent: Int, layer: String, name: String,
      startNs: Long, endNs: Long)
  final case class Job(id: Int, startNs: Long, var endNs: Long,
      description: String, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, var tasks: Int = 0,
      var runMs: Long = 0, var gcMs: Long = 0, var shuffleWrite: Long = 0,
      var shuffleRead: Long = 0, var spill: Long = 0,
      durations: ArrayBuffer[Long] = ArrayBuffer())

  /** The fields of one micro-batch progress report the benchmark uses. */
  def progressRecord(p: org.apache.spark.sql.streaming.StreamingQueryProgress)
      : Map[String, Any] = {
    val d = p.durationMs
    def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val ops = p.stateOperators.toSeq
    Map(
      "query" -> Option(p.name).getOrElse(""),
      "batch_id" -> p.batchId,
      "timestamp" -> p.timestamp,
      "input_rows" -> p.numInputRows,
      "trigger_ms" -> dur("triggerExecution"),
      "add_batch_ms" -> dur("addBatch"),
      "wal_commit_ms" -> dur("walCommit"),
      "planning_ms" -> dur("queryPlanning"),
      "state_rows" -> ops.map(_.numRowsTotal).sum,
      "state_bytes" -> ops.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
  }
}
