package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what Spark did on behalf of each runner span, through Spark's
  * public listener interfaces only. Every record is kept in memory and
  * written out by [[toJson]] once the run has ended.
  *
  * Attribution: the runner sets the local property [[SpanProp]] around
  * each call it makes, and Spark copies it onto every job the call
  * launches. Local properties are inherited by threads the call starts, so
  * a streaming query's micro-batch jobs land on the span that started it.
  * A query execution is placed by time: the span that was open when its
  * planning began (the client is closed-loop, so one span is open). */
final class Tracer(spark: SparkSession) {
  import Tracer._

  /** Span that is current on the runner thread; read by listener callbacks
    * that Spark invokes synchronously (streaming query start). */
  @volatile var currentSpan: Long = -1L
  private val lock = new Object
  @volatile private var lastEventNs: Long = System.nanoTime()
  private def touch(): Unit = lastEventNs = System.nanoTime()

  private val jobs = mutable.LinkedHashMap[Int, mutable.Map[String, Any]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), mutable.Map[String, Any]]()
  private val stageJob = mutable.Map[Int, Int]()
  private val qes = mutable.ArrayBuffer[Map[String, Any]]()
  private val batches = mutable.ArrayBuffer[Map[String, Any]]()
  private val streamSpan = mutable.Map[String, Long]()
  private var jobsOpen = 0

  private object Helper extends AdaptiveSparkPlanHelper

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      touch()
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(-1L)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobs(e.jobId) = mutable.Map("job" -> e.jobId, "span" -> span,
        "start_ms" -> e.time, "end_ms" -> e.time, "ok" -> true)
      jobsOpen += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      touch()
      jobs.get(e.jobId).foreach { j =>
        j("end_ms") = e.time
        j("ok") = e.jobResult == JobSucceeded
      }
      jobsOpen -= 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      touch()
      val info = e.stageInfo
      val st = stage(info.stageId, info.attemptNumber())
      st("tasks") = info.numTasks
      st("submit_ms") = info.submissionTime.getOrElse(-1L)
      st("complete_ms") = info.completionTime.getOrElse(-1L)
      st("ok") = info.failureReason.isEmpty
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      touch()
      val st = stage(e.stageId, e.stageAttemptId)
      def add(k: String, v: Long): Unit = st(k) = st.getOrElse(k, 0L).asInstanceOf[Long] + v
      add("task_ends", 1L)
      if (e.reason != org.apache.spark.Success) add("failed_tasks", 1L)
      val m = e.taskMetrics
      if (m != null) {
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("gc_ms", m.jvmGCTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes",
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private def stage(id: Int, attempt: Int): mutable.Map[String, Any] =
    stages.getOrElseUpdate((id, attempt), mutable.Map("stage" -> id, "attempt" -> attempt,
      "job" -> stageJob.getOrElse(id, -1)))

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L, ok = false)
  }

  private def record(funcName: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    touch()
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val startMs = Seq("planning", "optimization", "analysis").flatMap(phases.get)
      .headOption.map(_.startTimeMs).getOrElse(System.currentTimeMillis() - durationNs / 1000000)
    val (exchanges, codegen) =
      try {
        val nodes = Helper.collect(qe.executedPlan) {
          case _: Exchange => "x"
          case _: WholeStageCodegenExec => "c"
        }
        (nodes.count(_ == "x"), nodes.count(_ == "c"))
      } catch { case scala.util.control.NonFatal(_) => (-1, -1) }
    lock.synchronized {
      qes += Map("qe" -> qe.id, "start_ms" -> startMs, "func" -> funcName, "ok" -> ok,
        "duration_ms" -> durationNs / 1e6, "analysis_ms" -> ms("analysis"),
        "optimize_ms" -> ms("optimization"), "plan_ms" -> ms("planning"),
        "exchanges" -> exchanges, "codegen_stages" -> codegen)
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      lock.synchronized { touch(); streamSpan(e.runId.toString) = currentSpan }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      touch()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Seq.empty)
      lock.synchronized {
        batches += Map("run" -> p.runId.toString,
          "span" -> streamSpan.getOrElse(p.runId.toString, -1L),
          "batch" -> p.batchId, "input_rows" -> p.numInputRows, "durations_ms" -> d,
          "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
          "state_rows_updated" -> ops.map(_.numRowsUpdated).sum,
          "state_rows_total" -> ops.map(_.numRowsTotal).sum)
      }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = touch()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every job this tracer saw has ended and no event arrived
    * for a quiet period, so the records are complete before they are read.
    * Listener delivery is asynchronous and Spark offers no public flush. */
  def drain(quietMs: Long = 400, maxMs: Long = 20000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    def quiet = System.nanoTime() - lastEventNs > quietMs * 1000000L
    while (System.nanoTime() < deadline && !(quiet && lock.synchronized(jobsOpen <= 0)))
      Thread.sleep(50)
  }

  def toJson: Map[String, Any] = lock.synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq,
      "stages" -> stages.values.map(_.toMap).toSeq,
      "query_executions" -> qes.toSeq,
      "stream_batches" -> batches.toSeq)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
