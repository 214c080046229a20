package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the public Spark listeners saw during one operation. */
final class OpCounters {
  var jobs, stages, tasks, sqlExecutions = 0L
  val jobStarts = scala.collection.mutable.Map[Int, Long]()
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  var analysisMs, optimizationMs, planningMs = 0L
  var taskRunMs, taskCpuNs, taskGcMs = 0L
  var filesRead, bytesRead, recordsRead = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var batches, triggerMs, addBatchMs, walCommitMs = 0L

  /** Seconds covered by at least one running job. */
  def jobSeconds: Double = {
    var covered = 0L
    var end = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered / 1e3
  }
}

/** The Spark, query-execution and streaming listeners that attribute
  * their events to the operation in flight. [[attach]] registers them
  * on the session and [[detach]] removes them. Operations run one at a
  * time, and [[finish]] drains the listener bus before the next one
  * begins, so no event can land on the wrong one.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var cur = new OpCounters

  def begin(): Unit = cur = new OpCounters

  def finish(): OpCounters = {
    ListenerBusDrain(spark.sparkContext)
    cur
  }

  private def update(f: OpCounters => Unit): Unit = synchronized(f(cur))

  private object Plans extends AdaptiveSparkPlanHelper {
    def filesRead(qe: QueryExecution): Long =
      collectWithSubqueries(qe.executedPlan) {
        case p if p.children.isEmpty && p.metrics.contains("numFiles") =>
          p.metrics("numFiles").value
      }.sum
  }

  private def onExecution(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val files = scala.util.Try(Plans.filesRead(qe)).getOrElse(0L)
    update { c =>
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.filesRead += files
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      update { c => c.jobs += 1; c.jobStarts(e.jobId) = e.time }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = update { c =>
      c.jobStarts.remove(e.jobId).foreach(s => c.jobIntervals += (s -> e.time))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      update(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = update { c =>
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskRunMs += m.executorRunTime
        c.taskCpuNs += m.executorCpuTime
        c.taskGcMs += m.jvmGCTime
        c.bytesRead += m.inputMetrics.bytesRead
        c.recordsRead += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case _: SparkListenerSQLExecutionStart => update(_.sqlExecutions += 1)
      case _ =>
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = onExecution(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = onExecution(qe)
  }

  private val streamingListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      update { c =>
        c.batches += 1
        c.triggerMs += ms("triggerExecution")
        c.addBatchMs += ms("addBatch")
        c.walCommitMs += ms("walCommit") + ms("commitOffsets")
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(executionListener)
    spark.streams.addListener(streamingListener)
  }

  /** Removes the listeners once every event posted so far reached them. */
  def detach(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(executionListener)
    spark.streams.removeListener(streamingListener)
  }
}
