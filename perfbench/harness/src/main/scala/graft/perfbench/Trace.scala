package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners. Every job carries the span id of the
  * query and phase (build / execute) that launched it in the local
  * property [[Trace.SpanProp]]; the listeners copy what the scheduler,
  * the planner and the streaming engine report into plain records that
  * [[Main]] writes out and `perfbench/metrics.py` folds into per-layer
  * metrics. Attached only for traced sweeps, detached otherwise, so
  * untraced sweeps in the same run measure the overhead. */
final class Trace(spark: SparkSession) {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  // stage id -> task counters, filled by onTaskEnd, read by onStageCompleted
  private val taskAgg =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  // stage id -> job id, so stage records carry their parent job
  private val jobOfStage = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sched = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(Trace.SpanProp))
        .orNull
      jobStart.put(e.jobId, (e.time, span))
      e.stageIds.foreach(s => jobOfStage.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, span) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, null))
      jobs.add(Map("job" -> e.jobId, "parent" -> span, "start_ms" -> t0,
        "end_ms" -> e.time,
        "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = taskAgg.computeIfAbsent(e.stageId, _ => new Array[Double](9))
      val m = e.taskMetrics
      a.synchronized {
        a(0) += 1
        if (!e.taskInfo.successful) a(1) += 1
        if (m != null) {
          a(2) += m.executorRunTime / 1e3
          a(3) += m.executorCpuTime / 1e9
          a(4) += m.shuffleWriteMetrics.bytesWritten
          a(5) += m.shuffleReadMetrics.totalBytesRead
          a(6) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(7) += m.inputMetrics.bytesRead
          a(8) += m.inputMetrics.recordsRead
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val a = Option(taskAgg.remove(i.stageId)).getOrElse(new Array[Double](9))
      stages.add(Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "start_ms" -> i.submissionTime.getOrElse(0L),
        "end_ms" -> i.completionTime.getOrElse(0L),
        "tasks" -> a(0), "failed_tasks" -> a(1), "task_run_s" -> a(2),
        "task_cpu_s" -> a(3), "shuffle_write_b" -> a(4),
        "shuffle_read_b" -> a(5), "spill_b" -> a(6), "input_b" -> a(7),
        "input_rows" -> a(8), "job" -> jobOfStage.getOrDefault(i.stageId, -1)))
    }
  }

  private val planner = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      record(fn, qe, ns, ok = true)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit =
      record(fn, qe, 0L, ok = false)
    private def record(fn: String, qe: QueryExecution, ns: Long,
        ok: Boolean): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans.add(Map("fn" -> fn, "end_ms" -> System.currentTimeMillis(),
        "exec_s" -> ns / 1e9, "ok" -> ok,
        "analyze_ms" -> ms("analysis"), "optimize_ms" -> ms("optimization"),
        "physical_ms" -> ms("planning")))
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(Map("run" -> p.runId.toString, "batch" -> p.batchId,
        "at_ms" -> System.currentTimeMillis(),
        "input_rows" -> p.numInputRows,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_mem_b" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sched)
    spark.listenerManager.register(planner)
    spark.streams.addListener(streams)
  }

  /** Detach after draining the listener bus, so every event of the
    * traced sweep is recorded before the next untraced one starts. */
  def detach(): Unit = {
    org.apache.spark.sql.graftbridge.Bridge.flushListenerBus(spark)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(planner)
    spark.sparkContext.removeSparkListener(sched)
  }

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "stages" -> stages.asScala.toSeq,
    "plans" -> plans.asScala.toSeq, "progress" -> progress.asScala.toSeq)
}

object Trace {

  /** Local property naming the span (query + phase) a job belongs to;
    * Spark copies local properties into every job it launches,
    * including jobs of streaming micro-batch threads started from it. */
  val SpanProp = "perfbench.span"
}
