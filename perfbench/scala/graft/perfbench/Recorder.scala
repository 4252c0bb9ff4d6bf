package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collects Spark's public listener events in memory; `result` hands them
  * to the output file when the run ends.
  *
  * Every stage records its shuffle bytes written and its end time, which
  * `shuffle_mb` needs. While `tracing` is set, stages record their full task
  * metrics, and job, query-execution (`QueryPlanningTracker` phases,
  * executed-plan SQL metrics) and streaming-progress events are kept too.
  * The other listeners are attached only when `trace` is set. Callers flip
  * `tracing` only between passes, after `flush`. */
final class Recorder(spark: SparkSession, clock: Clock, trace: Boolean) {
  @volatile var tracing = false
  private val stages = new ConcurrentLinkedQueue[Json.Obj]
  private val jobs = new ConcurrentLinkedQueue[Json.Obj]
  private val actions = new ConcurrentLinkedQueue[Json.Obj]
  private val batches = new ConcurrentLinkedQueue[Json.Obj]

  private def ms(t: Option[Long]): Any = t.map(_.toDouble).orNull

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val base = Seq[(String, Any)](
        "id" -> si.stageId, "attempt" -> si.attemptNumber(),
        "end" -> ms(si.completionTime),
        "shuffle_write_bytes" ->
          (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
      val full = if (!tracing || m == null) base else base ++ Seq[(String, Any)](
        "start" -> ms(si.submissionTime),
        "tasks" -> si.numTasks,
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
        "shuffle_write_ns" -> m.shuffleWriteMetrics.writeTime,
        "spill_memory_bytes" -> m.memoryBytesSpilled,
        "spill_disk_bytes" -> m.diskBytesSpilled,
        "gc_ms" -> m.jvmGCTime,
        "peak_execution_bytes" -> m.peakExecutionMemory)
      stages.add(Json.Obj(full: _*))
      ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = if (tracing) {
      // the call site of the job's result stage names the user frame
      // that ran the action, e.g. "localCheckpoint at Checkpoints.scala:98"
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("callSite.long")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
          .map(s => s.name + "\n" + s.details).getOrElse(""))
      jobs.add(Json.Obj(
        "id" -> e.jobId, "start" -> e.time.toDouble,
        "stages" -> Json.Arr(e.stageIds),
        "checkpoint" -> site.contains("graft.Checkpoints")))
      ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (tracing) {
      jobs.add(Json.Obj("id" -> e.jobId, "end" -> e.time.toDouble))
      ()
    }
  })

  if (trace) {
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          action(f, qe, ns, ok = true)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
          action(f, qe, 0L, ok = false)
      })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = if (tracing) {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        batches.add(Json.Obj(
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "batch" -> p.batchId,
          "input_rows" -> p.numInputRows,
          "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> d.getOrElse("addBatch", 0L),
          "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
          "query_planning_ms" -> d.getOrElse("queryPlanning", 0L)))
        ()
      }
    })
  }

  private object Plans extends AdaptiveSparkPlanHelper

  private def action(f: String, qe: QueryExecution, ns: Long, ok: Boolean)
      : Unit = if (tracing) {
    val end = clock.nowMs
    val phases = qe.tracker.phases.map { case (k, v) =>
      k -> Json.Obj("start" -> v.startTimeMs.toDouble, "end" -> v.endTimeMs.toDouble)
    }
    val plan: SparkPlan = qe.executedPlan
    val broadcastBytes = Plans.collectWithSubqueries(plan) {
      case b: BroadcastExchangeExec => b.metrics.get("dataSize").map(_.value).getOrElse(0L)
    }.sum
    actions.add(Json.Obj(
      "func" -> f, "ok" -> ok, "end" -> end, "duration_ms" -> ns / 1e6,
      "command" -> qe.analyzed.isInstanceOf[Command],
      "broadcast_bytes" -> broadcastBytes,
      "phases" -> Json.Obj(phases.toSeq: _*)))
    ()
  }

  /** Block until every queued listener event has been delivered. */
  def flush(): Unit =
    org.apache.spark.sql.graftbridge.GraftPlanBridge
      .flushListenerBus(spark.sparkContext)

  def result(): Json.Obj = {
    flush()
    Json.Obj(
      "stages" -> Json.Arr(stages.asScala.toSeq),
      "jobs" -> Json.Arr(jobs.asScala.toSeq),
      "actions" -> Json.Arr(actions.asScala.toSeq),
      "batches" -> Json.Arr(batches.asScala.toSeq))
  }
}

object Recorder {
  /** Collection time of every GC MXBean (driver and executors share this
    * JVM in local mode). */
  def gcMs(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Peak resident set (`VmHWM`) of this process, in kB. */
  def vmHwmKb(): Double =
    Files.readAllLines(java.nio.file.Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        try Files.size(p) catch { case _: java.io.IOException => 0L }
      }.sum
      finally s.close()
    }
}
