package org.apache.spark.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory recorder for a traced run. Registers one `SparkListener`,
  * one `QueryExecutionListener` and one `StreamingQueryListener` on the
  * session and keeps raw job, stage, query-execution and micro-batch
  * records. Attribution to queries (by time window) and all sums are done
  * by the runner, so this class only copies what the listeners see.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = ArrayBuffer.empty[Map[String, Any]]
  private val jobStarts = scala.collection.mutable.Map.empty[Int, (Long, Seq[Int], String)]
  private val stages = ArrayBuffer.empty[Map[String, Any]]
  private val executions = ArrayBuffer.empty[Map[String, Any]]
  private val batches = ArrayBuffer.empty[Map[String, Any]]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobStarts(e.jobId) = (e.time, e.stageIds, group)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (start, stageIds, group) =>
        jobs += Map("id" -> e.jobId, "start_ms" -> start, "end_ms" -> e.time,
          "stages" -> stageIds, "untimed" -> (group == Harness.UntimedGroup),
          "ok" -> (e.jobResult == JobSucceeded))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val m = s.taskMetrics
      val base = Map[String, Any]("id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(-1L),
        "end_ms" -> s.completionTime.getOrElse(-1L), "tasks" -> s.numTasks)
      stages += (if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "result_bytes" -> m.resultSize,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> m.diskBytesSpilled,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_rows" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_rows" -> m.outputMetrics.recordsWritten))
    }
  }

  private val executionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      Tracer.this.synchronized {
        executions += Map("func" -> funcName, "ok" -> ok,
          "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning"), "seen_ms" -> System.currentTimeMillis())
      }
    }
  }

  private val streamingListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Tracer.this.synchronized {
        batches += Map("query" -> String.valueOf(p.name), "run" -> p.runId.toString,
          "batch" -> p.batchId, "timestamp" -> p.timestamp, "duration_ms" -> d,
          "rows" -> p.numInputRows,
          "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
          "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(executionListener)
  spark.streams.addListener(streamingListener)

  /** Block until every posted event has reached the listeners. */
  def drain(): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Runs `body` with the execution listener detached, so the harness's
    * own output checks are not counted as query executions. */
  def paused(body: => Unit): Unit = {
    drain()
    spark.listenerManager.unregister(executionListener)
    try { body; drain() } finally spark.listenerManager.register(executionListener)
  }

  def result(): Map[String, Any] = {
    drain()
    synchronized {
      Map("jobs" -> jobs.toSeq, "stages" -> stages.toSeq,
        "executions" -> executions.toSeq, "batches" -> batches.toSeq)
    }
  }
}

object Tracer {
  /** Whole-stage and expression codegen compilations so far in this JVM. */
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
