package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for a traced run, built only from Spark's public
  * listener APIs. Everything stays in memory until [[spans]] is called
  * at the end of the run.
  *
  *  - jobs carry the job group the harness set (`<op id>#build` or
  *    `<op id>#action`), which is how a job is attributed to its op;
  *  - stages carry the summed task metrics Spark reports for the stage;
  *  - query executions carry their Catalyst phase spans (attributed to
  *    an op by time, since one client thread runs ops one at a time);
  *  - streaming progress reports carry the micro-batch phase times and
  *    state-store counters.
  *
  * Listener callbacks arrive on Spark's listener-bus threads, so every
  * mutation is synchronized. */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val executions = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = mutable.Map("job" -> e.jobId, "group" -> group,
      "start_ms" -> e.time, "end_ms" -> -1L, "stages" -> e.stageIds.size)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      val base = Map[String, Any]("stage" -> si.stageId,
        "job" -> stageJob.getOrElse(si.stageId, -1),
        "start_ms" -> si.submissionTime.getOrElse(-1L),
        "end_ms" -> si.completionTime.getOrElse(-1L),
        "tasks" -> si.numTasks)
      stages += (if (m == null) base else base ++ Map(
        "run_ms" -> m.executorRunTime,
        "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime,
        "input_bytes" -> m.inputMetrics.bytesRead,
        "input_records" -> m.inputMetrics.recordsRead,
        "output_bytes" -> m.outputMetrics.bytesWritten,
        "output_records" -> m.outputMetrics.recordsWritten,
        "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead),
        "shuffle_fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = record(funcName, qe)
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = record(funcName, qe)
    private def record(funcName: String, qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      Tracer.this.synchronized {
        executions += Map("func" -> funcName, "phases" -> phases)
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent)
        : Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val durations = p.durationMs.asScala.map { case (k, v) =>
        k -> v.longValue }.toMap
      val state = p.stateOperators.map(s => Map(
        "rows_total" -> s.numRowsTotal,
        "commit_ms" -> s.commitTimeMs,
        "mem_bytes" -> s.memoryUsedBytes)).toSeq
      Tracer.this.synchronized {
        progress += Map("query" -> p.name, "batch" -> p.batchId,
          "received_ms" -> System.currentTimeMillis(),
          "input_rows" -> p.numInputRows, "durations_ms" -> durations,
          "state" -> state)
      }
    }
  }

  /** Every job the scheduler has started has also ended. */
  def settled: Boolean = synchronized {
    jobs.values.forall(_("end_ms").asInstanceOf[Long] >= 0)
  }

  def spans: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.values.map(_.toMap).toSeq, "stages" -> stages.toSeq,
      "executions" -> executions.toSeq, "progress" -> progress.toSeq)
  }

}
