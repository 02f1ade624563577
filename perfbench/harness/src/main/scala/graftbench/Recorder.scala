package graftbench

import scala.collection.mutable

import org.apache.spark.{Success => TaskSuccess}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts and spans gathered from outside graft: a `SparkListener`
  * for jobs, stages and tasks, and a `QueryExecutionListener` for
  * Catalyst phase times and files scanned. Registered only for traced
  * passes. Everything stays in memory until the run ends; attribution
  * to ops is by time window (the load is one closed-loop client, so op
  * windows never overlap), which also catches jobs that graft submits
  * from its own driver threads. */
final class Recorder extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private final class QeRec(val phases: Seq[(String, Long, Long)], val filesRead: Long)

  private final class JobRec(val id: Int, val startMs: Long) {
    var endMs: Long = -1L
    var ok = false
    var stages = 0
    var tasks = 0
    var taskFailures = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var resultBytes = 0L
    var bytesRead = 0L
    var rowsRead = 0L
    var bytesWritten = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val qes = mutable.ArrayBuffer.empty[QeRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = new JobRec(e.jobId, e.time)
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.reason != TaskSuccess) j.taskFailures += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.resultBytes += m.resultSize
        j.bytesRead += m.inputMetrics.bytesRead
        j.rowsRead += m.inputMetrics.recordsRead
        j.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  private def record(qe: QueryExecution, files: Long): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
      (name, p.startTimeMs, p.endTimeMs)
    }
    synchronized { qes += new QeRec(phases, files) }
  }

  /** Data files opened by the query's scans. Scans of graft's own
    * sidecar directories (`_graft_manifest` and the like) are not data
    * reads and are left out. */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if !s.relation.location.rootPaths.forall(_.toString.contains("/_graft_")) =>
        s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  /** Everything recorded so far, as plain maps for the run record. */
  def snapshot(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.toSeq.map { j =>
        Map("id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
          "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks,
          "task_failures" -> j.taskFailures, "executor_run_ms" -> j.runMs,
          "executor_cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
          "shuffle_write_bytes" -> j.shuffleWrite,
          "shuffle_read_bytes" -> j.shuffleRead, "spill_bytes" -> j.spill,
          "result_bytes" -> j.resultBytes, "bytes_read" -> j.bytesRead,
          "rows_read" -> j.rowsRead, "bytes_written" -> j.bytesWritten)
      },
      "queries" -> qes.toSeq.map { q =>
        Map("files_read" -> q.filesRead,
          "phases" -> q.phases.map { case (n, s, e) =>
            Map("name" -> n, "start_ms" -> s, "end_ms" -> e)
          })
      })
  }
}
