package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark's own events during traced passes, through the public
  * listener APIs only: job and stage intervals, per-stage task counters
  * summed over task ends, and Catalyst phase intervals. Records are kept in
  * memory and written out once, at the end of the run.
  *
  * Nothing here knows about queries: run.py attributes each job, stage and
  * phase to the query span whose wall interval contains its start time
  * (the loop runs one query at a time).
  */
final class Trace extends SparkListener with QueryExecutionListener {
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val phases = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStart = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Array[Long]]
  @volatile private var started = 0
  @volatile private var ended = 0

  // per-stage counters, in this order
  private val Fields = Seq("submit_ms", "end_ms", "tasks", "failed_tasks",
    "cpu_ns", "gc_ms", "input_bytes", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "output_bytes")

  private def stage(id: Int, attempt: Int): Array[Long] =
    stages.getOrElseUpdate((id, attempt), Array.fill(Fields.size)(0L))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
    started += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (t0, stageIds) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
    jobs.add(Map("job" -> e.jobId, "start_ms" -> t0, "end_ms" -> e.time,
      "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
    ended += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber())(0) = i.submissionTime.getOrElse(Harness.now())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stage(i.stageId, i.attemptNumber())(1) = i.completionTime.getOrElse(Harness.now())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s(2) += 1
    if (e.reason != Success) s(3) += 1
    val m = e.taskMetrics
    if (m != null) {
      s(4) += m.executorCpuTime
      s(5) += m.jvmGCTime
      s(6) += m.inputMetrics.bytesRead
      s(7) += m.shuffleWriteMetrics.bytesWritten
      s(8) += m.shuffleReadMetrics.totalBytesRead
      s(9) += m.memoryBytesSpilled + m.diskBytesSpilled
      s(10) += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Map("phase" -> name, "start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs))
    }

  /** Wait (bounded) until every started job has ended and the listener bus
    * has gone quiet, so the records are complete. */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = Harness.now() + maxMs
    var last = -1
    while (Harness.now() < deadline && (started != ended || last != ended)) {
      last = ended
      Thread.sleep(200)
    }
  }

  def result(): Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.toSeq.map { case ((id, attempt), v) =>
        Map("stage" -> id, "attempt" -> attempt) ++ Fields.zip(v.toSeq)
      },
      "phases" -> phases.asScala.toSeq)
  }
}
