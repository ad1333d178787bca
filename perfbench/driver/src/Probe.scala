package perfbench

import java.time.Instant
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Events the listeners saw, in epoch milliseconds. */
final case class JobEv(start: Long, end: Long)
final case class TaskEv(runMs: Long, cpuNs: Long, gcMs: Long, readRows: Long,
    readBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, writeBytes: Long)
final case class PhaseEv(phase: String, start: Long, end: Long)
final case class TriggerEv(query: String, start: Long, durations: Map[String, Long],
    stateRows: Long, stateBytes: Long, stateCommitMs: Long)
final case class WriteEv(table: String, columns: Seq[String])

/** What the engine reports through its public listener interfaces while
  * tracing is on: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener for planning phases and write targets, and a
  * StreamingQueryListener for triggers. Events accumulate until [[take]]. */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobs = ArrayBuffer.empty[JobEv]
  private var stages = 0L
  private val tasks = ArrayBuffer.empty[TaskEv]
  private val phases = ArrayBuffer.empty[PhaseEv]
  private val writes = ArrayBuffer.empty[WriteEv]
  private val triggers = ArrayBuffer.empty[TriggerEv]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += JobEv(jobStarts.remove(e.jobId).getOrElse(e.time), e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      val sr = m.shuffleReadMetrics
      tasks += TaskEv(m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.recordsRead + sr.recordsRead, m.inputMetrics.bytesRead,
        sr.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases.toSeq.map { case (k, s) => PhaseEv(k, s.startTimeMs, s.endTimeMs) }
    val w = qe.analyzed match {
      case c: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        Some(WriteEv(c.table.name, c.query.output.map(_.name)))
      case _ => None
    }
    synchronized { phases ++= ph; writes ++= w }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  val streams: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = scala.jdk.CollectionConverters.MapHasAsScala(p.durationMs).asScala
        .map { case (k, v) => k -> v.longValue }.toMap
      val st = p.stateOperators.toSeq
      Probe.this.synchronized {
        triggers += TriggerEv(p.id.toString, Instant.parse(p.timestamp).toEpochMilli, d,
          st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
          st.map(_.commitTimeMs).sum)
      }
    }
  }

  /** Everything seen since the last call; the caller drains the bus first. */
  def take(): (Seq[JobEv], Long, Seq[TaskEv], Seq[PhaseEv], Seq[WriteEv], Seq[TriggerEv]) =
    synchronized {
      val out = (jobs.toSeq, stages, tasks.toSeq, phases.toSeq, writes.toSeq, triggers.toSeq)
      jobs.clear(); stages = 0; tasks.clear(); phases.clear(); writes.clear(); triggers.clear()
      out
    }
}
