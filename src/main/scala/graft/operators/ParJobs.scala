package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

/** Run independent Spark actions concurrently on one session — the
  * documented multi-job pattern (guide §2.6: actions are only sequential
  * because driver code calls them sequentially; a small pool lets the
  * next job's tasks back-fill executors freed by the current job's
  * tail). Shared by the scorecard's frame/digest pipeline and the
  * multi-branch batch entries whose serial eager checkpoints were
  * job-count bound (q_cramers_v, pipeline_clone).
  *
  * Failure containment (r16, hoisted here from Scorecard r18): every
  * thunk's jobs are tagged with one call-scoped job group (setJobGroup
  * is thread-local, so the tag is applied inside each pool thread, with
  * interruptOnCancel). If any thunk throws, the whole group is cancelled
  * and the pool is shut down with interruption BEFORE the failure
  * propagates — a failing thunk never leaves sibling jobs running to
  * completion on the shared session after the caller has thrown.
  *
  * `timeout` bounds the wait for all thunks; by default there is none, so
  * a caller that wants a bound states it. On expiry the group is cancelled
  * like on a failure and the `TimeoutException` propagates. */
object ParJobs {

  def run[A](spark: SparkSession, desc: String, threads: Int = 8,
      timeout: Duration = Duration.Inf)(thunks: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val sc = spark.sparkContext
    val group = s"$desc-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val work = Future.sequence(thunks.map(t => Future {
      sc.setJobGroup(group, desc, interruptOnCancel = true)
      try t() finally sc.clearJobGroup()
    }))
    try Await.result(work, timeout)
    catch {
      case e: Throwable =>
        // cancelJobGroupAndFutureJobs is STICKY: a sibling thunk that was
        // mid-planning (no active job yet) and submits after the failure
        // is cancelled too — plain cancelJobGroup only kills jobs already
        // running, leaving that race open
        try sc.cancelJobGroupAndFutureJobs(group) catch { case NonFatal(_) => () }
        pool.shutdownNow()
        throw e
    } finally pool.shutdown()
  }

  /** Materialize independent frames concurrently (each eagerly
    * localCheckpointed so the work happens inside this call). */
  def materialize(spark: SparkSession, desc: String,
      mk: Seq[() => DataFrame], threads: Int = 8,
      timeout: Duration = Duration.Inf): Seq[DataFrame] =
    run(spark, desc, threads, timeout)(mk.map(m => () => m().localCheckpoint(true)))
}
