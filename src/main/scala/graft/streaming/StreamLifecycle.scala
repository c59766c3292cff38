package graft.streaming

import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.storage.StorageLevel

/** One hardened implementation of "run this cleanup when THAT query
  * terminates" shared by the lease and cache lifecycles (CdcRelay's
  * lease, [[pin]]). Races a naive listener misses:
  *
  *   - events must match on `runId`, not `id`: the query id is STABLE
  *     across restarts from the same checkpoint dir, so a late
  *     terminated event from the PREVIOUS run would otherwise fire the
  *     new run's cleanup while it is actively running;
  *   - the query can terminate BEFORE the listener registers (a stream
  *     that fails during initialization); the post-registration
  *     `isActive` check covers that, for cleanup AND listener removal;
  *   - both paths can fire; `action` must therefore be idempotent
  *     (lease release and unpersist both are), and the once-guard here
  *     keeps the common path single-shot.
  */
object StreamLifecycle {

  def onTerminated(spark: SparkSession, query: StreamingQuery)(
      action: () => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    def runOnce(): Unit = if (fired.compareAndSet(false, true)) action()
    val runId: UUID = query.runId
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == runId) {
          runOnce()
          spark.streams.removeListener(this)
        }
    }
    spark.streams.addListener(listener)
    // closes the register-after-terminate race: if the query died before
    // the listener went in, its event may never be observed — clean up
    // now (the listener then removes itself on any later delivery)
    if (!query.isActive) {
      runOnce()
      spark.streams.removeListener(listener)
    }
  }

  /** Start a query serving from `df`, cached (and materialized before
    * `start`, so batch 1 does not build it) for the query's lifetime. A
    * failed start releases it at once, blocking; a terminated query
    * releases it from the listener-bus thread, non-blocking, since a
    * blocking drop there would stall event dispatch.
    */
  def pin(spark: SparkSession, df: DataFrame)(
      start: DataFrame => StreamingQuery): StreamingQuery = {
    val pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    val query = try { pinned.queryExecution.toRdd.count(); start(pinned) }
      catch { case e: Throwable => pinned.unpersist(blocking = true); throw e }
    onTerminated(spark, query)(() => pinned.unpersist(blocking = false))
    query
  }

  /** Run `action` on every trigger of `query` — PROGRESS and IDLE
    * events both count (Spark posts `QueryIdleEvent`, not progress,
    * for no-data triggers; a lease refresh that only rode progress
    * would go stale on a quiet source). Errors in `action` surface via
    * `onFailure`, not the query. Note the per-trigger cadence: a
    * single trigger longer than a lease's staleness horizon cannot
    * refresh mid-batch — size `staleAfterMs` above the worst expected
    * batch duration.
    */
  def onActivity(spark: SparkSession, query: StreamingQuery)(
      action: () => Unit, onFailure: Throwable => Unit = _ => ()): Unit = {
    val runId: UUID = query.runId
    def guarded(): Unit =
      try action() catch { case t: Throwable => onFailure(t) }
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.runId == runId) guarded()
      override def onQueryIdle(
          e: StreamingQueryListener.QueryIdleEvent): Unit =
        if (e.runId == runId) guarded()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.runId == runId) spark.streams.removeListener(this)
    }
    spark.streams.addListener(listener)
    // same register-after-terminate backstop as onTerminated: a query
    // that already died will never deliver the terminated event to this
    // listener — don't leave it leaked on the session's listener bus
    if (!query.isActive) spark.streams.removeListener(listener)
  }
}
