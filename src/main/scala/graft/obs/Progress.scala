package graft.obs

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress}

/** Every progress event of `spark`'s streams with its arrival time,
  * until [[close]]. A listener, not `recentProgress`: that is a
  * ~100-entry ring buffer, so anything summed or walked over it
  * undercounts once a run needs more than 100 triggers.
  */
final class Progress(spark: SparkSession) extends StreamingQueryListener {
  private val events =
    new ConcurrentLinkedQueue[(Long, StreamingQueryProgress)]()
  spark.streams.addListener(this)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add((System.currentTimeMillis(), e.progress)): Unit
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** (arrival ms, progress) of `q`'s triggers delivered so far. */
  def of(q: StreamingQuery): Seq[(Long, StreamingQueryProgress)] =
    events.asScala.filter(_._2.runId == q.runId).toSeq

  def inputRows(q: StreamingQuery): Long = of(q).map(_._2.numInputRows).sum

  /** Run `q` to the end of its input and stop it: the seconds from `t0`
    * (a `System.nanoTime`) until the input was processed, and, in batch
    * order, the durations (ms) of the triggers that ran `addBatch`.
    */
  def drain(q: StreamingQuery, t0: Long = System.nanoTime()): (Double, Seq[Long]) = {
    val secs =
      try { q.processAllAvailable(); (System.nanoTime() - t0) / 1e9 }
      finally q.stop()
    DatasetBridge.drainListenerBus(spark)
    (secs, of(q).map(_._2).filter(_.durationMs.containsKey("addBatch"))
      .sortBy(_.batchId).map(_.batchDuration))
  }

  def close(): Unit = spark.streams.removeListener(this)
}
