package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming last-touch attribution — the streaming twin of
  * `rel_attribution`: maintain each user's most recent touch event
  * (click/view/signup) as ONE fixed-size state record and attribute
  * every purchase to it at arrival, within the same 7-day lookback as
  * the batch operator. Emission is append-mode: each conversion is
  * attributed exactly once, when its batch processes.
  *
  * Ordering contract: within a batch the group's events are walked in
  * (event-time, event_id) order — the batch operator's exact window
  * order — so single-batch replays are row-identical to batch
  * attribution. Across batches the state only ever ADVANCES on that
  * same FULL ordinal — (tus, event_id), not tus alone, so two touches
  * tied at microsecond precision resolve exactly as the batch
  * window's last_value frame does (a late-arriving OLDER touch cannot
  * regress it, the CompactionStream discipline); the one divergence
  * from batch is a purchase processed in an earlier batch than a
  * touch that precedes it in event time — under the relay's
  * ordered-staging contract (Stage.orderStagedFiles) that does not
  * occur, and the spec pins batch parity for ordered multi-batch
  * splits.
  *
  * State per user is (lastTouchMicros, lastTouchId, lastTouchType) —
  * fixed size — and EXPIRES on an event-time timeout one lookback
  * after the touch: a touch older than the 7-day lookback can never
  * attribute anything, so dropping it is semantically free and bounds
  * the store by ACTIVE users (touched within the lookback window)
  * instead of all-time users. Requires the event-time watermark the
  * [[attributions]] wiring declares.
  */
object AttributionStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class TouchState(tusMicros: Long, eventId: Long,
                              touchType: String)
  final case class Attribution(event_id: Long, user_id: Long,
                               channel: String, cents: Long)

  private val Touches = Set("click", "view", "signup")
  private val LookbackUs = 7L * 86400000000L

  /** Same rounding as the batch operator's `round(value * 100)`. */
  private def cents(value: Double): Long =
    java.math.BigDecimal.valueOf(value * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def update(userId: Long, events: Iterator[Event],
                     state: GroupState[TouchState]): Iterator[Attribution] = {
    if (state.hasTimedOut) {
      // the watermark passed touch-time + lookback: this touch can
      // never attribute another purchase — expiring it is lossless
      state.remove()
      return Iterator.empty
    }
    var cur = state.getOption.orNull
    val out = Vector.newBuilder[Attribution]
    // batch-local sort on the batch operator's exact ordinal; per-user
    // per-batch row counts are bounded by the trigger size
    events.toSeq.sortBy(e => (EventTime.toMicros(e.ts), e.event_id))
      .foreach { e =>
        val t = EventTime.toMicros(e.ts)
        if (Touches(e.event_type)) {
          // advance-only on the FULL (tus, event_id) ordinal: a late
          // older touch never regresses the state, and an equal-time
          // higher-id touch replaces it — exactly the batch window's
          // last_value pick among microsecond ties
          if (cur == null || t > cur.tusMicros ||
            (t == cur.tusMicros && e.event_id > cur.eventId))
            cur = TouchState(t, e.event_id, e.event_type)
        } else if (e.event_type == "purchase") {
          val channel =
            if (cur == null || t - cur.tusMicros > LookbackUs) "unattributed"
            else cur.touchType
          out += Attribution(e.event_id, userId, channel, cents(e.value))
        }
      }
    if (cur != null) {
      state.update(cur)
      // expire one lookback after the touch; if the watermark already
      // passed that point the touch is dead weight — schedule the
      // earliest legal timeout instead (fires on the next trigger)
      state.setTimeoutTimestamp(math.max(
        cur.tusMicros / 1000L + LookbackUs / 1000L,
        state.getCurrentWatermarkMs() + 1L))
    }
    out.result().iterator
  }

  /** Wire the attributor over a streaming Dataset of events. The
    * watermark exists to drive the state-expiry timeout; under the
    * ordered-staging contract (file i = i-th ts range) no in-order
    * event ever falls below it — the 1-minute delay only keeps
    * microsecond ties at a range-file boundary clear of the late-row
    * filter's equality edge.
    */
  def attributions(events: Dataset[Event]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "1 minute")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }

  /** Start with the batch_id-idempotent parquet sink shared by the
    * other foreachBatch streams (a replayed epoch overwrites its own
    * partition). */
  def start(events: Dataset[Event], outDir: String,
      chkDir: String): StreamingQuery = {
    graft.Session.setup(events.sparkSession)
    attributions(events).toDF().writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        EpochStore.overwrite(batch, outDir, batchId)
      }
      .start()
  }
}
