package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming changelog compaction — the streaming twin of
  * `cdc_compact`: maintain the materialized current-state table (one
  * row per ledger key: the latest event's fields plus history depth)
  * incrementally as events arrive, emitting each key's refreshed row
  * whenever a batch touches it (update semantics).
  *
  * State per key is ONE fixed-size record, compared on the
  * (ts, event_id) ordinal — the same total order the batch operator
  * aggregates with, so a late event older than the current state
  * bumps the count but never regresses the state. On a cluster the
  * state store backend (RocksDB) holds |keys| records regardless of
  * history length; no timeout — current state is permanent by
  * definition.
  */
object CompactionStream {

  final case class Event(event_id: Long, ts: java.sql.Timestamp,
                         user_id: Long, event_type: String, value: Double)
  final case class KeyState(n_events: Long, lastTsMicros: Long,
                            lastEventId: Long, lastType: String,
                            lastCents: Long)
  final case class CurrentState(user_id: Long, n_events: Long,
                                last_ts: java.sql.Timestamp,
                                last_type: String, last_event_id: Long,
                                last_value_cents: Long)

  /** Same rounding as the batch operator's `round(value * 100)`. */
  private def cents(value: Double): Long =
    java.math.BigDecimal.valueOf(value * 100)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  private def update(userId: Long, events: Iterator[Event],
                     state: GroupState[KeyState]): Iterator[CurrentState] = {
    var cur = state.getOption.getOrElse(KeyState(0L, Long.MinValue,
      Long.MinValue, null, 0L))
    var touched = false
    events.foreach { e =>
      touched = true
      val t = EventTime.toMicros(e.ts)
      val newer = t > cur.lastTsMicros ||
        (t == cur.lastTsMicros && e.event_id > cur.lastEventId)
      cur =
        if (newer) KeyState(cur.n_events + 1, t, e.event_id, e.event_type,
          cents(e.value))
        else cur.copy(n_events = cur.n_events + 1)
    }
    if (!touched) Iterator.empty
    else {
      state.update(cur)
      Iterator.single(CurrentState(userId, cur.n_events,
        EventTime.fromMicros(cur.lastTsMicros), cur.lastType,
        cur.lastEventId, cur.lastCents))
    }
  }

  /** Wire the compactor over a streaming Dataset of events. */
  def currentState(events: Dataset[Event]): Dataset[CurrentState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[KeyState, CurrentState](
        OutputMode.Update(), GroupStateTimeout.NoTimeout())(update)
  }

  /** Start with a batch_id-idempotent parquet sink: a replayed epoch
    * overwrites its own partition (same contract as the other sinks).
    */
  def start(events: Dataset[Event], outDir: String,
      chkDir: String): StreamingQuery = {
    graft.Session.setup(events.sparkSession)
    currentState(events).toDF().writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", chkDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        EpochStore.overwrite(batch, outDir, batchId)
      }
      .start()
  }
}
