package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

case class DedupEvent(event_id: Long, user_id: Long, value: Double)

/** Streaming exactly-once dedup via Spark 4's `transformWithState` —
  * the package's one state API (StatefulProcessor + typed state
  * variables over the RocksDB store; the event-time operators share
  * it through [[StepProcessor]]).
  *
  * Per event_id key, a ValueState[Boolean] records "seen"; only the
  * first arrival is emitted, so replays and at-least-once upstreams
  * collapse to exactly-once output — the streaming twin of the batch
  * `k_stream_dedup` groupBy-min formulation.
  *
  * Scale notes (100 TB stream): state is ONE boolean per key in
  * RocksDB, sharded by key across executors. For unbounded key spaces
  * a production deployment passes a TTL (state expires on wall clock,
  * the role the watermark plays for `dropDuplicatesWithinWatermark`);
  * TTL requires `TimeMode.ProcessingTime`, which keeps the trigger
  * loop running on a clock — fine under a real trigger, unsuitable
  * for the deterministic availableNow/processAllAvailable tests here,
  * so the default is no TTL in TimeMode.None.
  */
class DedupProcessor(ttl: Option[java.time.Duration])
    extends StatefulProcessor[Long, DedupEvent, DedupEvent] {

  @transient private var seen: ValueState[Boolean] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    seen = getHandle.getValueState[Boolean](
      "seen", Encoders.scalaBoolean,
      ttl.map(TTLConfig(_)).getOrElse(TTLConfig.NONE))

  override def handleInputRows(key: Long, rows: Iterator[DedupEvent],
                               timers: TimerValues): Iterator[DedupEvent] =
    if (seen.exists()) {
      Iterator.empty
    } else {
      seen.update(true)
      // several occurrences may land in ONE micro-batch: emit the
      // first by the deterministic (user_id, value) order
      rows.toSeq.sortBy(e => (e.user_id, e.value)).headOption.iterator
    }
}

object StatefulDedup {
  /** First occurrence per event_id from a stream of events. Pass a
    * TTL for bounded state on unbounded key spaces (requires a
    * processing-time trigger loop). */
  def dedup(events: Dataset[DedupEvent],
            ttl: Option[java.time.Duration] = None): Dataset[DedupEvent] = {
    import events.sparkSession.implicits._
    val mode = if (ttl.isDefined) TimeMode.ProcessingTime() else TimeMode.None()
    events.groupByKey(_.event_id)
      .transformWithState(new DedupProcessor(ttl), mode, OutputMode.Append())
  }
}
