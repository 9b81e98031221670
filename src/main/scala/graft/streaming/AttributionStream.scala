package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class TouchEvent(user_id: Long, ts_us: Long, event_id: Long,
                      event_type: String, value: Double)
case class AttributedPurchase(user_id: Long, event_id: Long,
                              channel: String, value: Double)
/** Last marketing touch per user; tsUs = -1 means no touch yet. */
case class TouchState(touchType: String, tsUs: Long)

/** §2.K streaming twin of `e_attribution_last_touch` (r10): per-user
  * last-touch state (`transformWithState` in [[attributionStreaming]])
  * — each purchase is credited, at arrival, to the most recent
  * view/click within the 7-day lookback, else 'direct'.
  *
  * Equivalence to the batch window plan (AttributionStreamSpec pins it
  * on the fixture): events fold in (ts, event_id) order; the state's
  * (touchType, tsUs) after folding a prefix IS
  * `last(touch, ignoreNulls) OVER (... ROWS UNBOUNDED PRECEDING TO 1
  * PRECEDING)` at the next row, because each view/click overwrites the
  * state exactly when it would become the window's last non-null.
  *
  * Scale notes: ONE fixed-size record per active user; the event-time
  * timer at touch + 7 days evicts state that could never attribute
  * again (after the lookback an attribution is 'direct' with or
  * without the record), so state size tracks 7-day-active users, not
  * history. Purchases emit immediately — no watermark wait — because
  * attribution reads only the PAST of the user timeline; a
  * beyond-watermark late touch cannot retroactively re-credit an
  * already-emitted purchase (standard append-mode semantics, same
  * trade every streaming attribution system makes).
  */
object AttributionStream {
  val LookbackUs: Long = 7L * 86400L * 1000000L

  private def channelOf(s: TouchState, ts: Long): String =
    if (s.tsUs >= 0 && ts - s.tsUs <= LookbackUs) s.touchType else "direct"

  /** Ordered fold of one batch of events against the running touch
    * state — the shared kernel of the batch fold and the streaming
    * step. */
  private def foldEvents(uid: Long, cur0: TouchState,
                         evs: Seq[TouchEvent])
      : (TouchState, Seq[AttributedPurchase]) = {
    var cur = cur0
    val out = Seq.newBuilder[AttributedPurchase]
    evs.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      e.event_type match {
        case "view" | "click" => cur = TouchState(e.event_type, e.ts_us)
        case "purchase" =>
          out += AttributedPurchase(uid, e.event_id,
            channelOf(cur, e.ts_us), e.value)
        case _ =>
      }
    }
    (cur, out.result())
  }

  /** The batch fold of one user's events: [[foldEvents]] from no
    * touch. */
  private[graft] def batchFold(uid: Long, events: Iterator[TouchEvent])
      : Iterator[AttributedPurchase] =
    foldEvents(uid, TouchState("", -1L), events.toSeq)._2.iterator

  /** The PURE streaming step. State whose lookback horizon is at or
    * behind the watermark is dropped (it could only ever yield
    * 'direct', which is also what NO state yields — the r11 clamp; a
    * timer there would be in the past); otherwise the wake at
    * touch + lookback is strictly later than the watermark. */
  private[streaming] def step(uid: Long, st: TouchState,
                              arrived: Seq[TouchEvent], wmUs: Long)
      : (Seq[AttributedPurchase], Option[TouchState], Option[Long]) = {
    val (cur, out) = foldEvents(uid, st, arrived)
    if (cur.tsUs < 0) (out, None, None)
    else {
      val horizonMs = cur.tsUs / 1000 + LookbackUs / 1000
      if (horizonMs <= wmUs / 1000) (out, None, None)
      else (out, Some(cur), Some(horizonMs))
    }
  }

  /** Batch attribution: one [[batchFold]] per user —
    * AttributionStreamSpec proves it equals the windowed batch
    * per-purchase assignment row-for-row. */
  def attributionBatch(ds: Dataset[TouchEvent])
      : Dataset[AttributedPurchase] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** Streaming attribution over watermarked
    * (user_id, ts, event_id, event_type, value) rows, through
    * `transformWithState` (needs the RocksDB state-store provider). */
  def attributionStreaming(
      ds: Dataset[(Long, java.sql.Timestamp, Long, String, Double)])
      : Dataset[AttributedPurchase] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new AttributionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[AttributionStream.step]] under [[StepProcessor]]. */
private[graft] class AttributionProcessor
    extends StepProcessor[(Long, java.sql.Timestamp, Long, String, Double),
      TouchState, AttributedPurchase] {
  override protected def stateName: String = "touch"
  override protected def stateEncoder: Encoder[TouchState] =
    Encoders.product[TouchState]
  override protected def emptyState: TouchState = TouchState("", -1L)
  override protected def step(
      uid: Long, st: TouchState,
      rows: Seq[(Long, java.sql.Timestamp, Long, String, Double)],
      wmUs: Long)
      : (Seq[AttributedPurchase], Option[TouchState], Option[Long]) =
    AttributionStream.step(uid, st,
      rows.map { case (_, ts, eid, t, v) =>
        TouchEvent(uid, ts.getTime * 1000, eid, t, v) },
      wmUs)
}
