package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class FunnelEvent(user_id: Long, ts_us: Long, event_id: Long,
                       event_type: String)
case class FunnelSession(user_id: Long, session_start: Long, n_events: Long,
                         funnel_stage: Int)
/** Open-session funnel state: -1 marks an unreached stage. */
case class FunnelState(start: Long, last: Long, n: Long,
                       vTs: Long, cTs: Long, pTs: Long)
/** Streaming state (r12, the [[SessionBufState]] design): the frozen
  * open funnel session (`start = -1` when none) plus the raw buffer
  * of not-yet-final events as parallel columns (ts, event_id, type) —
  * the product encoder takes flat Seqs, not nested case classes.
  * Replaying raw events in order through [[FunnelStream.fold]] at
  * freeze time keeps the stage machine exact under out-of-order
  * arrival, which no folded summary can (the fold is lossy: a click
  * discarded for preceding the view cannot be revived when a late
  * view lands before it). */
case class FunnelBufState(start: Long, last: Long, n: Long,
                          vTs: Long, cTs: Long, pTs: Long,
                          rawTs: Seq[Long], rawId: Seq[Long],
                          rawTp: Seq[String])

/** §2.K streaming twin of `e_funnel_sessions` (r10): the per-session
  * ordered funnel view → first click AFTER the view → first purchase
  * AFTER the click as an explicit per-user state machine — the
  * MATCH_RECOGNIZE-shaped op a streaming engine runs with bounded
  * state where the batch form uses session windows + conditional
  * mins. [[funnelBatch]] is a plain group fold; [[funnelStreaming]]
  * runs the same machine under `transformWithState`.
  *
  * Equivalence to the batch plan (FunnelStreamSpec pins it on the
  * fixture): events fold in (ts, event_id) order; the first view IS
  * min(view ts); the first click strictly after it IS
  * min(click ts > v_ts) because later qualifying clicks are ≥ in sort
  * order; likewise for purchase. Gap rule matches the batch window:
  * a gap ≥ 30 min cuts the session.
  *
  * Scale notes ([[Sessionize]] conventions): state is ONE fixed-size
  * record per active user, the gap bounds retention, and the state
  * store shards by user_id — no corpus-sized state at any scale.
  */
object FunnelStream {
  private def stageOf(s: FunnelState): Int =
    if (s.pTs >= 0) 3 else if (s.cTs >= 0) 2 else if (s.vTs >= 0) 1 else 0

  private def emit(uid: Long, s: FunnelState): FunnelSession =
    FunnelSession(uid, s.start, s.n, stageOf(s))

  private def fold(s: FunnelState, e: FunnelEvent): FunnelState = {
    var (v, c, p) = (s.vTs, s.cTs, s.pTs)
    e.event_type match {
      case "view"     if v < 0                       => v = e.ts_us
      case "click"    if c < 0 && v >= 0 && e.ts_us > v => c = e.ts_us
      case "purchase" if p < 0 && c >= 0 && e.ts_us > c => p = e.ts_us
      case _ =>
    }
    FunnelState(s.start, e.ts_us, s.n + 1, v, c, p)
  }

  private def fresh(ts: Long): FunnelState =
    FunnelState(ts, ts, 0, -1L, -1L, -1L)

  /** The batch fold of one user's events in (ts, event_id) order,
    * the trailing session flushed. This family cuts STRICT (at >=
    * gap) — see [[graft.SessionBounds]] for the two-family table. */
  private[graft] def batchFold(uid: Long, events: Iterator[FunnelEvent])
      : Iterator[FunnelSession] = {
    var cur: Option[FunnelState] = None
    val out = Seq.newBuilder[FunnelSession]
    events.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      cur match {
        case Some(s) if !graft.SessionBounds.cuts(s.last, e.ts_us,
            strict = true) =>
          cur = Some(fold(s, e))
        case Some(s) =>
          out += emit(uid, s)
          cur = Some(fold(fresh(e.ts_us), e))
        case None =>
          cur = Some(fold(fresh(e.ts_us), e))
      }
    }
    cur.foreach(s => out += emit(uid, s))
    out.result().iterator
  }

  /** Batch funnel: one [[batchFold]] per user — FunnelStreamSpec
    * proves it equals the `e_funnel_sessions` windowed plan
    * row-for-row. */
  def funnelBatch(ds: Dataset[FunnelEvent]): Dataset[FunnelSession] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** The PURE streaming step — buffer-until-watermark + ordered
    * replay, the [[Sessionize.step]] design and rationale (the r11
    * single-record fold corrupted under admissible out-of-order
    * arrival; the watermark-fuzz property found it). Events freeze
    * into the stage machine only once the watermark proves them
    * final, so the frozen fold is exactly the batch fold of a final
    * prefix; sessions emit when frozen-closed or when the watermark
    * clears the open session's gap. Returns (emitted sessions,
    * surviving state or None, wake-at ms — strictly later than the
    * watermark when defined). */
  private[streaming] def step(uid: Long, st: FunnelBufState,
                              arrived: Seq[FunnelEvent], wmUs: Long)
      : (Seq[FunnelSession], Option[FunnelBufState], Option[Long]) = {
    val raw = (st.rawTs.lazyZip(st.rawId).lazyZip(st.rawTp)
      .map((t, i, p) => FunnelEvent(uid, t, i, p)) ++ arrived)
      .toSeq.sortBy(e => (e.ts_us, e.event_id))
    val (freeze, rest) = raw.partition(_.ts_us < wmUs)
    var cur: Option[FunnelState] =
      if (st.start >= 0)
        Some(FunnelState(st.start, st.last, st.n, st.vTs, st.cTs, st.pTs))
      else None
    val out = Seq.newBuilder[FunnelSession]
    freeze.foreach { e =>
      cur match {
        case Some(s) if !graft.SessionBounds.cuts(s.last, e.ts_us,
            strict = true) => cur = Some(fold(s, e))
        case Some(s) =>
          out += emit(uid, s)
          cur = Some(fold(fresh(e.ts_us), e))
        case None => cur = Some(fold(fresh(e.ts_us), e))
      }
    }
    cur.foreach { s =>
      if (graft.SessionBounds.cuts(s.last, wmUs, strict = true)) {
        out += emit(uid, s); cur = None
      }
    }
    if (cur.isEmpty && rest.isEmpty) (out.result(), None, None)
    else {
      val c = cur.getOrElse(FunnelState(-1L, 0L, 0L, -1L, -1L, -1L))
      val next = FunnelBufState(c.start, c.last, c.n, c.vTs, c.cTs,
        c.pTs, rest.map(_.ts_us), rest.map(_.event_id),
        rest.map(_.event_type))
      val gap = graft.SessionBounds.GapUs
      val horizonUs = (cur.map(_.last + gap).toSeq ++
        rest.headOption.map(_.ts_us + gap)).min
      (out.result(), Some(next), Some(horizonUs / 1000 + 1))
    }
  }

  /** Streaming funnel over (user_id, ts, event_id, event_type) rows
    * whose `ts` is already watermarked, through `transformWithState`
    * (needs the RocksDB state-store provider); the watermarked column
    * flows into the stateful operator (the
    * [[Sessionize.sessionsStreaming]] discipline). */
  def funnelStreaming(
      ds: Dataset[(Long, java.sql.Timestamp, Long, String)])
      : Dataset[FunnelSession] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new FunnelProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[FunnelStream.step]] under [[StepProcessor]]. */
private[graft] class FunnelProcessor
    extends StepProcessor[(Long, java.sql.Timestamp, Long, String),
      FunnelBufState, FunnelSession] {
  override protected def stateName: String = "funnel"
  override protected def stateEncoder: Encoder[FunnelBufState] =
    Encoders.product[FunnelBufState]
  override protected def emptyState: FunnelBufState =
    FunnelBufState(-1L, 0L, 0L, -1L, -1L, -1L, Nil, Nil, Nil)
  override protected def step(
      uid: Long, st: FunnelBufState,
      rows: Seq[(Long, java.sql.Timestamp, Long, String)], wmUs: Long)
      : (Seq[FunnelSession], Option[FunnelBufState], Option[Long]) =
    FunnelStream.step(uid, st,
      rows.map { case (_, ts, eid, t) =>
        FunnelEvent(uid, ts.getTime * 1000, eid, t) },
      wmUs)
}
