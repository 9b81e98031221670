package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class SessionEvent(user_id: Long, ts_us: Long)
case class Session(user_id: Long, first_us: Long, last_us: Long, n: Long)
case class SessionState(first_us: Long, last_us: Long, n: Long)
/** Streaming state (r12): the FROZEN open session — folded from
  * events proven final by the watermark; `first_us = -1` when none —
  * plus the raw buffer of event times still at-or-ahead of the last
  * freeze point. Bounded: the buffer spans at most the watermark lag
  * (events older than the watermark freeze on the next invocation),
  * the frozen session is one triple. */
case class SessionBufState(first_us: Long, last_us: Long, n: Long,
                           raw: Seq[Long])

/** §2.K `k_stateful_sessionize` — an explicit per-key session state
  * machine, the one op needing the state API (everything else in
  * StreamingOps is expressible as windowed aggs).
  *
  * [[sessionsBatch]] is a plain group fold (the trailing session
  * flushed at the end of each group); [[sessionsStreaming]] runs the
  * same machine under `transformWithState`, buffering events until
  * the watermark proves them final (see [[step]]).
  *
  * Scale notes: state is one (first, last, n) triple per active user
  * plus the not-yet-final raw buffer — the 30-min gap bounds
  * retention; the state store shards by user_id across executors and
  * RocksDB-backed state keeps memory flat.
  */
object Sessionize {
  /** The batch fold of one user's events: sessions in ts order, the
    * trailing one flushed. */
  private[graft] def batchFold(uid: Long, events: Iterator[SessionEvent])
      : Iterator[Session] = {
    var cur: Option[SessionState] = None
    val out = Seq.newBuilder[Session]
    events.toSeq.sortBy(_.ts_us).foreach { e =>
      cur match {
        // merge-on-touch (r16): an event at exactly last+gap still
        // extends the session — native session_window's convention.
        // The predicate is shared repo-wide: graft.SessionBounds
        // (strict = false here and in the streaming step below).
        case Some(s) if !graft.SessionBounds.cuts(s.last_us, e.ts_us,
            strict = false) =>
          cur = Some(SessionState(s.first_us, e.ts_us, s.n + 1))
        case Some(s) =>
          out += Session(uid, s.first_us, s.last_us, s.n)
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
        case None =>
          cur = Some(SessionState(e.ts_us, e.ts_us, 1))
      }
    }
    cur.foreach(s => out += Session(uid, s.first_us, s.last_us, s.n))
    out.result().iterator
  }

  /** Batch sessionization: one [[batchFold]] per user. */
  def sessionsBatch(ds: Dataset[SessionEvent]): Dataset[Session] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** The PURE streaming step (r12 buffer-until-watermark + ordered
    * replay): the r11 single-triple fold mishandled ADMISSIBLE
    * out-of-order arrival — a cross-batch event earlier than the open
    * session's last MOVED `last_us` backwards (corrupting the span),
    * and an admissible event more than a gap BELOW the open session's
    * first needed a second pending session the state could not
    * represent (both found by the watermark-fuzz property). The exact
    * design: buffer raw events, and on each invocation FREEZE the ones
    * the watermark has made final — fold them, in ts order, through
    * the batch machine. Every event at-or-ahead of the watermark is
    * still raw, so the frozen fold is exactly the batch fold of a
    * final prefix; sessions emit when frozen-closed (a later frozen
    * event opened the next session) or when the watermark clears the
    * open session's gap. The wake is the earliest instant anything
    * could close; a too-early wake just re-arms.
    *
    * The cross-invocation order invariant that makes the replay exact:
    * every raw event is ≥ the admission-time watermark ≥ every earlier
    * freeze point > the frozen session's last event. Returns (emitted
    * sessions, surviving state or None, wake-at ms — strictly later
    * than the watermark when defined). */
  private[streaming] def step(uid: Long, st: SessionBufState,
                              arrivedUs: Seq[Long], wmUs: Long)
      : (Seq[Session], Option[SessionBufState], Option[Long]) = {
    val raw = (st.raw ++ arrivedUs).sorted
    val (freeze, rest) = raw.partition(_ < wmUs)
    var cur: Option[SessionState] =
      if (st.first_us >= 0) Some(SessionState(st.first_us, st.last_us, st.n))
      else None
    val out = Seq.newBuilder[Session]
    freeze.foreach { ts =>
      cur match {
        case Some(s) if !graft.SessionBounds.cuts(s.last_us, ts,
            strict = false) => // merge-on-touch
          cur = Some(SessionState(s.first_us, ts, s.n + 1))
        case Some(s) =>
          out += Session(uid, s.first_us, s.last_us, s.n)
          cur = Some(SessionState(ts, ts, 1))
        case None =>
          cur = Some(SessionState(ts, ts, 1))
      }
    }
    // the frozen open session is closed once the watermark clears its
    // gap: under merge-on-touch an event that could still join has
    // ts ≤ last+gap < wm, i.e. already frozen (strict > keeps the
    // exactly-at-gap joiner admissible) — including the in-data-path
    // stale-horizon case (the r11 clamp), no timeout round trip
    cur.foreach { s =>
      if (graft.SessionBounds.cuts(s.last_us, wmUs, strict = false)) {
        out += Session(uid, s.first_us, s.last_us, s.n)
        cur = None
      }
    }
    if (cur.isEmpty && rest.isEmpty) (out.result(), None, None)
    else {
      val next = SessionBufState(
        cur.map(_.first_us).getOrElse(-1L),
        cur.map(_.last_us).getOrElse(0L),
        cur.map(_.n).getOrElse(0L), rest)
      // earliest instant anything can close; both candidates are at
      // or ahead of the watermark (open session: wm ≤ last+gap; raw:
      // ts ≥ wm) and the +1 ms below keeps the wake strictly ahead
      val gap = graft.SessionBounds.GapUs
      val horizonUs = (cur.map(_.last_us + gap).toSeq ++
        rest.headOption.map(_ + gap)).min
      (out.result(), Some(next), Some(horizonUs / 1000 + 1))
    }
  }

  /** Streaming sessionization over (user_id, ts) rows whose `ts` is
    * already watermarked, through `transformWithState` (needs the
    * RocksDB state-store provider); the watermark flushes idle
    * sessions. The watermarked column must flow INTO the stateful
    * operator (mapping it away first voids the watermark), so
    * conversion happens inside the processor. */
  def sessionsStreaming(ds: Dataset[(Long, java.sql.Timestamp)]): Dataset[Session] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[Sessionize.step]] under [[StepProcessor]]. */
private[graft] class SessionProcessor
    extends StepProcessor[(Long, java.sql.Timestamp), SessionBufState,
      Session] {
  override protected def stateName: String = "session"
  override protected def stateEncoder: Encoder[SessionBufState] =
    Encoders.product[SessionBufState]
  override protected def emptyState: SessionBufState =
    SessionBufState(-1L, 0L, 0L, Nil)
  override protected def step(
      uid: Long, st: SessionBufState,
      rows: Seq[(Long, java.sql.Timestamp)], wmUs: Long)
      : (Seq[Session], Option[SessionBufState], Option[Long]) =
    Sessionize.step(uid, st, rows.map(_._2.getTime * 1000), wmUs)
}
