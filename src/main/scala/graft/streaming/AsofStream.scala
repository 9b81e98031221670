package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** One side-tagged event of the as-of pair: `isLeft` = purchase (the
  * probe side), else click (the reference side). */
case class AsofEvent(user_id: Long, event_id: Long, ts_us: Long,
                     isLeft: Boolean)
/** A resolved probe row — the batch entry's output shape with the
  * unmatched case as None (the LEFT-join nulls). */
case class AsofMatch(p_id: Long, user_id: Long, p_ts: Long,
                     c_id: Option[Long], c_ts: Option[Long])
/** Pending probes and buffered reference rows as flattened
  * [id0, ts0, id1, ts1, …] (the product encoder handles flat
  * Seq[Long] without a nested-type wrapper). Bounded by the tolerance
  * band + watermark lag — see the object scaladoc. */
case class AsofState(pFlat: Seq[Long], cFlat: Seq[Long]) {
  def purchases: List[(Long, Long)] =
    pFlat.grouped(2).map { case Seq(a, b) => (a, b) }.toList
  def clicks: List[(Long, Long)] =
    cFlat.grouped(2).map { case Seq(a, b) => (a, b) }.toList
}
object AsofState {
  def of(ps: List[(Long, Long)], cs: List[(Long, Long)]): AsofState =
    AsofState(ps.flatMap { case (a, b) => Seq(a, b) },
      cs.flatMap { case (a, b) => Seq(a, b) })
}

/** §2.K streaming twin of `c_join_asof_forward` (r12, VERDICT r11
  * item 6): the forward as-of join with tolerance as bounded per-user
  * state (`transformWithState` in [[asofStreaming]]) — exactly what
  * the batch entry's scaladoc promised the tolerance was FOR ("it is
  * what bounds each side's retained state when the same join runs
  * under watermarks").
  *
  * Semantics (AsofStreamSpec pins batch parity row-for-row): for each
  * purchase, the same user's EARLIEST click STRICTLY AFTER it within
  * the 2 h band, ties to the lower click id, unmatched purchases
  * emitted with None. A purchase resolves ONLY when the watermark has
  * passed `p_ts + tol` — the instant no admissible click inside its
  * band can still arrive — so append-mode output is final by
  * construction (the gap-islands argument applied to a join).
  *
  * Watermark-clamp discipline (the r11 bug class, ROUND11.md §8):
  * purchases already beyond their horizon at arrival resolve in the
  * DATA path of the same invocation, and the event-time timer is
  * set only at a surviving horizon, which is strictly later than the
  * current watermark — no stale timer under arbitrary watermark
  * jumps (the randomized property in PropertySpec drives exactly
  * those schedules).
  *
  * Scale notes: state per user = pending purchases within `tol` of
  * the watermark + clicks no resolved-or-future purchase can need
  * (pruned each invocation at min(watermark, oldest pending p_ts) —
  * a click at or before that instant can match no pending purchase,
  * and every future-admissible purchase has p_ts ≥ the watermark, so
  * it needs clicks strictly after it). Both components are bounded by
  * the tolerance band plus watermark lag; the state store shards by
  * user_id. When no purchase is pending, a lone click buffer wakes at
  * its max ts to self-clean once the watermark proves no admissible
  * purchase can precede it.
  */
object AsofStream {
  val TolUs: Long = 7200000000L // 2 hours, the batch entry's band

  private def resolve(uid: Long, p: (Long, Long),
                      clicks: List[(Long, Long)]): AsofMatch = {
    val (pid, pts) = p
    val hit = clicks
      .filter { case (_, cts) => cts > pts && cts <= pts + TolUs }
      .sortBy { case (cid, cts) => (cts, cid) }
      .headOption
    AsofMatch(pid, uid, pts, hit.map(_._1), hit.map(_._2))
  }

  /** First ms instant at which the watermark proves the purchase's
    * band closed (strictly > any admissible in-band click's ms). */
  private def horizonMs(p: (Long, Long)): Long = (p._2 + TolUs) / 1000 + 1

  /** The PURE streaming step: merge arrivals into the buffered state
    * (distinct by id — replays must not double-buffer), resolve the
    * purchases whose band the watermark has closed (including ones
    * ALREADY beyond horizon at arrival — the r11 clamp), prune clicks
    * no live or future-admissible purchase can need. Returns (emitted rows, surviving state or
    * None, wake-at ms — strictly later than the watermark when
    * defined). */
  private[graft] def step(uid: Long, st: AsofState,
                          evs: Seq[AsofEvent], wmUs: Long)
      : (Seq[AsofMatch], Option[AsofState], Option[Long]) = {
    val ps = (st.purchases ++
      evs.filter(_.isLeft).map(e => (e.event_id, e.ts_us)))
      .distinct
    val cs = (st.clicks ++
      evs.filterNot(_.isLeft).map(e => (e.event_id, e.ts_us)))
      .distinct
    val (proven, live) = ps.partition { case (_, pts) => pts + TolUs < wmUs }
    val out = proven.sortBy(p => (p._2, p._1)).map(p => resolve(uid, p, cs))
    // prune clicks no live or future-admissible purchase can need
    val keepFrom = wmUs min
      live.map(_._2).minOption.getOrElse(Long.MaxValue)
    val liveClicks = cs.filter { case (_, cts) => cts > keepFrom }
    if (live.isEmpty && liveClicks.isEmpty) (out, None, None)
    else {
      // wake at the oldest surviving horizon; with no pending
      // purchase, at the last click's own ts (> watermark since it
      // survived the prune) so the buffer self-cleans
      val at =
        if (live.nonEmpty) live.map(horizonMs).min
        else liveClicks.map(_._2 / 1000 + 1).max
      (out, Some(AsofState.of(live, liveClicks)), Some(at))
    }
  }

  /** The batch fold of one user's events: every purchase resolved
    * against every click of the group. */
  private[graft] def batchFold(uid: Long, events: Iterator[AsofEvent])
      : Iterator[AsofMatch] = {
    val (ps, cs) = events.toSeq.partition(_.isLeft)
    val clicks = cs.map(e => (e.event_id, e.ts_us)).distinct.toList
    ps.map(e => (e.event_id, e.ts_us)).distinct
      .sortBy(p => (p._2, p._1)).iterator.map(resolve(uid, _, clicks))
  }

  /** Batch as-of: one [[batchFold]] per user — AsofStreamSpec proves
    * it equals the `c_join_asof_forward` windowed plan row-for-row. */
  def asofBatch(ds: Dataset[AsofEvent]): Dataset[AsofMatch] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** Streaming as-of over watermarked (user_id, event_id, ts, isLeft)
    * rows, through `transformWithState` (needs the RocksDB state-store
    * provider). */
  def asofStreaming(
      ds: Dataset[(Long, Long, java.sql.Timestamp, Boolean)])
      : Dataset[AsofMatch] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new AsofProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[AsofStream.step]] under [[StepProcessor]]. */
private[graft] class AsofProcessor
    extends StepProcessor[(Long, Long, java.sql.Timestamp, Boolean),
      AsofState, AsofMatch] {
  override protected def stateName: String = "asof"
  override protected def stateEncoder: Encoder[AsofState] =
    Encoders.product[AsofState]
  override protected def emptyState: AsofState = AsofState(Nil, Nil)
  override protected def step(
      uid: Long, st: AsofState,
      rows: Seq[(Long, Long, java.sql.Timestamp, Boolean)], wmUs: Long)
      : (Seq[AsofMatch], Option[AsofState], Option[Long]) =
    AsofStream.step(uid, st,
      rows.map { case (_, id, ts, left) =>
        AsofEvent(uid, id, ts.getTime * 1000, left) },
      wmUs)
}
