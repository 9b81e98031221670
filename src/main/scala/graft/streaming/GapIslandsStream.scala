package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class DayEvent(user_id: Long, ts_us: Long)
case class Island(user_id: Long, island_start: Long, island_end: Long,
                  island_len: Long)
/** Every island of the user that the watermark has NOT yet proven
  * maximal, oldest-first, as flattened [s0, e0, s1, e1, …] (the
  * product encoder handles flat Seq[Long] without a nested-type
  * wrapper). Bounded: intervals ahead of the watermark span at most
  * the watermark delay in days, plus the one open run. */
case class IslandState(flat: Seq[Long]) {
  def intervals: List[(Long, Long)] =
    flat.grouped(2).map { case Seq(a, b) => (a, b) }.toList
}
object IslandState {
  def of(ivs: List[(Long, Long)]): IslandState =
    IslandState(ivs.flatMap { case (a, b) => Seq(a, b) })
}

/** §2.K streaming twin of `e_window_gap_islands` (r11): maximal runs
  * of consecutive active days maintained as per-user interval-set
  * state (`transformWithState` in [[islandsStreaming]]), instead of
  * the batch row_number-difference window.
  *
  * Equivalence to the batch plan (GapIslandsStreamSpec pins it): an
  * island is fully determined by the SET of active days, and
  * [[mergeDays]] folds each batch's distinct days into the interval
  * set exactly as interval union would. An island is emitted ONLY
  * when the watermark passes `end + 2 days` — the instant no day
  * ≤ end+1 can still arrive, so the run is provably maximal. Islands
  * ahead of that horizon stay in state, because a late-but-admissible
  * day can still extend them or MERGE two of them (the r11
  * code-review counterexample: days 10 then 8 then 9 under a 3-day
  * watermark delay must produce ONE island (8,10) — an eager emit of
  * (8,8) in append mode could never be retracted).
  *
  * Scale notes: state is ≤ (watermark-delay-in-days + 1) intervals of
  * two longs per active user; the event-time timer at the OLDEST
  * unproven horizon bounds retention, and the state store shards by
  * user_id. Days beyond the watermark are dropped by the operator's
  * late-row filter — standard append-mode semantics.
  */
object GapIslandsStream {
  val DayUs: Long = 86400000000L

  /** Interval union of the existing set with a batch of (not
    * necessarily sorted, possibly duplicate) day indices →
    * merged interval set, oldest-first. */
  private[graft] def mergeDays(ivs0: List[(Long, Long)],
                               days: Seq[Long]): List[(Long, Long)] = {
    val ivs = (ivs0 ++ days.distinct.map(d => (d, d))).sortBy(_._1)
    ivs.foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e + 1 =>
        (s, math.max(e, e2)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse
  }

  private def isl(uid: Long, iv: (Long, Long)): Island =
    Island(uid, iv._1, iv._2, iv._2 - iv._1 + 1)

  /** Horizon at which the watermark proves `iv` maximal: the first
    * instant after every possible day ≤ end+1. */
  private def horizonMs(iv: (Long, Long)): Long =
    (iv._2 + 2) * (DayUs / 1000)

  /** The batch fold of one user's events: every island of the day
    * set, all final at the end of the group. */
  private[graft] def batchFold(uid: Long, events: Iterator[DayEvent])
      : Iterator[Island] =
    mergeDays(Nil, events.map(_.ts_us / DayUs).toSeq)
      .iterator.map(isl(uid, _))

  /** Batch islands: one [[batchFold]] per user — GapIslandsStreamSpec
    * proves it equals the `e_window_gap_islands` windowed plan
    * row-for-row. */
  def islandsBatch(ds: Dataset[DayEvent]): Dataset[Island] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** The PURE streaming step: emit the islands the watermark has
    * proven maximal, keep the rest, and wake at the oldest surviving
    * horizon. Watermark in µs (the [[StepProcessor]] convention);
    * returns (emitted islands, surviving state or None, wake-at ms —
    * strictly later than the watermark by construction of the
    * partition). */
  private[streaming] def step(uid: Long, st: IslandState,
                              arrived: Seq[DayEvent], wmUs: Long)
      : (Seq[Island], Option[IslandState], Option[Long]) = {
    val merged = mergeDays(st.intervals, arrived.map(_.ts_us / DayUs))
    val wm = wmUs / 1000
    val (proven, live) = merged.partition(horizonMs(_) <= wm)
    val out = proven.map(isl(uid, _))
    if (live.isEmpty) (out, None, None)
    else (out, Some(IslandState.of(live)), Some(live.map(horizonMs).min))
  }

  /** Streaming islands over watermarked (user_id, ts) rows, through
    * `transformWithState` (needs the RocksDB state-store provider). */
  def islandsStreaming(ds: Dataset[(Long, java.sql.Timestamp)])
      : Dataset[Island] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new IslandProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[GapIslandsStream.step]] under [[StepProcessor]]. */
private[graft] class IslandProcessor
    extends StepProcessor[(Long, java.sql.Timestamp), IslandState, Island] {
  override protected def stateName: String = "islands"
  override protected def stateEncoder: Encoder[IslandState] =
    Encoders.product[IslandState]
  override protected def emptyState: IslandState = IslandState(Nil)
  override protected def step(
      uid: Long, st: IslandState,
      rows: Seq[(Long, java.sql.Timestamp)], wmUs: Long)
      : (Seq[Island], Option[IslandState], Option[Long]) =
    GapIslandsStream.step(uid, st,
      rows.map(r => DayEvent(uid, r._2.getTime * 1000)), wmUs)
}
