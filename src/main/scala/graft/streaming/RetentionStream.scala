package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class WeekEvent(user_id: Long, ts_us: Long)
/** One increment (+1) or retraction (−1) of a cohort-table cell. */
case class CohortDelta(cohort_week: Long, week_offset: Long, delta: Long)
/** The user's cohort week and every active week seen so far. */
case class RetentionState(cohortWk: Long, weeks: List[Long])

/** §2.K streaming twin of `e_retention_cohorts` (r11): the cohort
  * retention table maintained as an incremental per-user fold
  * (`transformWithState` in [[deltasStreaming]]), emitting CELL
  * DELTAS that aggregate to exactly the batch table — the classic
  * "changelog of an aggregate" streaming shape, where the batch form
  * is a distinct + two joins.
  *
  * Per user the state is (cohort week = min week ever seen, set of
  * active weeks). A new (user, week) pair emits +1 for cell
  * (cohort, week − cohort). An out-of-order event that REVEALS AN
  * EARLIER COHORT (week < cohort) rebases: −1 retractions for every
  * cell emitted under the stale cohort, then +1 under the true one —
  * so the aggregated table converges to the batch answer under any
  * arrival order (RetentionStreamSpec shuffles arrival and pins
  * equality; [[cohortTable]] is the tiny downstream aggregation that
  * turns deltas into the `e_retention_cohorts` output schema).
  *
  * Scale notes: state is one long + one long per ACTIVE WEEK per user
  * (a year of weekly activity = ~440 bytes); no timeout, because a
  * user's cohort must survive arbitrary idle gaps — the real-world
  * bound is the report horizon: `maxOffset` (r12, ADVICE r11) caps
  * `weeks` at the max offset the table serves, after which new weeks
  * can't change any served cell — fixed-size state per user, proven
  * rebase-safe in [[step]]. The delta stream is tiny: at most one
  * row per NEW (user, week) pair, so downstream aggregation state is
  * cohort×offset-sized.
  */
object RetentionStream {
  val WeekUs: Long = 604800000000L

  /** The PURE per-user fold step. `maxOffset` is the report horizon
    * the scaladoc documents (ADVICE r11 made it real): weeks beyond
    * cohort + maxOffset can never change a served cell, so they are
    * neither emitted nor kept in state — state is bounded at
    * maxOffset + 1 weeks per user. The cap is rebase-safe: a rebase
    * only moves the cohort EARLIER, so offsets only grow, and a week
    * once beyond the horizon stays beyond it forever (it is retracted
    * at rebase time and dropped from state, exactly cancelling its
    * earlier +1). Long.MaxValue = uncapped (the spec-parity default:
    * the batch entry serves every offset).
    *
    * The watermark is UNUSED and the wake always None: a user's cohort
    * must survive arbitrary idle gaps, so this step never arms a timer
    * — the state bound comes from `maxOffset`, not from eviction.
    * Empty state is the (Long.MaxValue, Nil) sentinel. */
  private[graft] def step(uid: Long, st: RetentionState,
                          arrived: Seq[WeekEvent], wmUs: Long,
                          maxOffset: Long = Long.MaxValue)
      : (Seq[CohortDelta], Option[RetentionState], Option[Long]) = {
    val empty = st.cohortWk == Long.MaxValue && st.weeks.isEmpty
    val keep = if (empty) None else Some(st)
    val wks = arrived.map(_.ts_us / WeekUs).distinct.sorted
    if (wks.isEmpty) return (Nil, keep, None)
    val out = Seq.newBuilder[CohortDelta]
    var (cw, seen) =
      if (empty) (Long.MaxValue, Set.empty[Long])
      else (st.cohortWk, st.weeks.toSet)
    val fresh = wks.filterNot(seen)
    var changed = false
    if (fresh.nonEmpty) {
      val minNew = fresh.head
      if (seen.isEmpty) { cw = minNew; changed = true }
      else if (minNew < cw) {
        // rebase: the true cohort is earlier than every cell emitted so
        // far — retract them all, re-emit the still-served ones under
        // the real cohort, drop the rest from state for good
        seen.foreach(w => out += CohortDelta(cw, w - cw, -1L))
        cw = minNew
        seen = seen.filter(w => w - cw <= maxOffset)
        seen.foreach(w => out += CohortDelta(cw, w - cw, 1L))
        changed = true
      }
      fresh.foreach { w =>
        if (w - cw <= maxOffset) {
          seen += w
          out += CohortDelta(cw, w - cw, 1L)
          changed = true
        }
      }
    }
    (out.result(),
      if (changed) Some(RetentionState(cw, seen.toList)) else keep,
      None)
  }

  /** The batch fold of one user's events: [[step]] from empty state. */
  private[graft] def batchFold(uid: Long, events: Iterator[WeekEvent],
                               maxOffset: Long): Iterator[CohortDelta] =
    step(uid, RetentionState(Long.MaxValue, Nil), events.toSeq, 0L,
      maxOffset)._1.iterator

  /** Batch deltas: one [[batchFold]] per user — RetentionStreamSpec
    * proves [[cohortTable]] over these deltas equals the
    * `e_retention_cohorts` plan row-for-row. */
  def deltasBatch(ds: Dataset[WeekEvent],
                  maxOffset: Long = Long.MaxValue): Dataset[CohortDelta] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroups((uid, it) => batchFold(uid, it, maxOffset))
  }

  /** Streaming deltas over watermarked (user_id, ts) rows, through
    * `transformWithState` (needs the RocksDB state-store provider).
    * No timer by design — a user's cohort must survive arbitrary idle
    * gaps; the state BOUND comes from `maxOffset` (the report
    * horizon), not from eviction. */
  def deltasStreaming(ds: Dataset[(Long, java.sql.Timestamp)],
                      maxOffset: Long = Long.MaxValue)
      : Dataset[CohortDelta] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new RetentionProcessor(maxOffset),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Deltas → the `e_retention_cohorts` output schema. Cells whose
    * deltas cancel to ≤0 (fully retracted) drop out, exactly as they
    * never existed in the batch table. */
  def cohortTable(deltas: DataFrame): DataFrame = {
    val cells = deltas.groupBy("cohort_week", "week_offset")
      .agg(sum("delta").as("n_active"))
      .filter(col("n_active") > 0)
    // fresh aliases on the size side: cells/sizes share lineage, and
    // un-aliased join keys trip the conflicting-attribute check when
    // the deltas come from a streaming memory sink
    val sizes = cells.filter(col("week_offset") === 0)
      .select(col("cohort_week").as("size_week"),
        col("n_active").as("cohort_size"))
    cells.join(broadcast(sizes), col("cohort_week") === col("size_week"))
      .select(col("cohort_week"), col("week_offset"),
        col("n_active"), col("cohort_size"),
        expr("n_active * 10000 div cohort_size").as("retention_bp"))
      .orderBy("cohort_week", "week_offset")
  }
}

/** [[RetentionStream.step]] under [[StepProcessor]]; never arms a
  * timer. */
private[graft] class RetentionProcessor(maxOffset: Long)
    extends StepProcessor[(Long, java.sql.Timestamp), RetentionState,
      CohortDelta] {
  override protected def stateName: String = "retention"
  override protected def stateEncoder: Encoder[RetentionState] =
    Encoders.product[RetentionState]
  override protected def emptyState: RetentionState =
    RetentionState(Long.MaxValue, Nil)
  override protected def step(
      uid: Long, st: RetentionState,
      rows: Seq[(Long, java.sql.Timestamp)], wmUs: Long)
      : (Seq[CohortDelta], Option[RetentionState], Option[Long]) =
    RetentionStream.step(uid, st,
      rows.map { case (_, ts) => WeekEvent(uid, ts.getTime * 1000) },
      wmUs, maxOffset)
}
