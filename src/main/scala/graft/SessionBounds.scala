package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.lit

/** THE session gap-cut predicate (r17, VERDICT r16 item 3 / What's
  * wrong 4): the one place the repo's two session-boundary conventions
  * are defined, so no call site can drift from its family's twin.
  *
  * Two families, split by design (each pair internally consistent with
  * its own oracle; the r16 fuzzer found them diverging only at the
  * exactly-at-gap probe):
  *
  *  - '''merge-on-touch''' (`strict = false`) — native
  *    `session_window`'s convention: two touching `[ts, ts+gap]`
  *    intervals merge, so an event at exactly `last + gap` still
  *    EXTENDS the session; the cut fires only at `gap > GapUs`.
  *    Members: `k_window_session` (+ its DuckDB twin and the
  *    [[graft.streaming.Sessionize]] batch fold and streaming step).
  *  - '''cut-at->=-gap''' (`strict = true`) — an event at exactly
  *    `last + gap` STARTS a new session. Members: `e_funnel_sessions`
  *    (+ its DuckDB twin) and the [[graft.streaming.FunnelStream]]
  *    folds.
  *
  * The same predicate doubles as the watermark freeze test: a session
  * with last activity `lastUs` can be extended by an admissible event
  * (one at-or-ahead of watermark `wmUs`) iff an event AT the watermark
  * would not cut — i.e. the session is frozen exactly when
  * `cuts(lastUs, wmUs, strict)`. Both streaming folds use it that way.
  *
  * PropertySpec's boundary fuzz pins each family's convention against
  * its reference fold across random schedules including exact
  * at-the-gap deltas.
  */
object SessionBounds {
  /** 30-minute session gap, in microseconds (event-time unit repo-wide). */
  val GapUs: Long = 30L * 60 * 1000000

  /** TRUE iff an event at `tsUs` starts a new session given last
    * activity at `lastUs` (see the family table above for `strict`). */
  def cuts(lastUs: Long, tsUs: Long, strict: Boolean,
      gapUs: Long = GapUs): Boolean =
    if (strict) tsUs - lastUs >= gapUs else tsUs - lastUs > gapUs

  /** SQL fragment for the DuckDB oracle twins — the comparison an
    * inter-event microsecond delta must satisfy to cut, rendered from
    * the same (strict, gap) definition the Scala sites use so the
    * twins cannot drift from their family. */
  def sqlCut(strict: Boolean, gapUs: Long = GapUs): String =
    (if (strict) ">= " else "> ") + gapUs

  /** Column form for lag-based window sessionizers; null-safe the way
    * `lag` needs it: a null `last` (first event of the partition)
    * yields null, which `when(...)` treats as no-cut — the first event
    * opens session 0 without a spurious increment. */
  def cutExpr(last: Column, ts: Column, strict: Boolean,
      gapUs: Long = GapUs): Column =
    if (strict) ts - last >= lit(gapUs) else ts - last > lit(gapUs)
}
