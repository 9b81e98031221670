package graft.streaming

import java.math.{BigDecimal => JBD, RoundingMode}

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

case class ValueEvent(user_id: Long, ts_us: Long, event_id: Long,
                      value: Double)
case class AnomalyHit(event_id: Long, user_id: Long, value: Double,
                      z: Double)
/** Ring of the user's most recent ≤20 values, newest last, plus the
  * last event time (drives the idle-eviction timer). */
case class ZscoreState(window: List[Double], lastUs: Long)

/** §2.K streaming twin of `e_anomaly_zscore` (r10): each arriving
  * event scored against the mean/stddev of that user's previous ≤20
  * values — per-user bounded ring-buffer state (`transformWithState`
  * in [[zscoreStreaming]]).
  *
  * Parity with the batch window plan is EXACT, not approximate
  * (ZscoreStreamSpec pins set equality including the z values): the
  * batch entry derives its moments from DECIMAL(20,6)/(24,6) window
  * sums, so this fold reproduces the identical arithmetic with
  * BigDecimal — per-value scale-6 HALF_UP quantization, exact decimal
  * Σx/Σx², double conversion only in the closed-form z, then the same
  * scale-4 HALF_UP round. A double accumulator would drift from the
  * batch result at the last ulp.
  *
  * Scale notes: state is ≤20 doubles + a timestamp per ACTIVE user
  * (the 30-day idle timer evicts dormant users — after eviction the
  * ring refills exactly as a fresh user's would, matching the batch
  * semantics for any user whose history fits the watermark horizon).
  * The state store shards by user_id; no corpus-sized state anywhere.
  */
object ZscoreStream {
  val WindowN = 20
  val MinSamples = 10
  val IdleTimeoutUs: Long = 30L * 86400L * 1000000L

  private def dec6(v: Double): JBD =
    JBD.valueOf(v).setScale(6, RoundingMode.HALF_UP)

  /** The batch entry's z for the current value against the ring, or
    * None below the sample floor / at zero variance. Mirrors the
    * decimal-sum formulation of `e_anomaly_zscore` exactly. */
  private def zOf(ring: List[Double], v: Double): Option[Double] = {
    val n = ring.length
    if (n < MinSamples) return None
    val s = ring.map(dec6).reduce(_ add _).doubleValue()
    val sq = ring.map(x => dec6(x * x)).reduce(_ add _).doubleValue()
    val variance = (sq - s * s / n) / (n - 1)
    if (!(variance > 0)) return None
    val z = (v - s / n) / math.sqrt(variance)
    if (math.abs(z) > 2)
      Some(JBD.valueOf(z).setScale(4, RoundingMode.HALF_UP).doubleValue())
    else None
  }

  /** Ordered fold of one batch against the ring — the shared kernel
    * of the batch fold and the streaming step. */
  private def foldEvents(uid: Long, cur0: ZscoreState,
                         evs: Seq[ValueEvent])
      : (ZscoreState, Seq[AnomalyHit]) = {
    var cur = cur0
    val out = Seq.newBuilder[AnomalyHit]
    evs.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
      zOf(cur.window, e.value).foreach { z =>
        out += AnomalyHit(e.event_id, uid, e.value, z)
      }
      cur = ZscoreState((cur.window :+ e.value).takeRight(WindowN),
        e.ts_us)
    }
    (cur, out.result())
  }

  /** The batch fold of one user's events: [[foldEvents]] from an
    * empty ring. */
  private[graft] def batchFold(uid: Long, events: Iterator[ValueEvent])
      : Iterator[AnomalyHit] =
    foldEvents(uid, ZscoreState(Nil, 0L), events.toSeq)._2.iterator

  /** Batch scoring: one [[batchFold]] per user — ZscoreStreamSpec
    * proves it equals the `e_anomaly_zscore` windowed plan exactly. */
  def zscoreBatch(ds: Dataset[ValueEvent]): Dataset[AnomalyHit] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_.user_id).flatMapGroups(batchFold)
  }

  /** The PURE streaming step. Idle-eviction clamp (r11, the
    * AttributionStream lesson): a ring whose idle horizon is at or
    * behind the watermark IS idle-expired — dropped now, exactly what
    * the timer would have done; otherwise the wake at
    * last + idle-timeout is strictly later than the watermark. */
  private[streaming] def step(uid: Long, st: ZscoreState,
                              arrived: Seq[ValueEvent], wmUs: Long)
      : (Seq[AnomalyHit], Option[ZscoreState], Option[Long]) = {
    val (cur, out) = foldEvents(uid, st, arrived)
    if (cur.lastUs == 0L && cur.window.isEmpty) (out, None, None)
    else {
      val horizonMs = cur.lastUs / 1000 + IdleTimeoutUs / 1000
      if (horizonMs <= wmUs / 1000) (out, None, None)
      else (out, Some(cur), Some(horizonMs))
    }
  }

  /** Streaming anomaly scoring over watermarked (user_id, ts,
    * event_id, value) rows with idle-state eviction, through
    * `transformWithState` (needs the RocksDB state-store provider). */
  def zscoreStreaming(
      ds: Dataset[(Long, java.sql.Timestamp, Long, Double)])
      : Dataset[AnomalyHit] = {
    import ds.sparkSession.implicits._
    ds.groupByKey(_._1)
      .transformWithState(new ZscoreProcessor, TimeMode.EventTime(),
        OutputMode.Append())
  }
}

/** [[ZscoreStream.step]] under [[StepProcessor]]. */
private[graft] class ZscoreProcessor
    extends StepProcessor[(Long, java.sql.Timestamp, Long, Double),
      ZscoreState, AnomalyHit] {
  override protected def stateName: String = "zscore"
  override protected def stateEncoder: Encoder[ZscoreState] =
    Encoders.product[ZscoreState]
  override protected def emptyState: ZscoreState = ZscoreState(Nil, 0L)
  override protected def step(
      uid: Long, st: ZscoreState,
      rows: Seq[(Long, java.sql.Timestamp, Long, Double)], wmUs: Long)
      : (Seq[AnomalyHit], Option[ZscoreState], Option[Long]) =
    ZscoreStream.step(uid, st,
      rows.map { case (_, ts, eid, v) =>
        ValueEvent(uid, ts.getTime * 1000, eid, v) },
      wmUs)
}
