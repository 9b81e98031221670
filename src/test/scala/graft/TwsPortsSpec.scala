package graft

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming._

/** The real `transformWithState` engine (RocksDB provider) against the
  * batch folds: each test drives one micro-batch schedule through an
  * operator's `*Streaming` entry point and asserts its output equals
  * the operator's `*Batch` fold over the rows the late-row rule
  * admitted. The schedules exercise the cross-batch carry, the
  * watermark-gap close, the out-of-order buffer replay, and the
  * stale-horizon clamp legs. The last test pins the late-row rule
  * itself ([[StepProcessor]]). (The 250-schedule arbitrary-order
  * properties run in WatermarkFuzzSpec against the same processor
  * classes.)
  */
class TwsPortsSpec extends SparkSpec {
  import spark.implicits._

  private val minMs = 60000L
  private val minUs = 60000000L
  private val dayMs = 86400000L

  /** Drive `batches` through a streaming query over a MemoryStream of
    * (user_id, ts[, id, type, value]) rows, watermarked by `delay` on
    * `ts`, collecting the memory-sink table. */
  private def drive[I: org.apache.spark.sql.Encoder, O](
      name: String, batches: Seq[Seq[I]], cols: Seq[String], delay: String,
      mk: Dataset[I] => Dataset[O]): org.apache.spark.sql.DataFrame = {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[I]
    val q = mk(input.toDS().toDF(cols: _*).withWatermark("ts", delay).as[I])
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      assert(q.exception.isEmpty, s"$name crashed: ${q.exception}")
    } finally q.stop()
    spark.table(name)
  }

  /** The rows of `batches` the late-row rule admits: event time
    * strictly later than the watermark, which is the max event time of
    * the earlier batches minus `delayMs` (0 before any row). */
  private def admitted[I](batches: Seq[Seq[I]], tsMs: I => Long,
                          delayMs: Long): Seq[I] = {
    var wm = 0L
    batches.flatMap { b =>
      val live = b.filter(tsMs(_) > wm)
      b.map(tsMs).maxOption.foreach(t => wm = wm max (t - delayMs))
      live
    }
  }

  test("Sessionize: the real TWS engine equals sessionsBatch over the " +
    "admitted rows — carry, out-of-order replay, gap close, and " +
    "watermark-jump legs") {
    withRocksDb {
      def ev(uid: Long, tMin: Long) = (uid, new Timestamp(tMin * minMs))
      // user 1: one session split across batches with an admissible
      // out-of-order arrival inside the gap, then a second session
      // opened against a far-advanced watermark (data invocation after
      // a jump); user 2 drives the watermark, including a final jump
      // that closes everything still pending
      val batches = Seq(
        Seq(ev(1, 100), ev(1, 110)),
        Seq(ev(1, 125), ev(1, 105)), // 105 is admissible (wm at 110-delay)
        Seq(ev(2, 200)),             // pushes wm past user 1's gap
        Seq(ev(1, 300), ev(2, 1000)), // new session + another jump
        Seq(ev(2, 2000)))            // final close
      val tws = drive("sess_tws", batches, Seq("user_id", "ts"),
        "10 minutes", Sessionize.sessionsStreaming)
        .as[Session].collect().toSet
      // the trailing minute-2000 session is still open at the end
      val ref = Sessionize.sessionsBatch(
        admitted[(Long, Timestamp)](batches, _._2.getTime, 10 * minMs)
          .map { case (u, ts) => SessionEvent(u, ts.getTime * 1000) }.toDS())
        .collect().toSet - Session(2L, 2000 * minUs, 2000 * minUs, 1L)
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      // the out-of-order leg folded: user 1's first session spans
      // 100..125 with all four events; the post-jump second session
      // closed as a singleton
      assert(tws.contains(Session(1L, 100 * minUs, 125 * minUs, 4L)),
        s"out-of-order replay leg missing: $tws")
      assert(tws.contains(Session(1L, 300 * minUs, 300 * minUs, 1L)),
        s"post-jump second session missing: $tws")
    }
  }

  test("GapIslandsStream: the real TWS engine equals islandsBatch over " +
    "the admitted rows — the late-day island MERGE leg (10 then 8 " +
    "then 9 → one island)") {
    withRocksDb {
      def ev(uid: Long, day: Long) = (uid, new Timestamp(day * dayMs))
      val batches = Seq(
        Seq(ev(1, 10)),
        Seq(ev(1, 8), ev(1, 9)), // admissible late days must MERGE
        Seq(ev(2, 30)),          // pushes wm past island horizon
        Seq(ev(2, 100)),
        Seq(ev(2, 200)))
      val tws = drive("isl_tws", batches, Seq("user_id", "ts"), "3 days",
        GapIslandsStream.islandsStreaming)
        .as[Island].collect().toSet
      // the trailing day-200 island is still open when the stream ends
      val ref = GapIslandsStream.islandsBatch(
        admitted[(Long, Timestamp)](batches, _._2.getTime, 3 * dayMs)
          .map { case (u, ts) => DayEvent(u, ts.getTime * 1000) }.toDS())
        .collect().toSet - Island(2L, 200L, 200L, 1L)
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      assert(tws.contains(Island(1L, 8L, 10L, 3L)),
        s"late-day merge leg missing: $tws")
    }
  }

  test("FunnelStream: the real TWS engine equals funnelBatch over the " +
    "admitted rows — a late view revives a buffered click (the " +
    "lossy-fold case only ordered replay gets right)") {
    withRocksDb {
      def ev(uid: Long, tMin: Long, id: Long, tp: String) =
        (uid, new Timestamp(tMin * minMs), id, tp)
      // user 1: click arrives BEFORE the view in arrival order but
      // after it in event time — the frozen ordered replay must count
      // the funnel as view→click; a purchase after the click completes
      // stage 3. user 2 drives the watermark.
      val batches = Seq(
        Seq(ev(1, 110, 10, "click")),
        Seq(ev(1, 100, 11, "view"), ev(1, 120, 12, "purchase")),
        Seq(ev(2, 300, 90, "view")),
        Seq(ev(2, 1000, 91, "view")),
        Seq(ev(2, 2000, 92, "view")))
      val tws = drive("funnel_tws", batches,
        Seq("user_id", "ts", "event_id", "event_type"), "30 minutes",
        FunnelStream.funnelStreaming)
        .as[FunnelSession].collect().toSet
      // the trailing minute-2000 session is still open at the end
      val ref = FunnelStream.funnelBatch(
        admitted[(Long, Timestamp, Long, String)](batches, _._2.getTime,
          30 * minMs)
          .map { case (u, ts, id, tp) =>
            FunnelEvent(u, ts.getTime * 1000, id, tp) }.toDS())
        .collect().toSet - FunnelSession(2L, 2000 * minUs, 1L, 1)
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      // the revive leg: user 1 reaches stage 3 with 3 events
      assert(tws.contains(FunnelSession(1L, 100 * minUs, 3L, 3)),
        s"ordered-replay funnel leg missing: $tws")
    }
  }

  test("AttributionStream: the real TWS engine equals attributionBatch " +
    "over the admitted rows of an in-order schedule — cross-batch " +
    "touch carry, in-lookback credit, and the no-touch direct leg") {
    withRocksDb {
      def ev(uid: Long, tMin: Long, id: Long, tp: String) =
        (uid, new Timestamp(tMin * minMs), id, tp, 1.5)
      // user 1: view in batch 1 credits a purchase that arrives in
      // batch 2 (the cross-batch carry); user 3 purchases with no
      // touch ever → 'direct'; user 2's click→purchase inside one
      // batch; later batches advance the watermark. Every user's rows
      // arrive in event-time order (attribution depends on arrival
      // order, so the batch fold is its reference only in order).
      val batches = Seq(
        Seq(ev(1, 100, 10, "view")),
        Seq(ev(1, 110, 11, "purchase"), ev(3, 150, 30, "purchase")),
        Seq(ev(2, 200, 20, "click"), ev(2, 205, 21, "purchase")),
        Seq(ev(2, 1000, 22, "view")),
        Seq(ev(2, 2000, 23, "view")))
      val tws = drive("attr_tws", batches,
        Seq("user_id", "ts", "event_id", "event_type", "value"),
        "10 minutes", AttributionStream.attributionStreaming)
        .as[AttributedPurchase].collect().toSet
      val ref = AttributionStream.attributionBatch(
        admitted[(Long, Timestamp, Long, String, Double)](batches,
          _._2.getTime, 10 * minMs)
          .map { case (u, ts, id, tp, v) =>
            TouchEvent(u, ts.getTime * 1000, id, tp, v) }.toDS())
        .collect().toSet
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      assert(tws == Set(
        AttributedPurchase(1L, 11L, "view", 1.5),
        AttributedPurchase(3L, 30L, "direct", 1.5),
        AttributedPurchase(2L, 21L, "click", 1.5)),
        s"attribution legs wrong: $tws")
    }
  }

  test("RetentionStream: the real TWS engine's aggregated deltas equal " +
    "deltasBatch over the admitted rows — including the earlier-cohort " +
    "rebase retraction leg") {
    withRocksDb {
      def ev(uid: Long, day: Long) = (uid, new Timestamp(day * dayMs))
      def cells(ds: Seq[CohortDelta]): Map[(Long, Long), Long] =
        ds.groupBy(d => (d.cohort_week, d.week_offset))
          .view.mapValues(_.map(_.delta).sum).filter(_._2 > 0).toMap
      // user 1: week 2 arrives first, then an admissible day-1 event
      // reveals the TRUE week-0 cohort → the rebase must retract the
      // (2,0) cell and re-emit under cohort 0; user 2 is a plain
      // two-week cohort.
      val batches = Seq(
        Seq(ev(1, 15)),          // week 2
        Seq(ev(1, 1)),           // week 0 — rebase (admissible: 30d delay)
        Seq(ev(1, 22), ev(2, 3)), // week 3 under the new cohort; user 2 week 0
        Seq(ev(2, 10)),          // user 2 week 1
        Seq(ev(2, 60)))          // watermark push
      val tws = drive("ret_tws", batches, Seq("user_id", "ts"), "30 days",
        (ds: Dataset[(Long, Timestamp)]) => RetentionStream.deltasStreaming(ds))
        .as[CohortDelta].collect().toSeq
      val ref = RetentionStream.deltasBatch(
        admitted[(Long, Timestamp)](batches, _._2.getTime, 30 * dayMs)
          .map { case (u, ts) => WeekEvent(u, ts.getTime * 1000) }.toDS())
        .collect().toSeq
      assert(cells(tws) == cells(ref),
        s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      // the rebase leg actually fired: a −1 retraction of the stale
      // (cohort 2, offset 0) cell exists in the stream
      assert(tws.contains(CohortDelta(2L, 0L, -1L)),
        s"rebase retraction leg missing: $tws")
    }
  }

  test("ZscoreStream: the real TWS engine equals zscoreBatch over the " +
    "admitted rows of an in-order schedule — ring warm-up across " +
    "batches, then an outlier past the sample floor scores") {
    withRocksDb {
      def ev(uid: Long, tMin: Long, id: Long, v: Double) =
        (uid, new Timestamp(tMin * minMs), id, v)
      // user 1 warms the ring with 10 values split across two batches
      // (cross-batch state carry), then an outlier scores against the
      // full ring; a trailing normal value and user 2 advance the
      // watermark. In event-time order per user, like attribution.
      val warmA = (0 until 6).map(i => ev(1, 100 + i, 1000 + i, (i % 5).toDouble))
      val warmB = (6 until 10).map(i => ev(1, 100 + i, 1000 + i, (i % 5).toDouble))
      val batches = Seq(
        warmA,
        warmB,
        Seq(ev(1, 115, 1010, 50.0)), // outlier, ring has 10 samples
        Seq(ev(1, 116, 1011, 2.0), ev(2, 300, 2000, 1.0)),
        Seq(ev(2, 2000, 2001, 1.0)))
      val tws = drive("z_tws", batches,
        Seq("user_id", "ts", "event_id", "value"), "10 minutes",
        ZscoreStream.zscoreStreaming)
        .as[AnomalyHit].collect().toSet
      val ref = ZscoreStream.zscoreBatch(
        admitted[(Long, Timestamp, Long, Double)](batches, _._2.getTime,
          10 * minMs)
          .map { case (u, ts, id, v) =>
            ValueEvent(u, ts.getTime * 1000, id, v) }.toDS())
        .collect().toSet
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      // the outlier leg scored exactly once, against the warmed ring
      assert(tws.map(_.event_id) == Set(1010L), s"outlier leg wrong: $tws")
    }
  }

  test("late-row rule (pinned): a row whose event time EQUALS the " +
    "current watermark is dropped, and a row 1 ms after it is admitted") {
    withRocksDb {
      // batch 1: user 2 at day 60 → watermark at day 30 after the batch
      // batch 2: user 1 at day 30 plus `offMs`
      def user1Cells(name: String, offMs: Long) = {
        def ev(uid: Long, ms: Long) = (uid, new Timestamp(ms))
        val batches = Seq(
          Seq(ev(2, 60 * dayMs)),
          Seq(ev(1, 30 * dayMs + offMs)),
          Seq(ev(2, 100 * dayMs)),
          Seq(ev(2, 200 * dayMs)))
        drive(name, batches, Seq("user_id", "ts"), "30 days",
          (ds: Dataset[(Long, Timestamp)]) => RetentionStream.deltasStreaming(ds))
          .as[CohortDelta].collect().toSeq
          .filter(_.cohort_week == 4) // day 30 = week 4: user 1's cohort
      }
      val at = user1Cells("boundary_at", 0L)
      assert(at.isEmpty, s"the at-watermark row was admitted: $at")
      val after = user1Cells("boundary_after", 1L)
      assert(after == Seq(CohortDelta(4L, 0L, 1L)),
        s"the row 1 ms after the watermark was not admitted: $after")
    }
  }
}
