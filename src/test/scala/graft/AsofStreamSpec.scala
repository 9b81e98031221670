package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{AsofEvent, AsofStream}

case class AsEv(user_id: Long, event_id: Long, ts: Timestamp,
                isLeft: Boolean)

/** The streaming as-of twin (§2.K, r12 — VERDICT r11 item 6): the
  * bounded-state forward as-of must equal `c_join_asof_forward`
  * row-for-row, carry a pending purchase across micro-batches, flush
  * the unmatched case when the watermark closes its band, and survive
  * a watermark jump past a purchase's horizon (the r11 clamp class).
  */
class AsofStreamSpec extends SparkSpec {
  import spark.implicits._

  private val hourUs = 3600000000L

  test("stateful as-of equals the batch forward-as-of plan " +
    "row-for-row on the fixture") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .filter(col("event_type").isin("purchase", "click"))
      .select(col("user_id"), col("event_id"),
        expr("ts_ns div 1000").as("ts_us"),
        (col("event_type") === "purchase").as("isLeft"))
      .as[AsofEvent]
    val stateful = AsofStream.asofBatch(evs)
      .select("p_id", "user_id", "p_ts", "c_id", "c_ts")
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSet
    val windowed = SparkEntry.queries("c_join_asof_forward")(spark, sfDir)
      .as[(Long, Long, Long, Option[Long], Option[Long])]
      .collect().toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
    // both branches live on the fixture: matched and unmatched rows
    assert(stateful.exists(_._4.isDefined) && stateful.exists(_._4.isEmpty))
  }

  test("streamed as-of: cross-micro-batch carry, watermark flush of " +
    "the unmatched case, and in-band click selection") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(hour: Long) = new Timestamp(hour * 3600000L)
      val input = MemoryStream[AsEv]
      val out = AsofStream.asofStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("event_id"), col("ts"), col("isLeft"))
          .as[(Long, Long, Timestamp, Boolean)])
      val q = out.writeStream
        .format("memory").queryName("asof_stream_test")
        .outputMode("append")
        .start()
      try {
        // batch 1: a purchase at h10 — pending, nothing emitted
        input.addData(AsEv(1, 100, ts(10), isLeft = true))
        q.processAllAvailable()
        assert(spark.table("asof_stream_test").count() == 0,
          "purchase resolved before its band closed")
        // batch 2: clicks at h11 (in band) and h13 (out of band), and a
        // second purchase at h13 — carried purchase must match h11 later
        input.addData(AsEv(1, 200, ts(11), isLeft = false),
          AsEv(1, 201, ts(13), isLeft = false),
          AsEv(1, 101, ts(13), isLeft = true))
        q.processAllAvailable()
        // batch 3: another user pushes the watermark past h15+2 —
        // both purchases resolve via timeout
        input.addData(AsEv(2, 900, ts(40), isLeft = false))
        q.processAllAvailable()
        input.addData(AsEv(2, 901, ts(41), isLeft = false))
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
      } finally q.stop()
      val rows = spark.table("asof_stream_test")
        .filter(col("user_id") === 1)
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      assert(rows == Set(
        (100L, 1L, 10L * hourUs, Some(200L), Some(11L * hourUs)),
        (101L, 1L, 13L * hourUs, None, None)),
        s"unexpected resolutions: $rows")
    }
  }

  test("a watermark jump past a pending purchase's whole band " +
    "resolves it in the DATA path instead of crashing on a stale " +
    "timeout (r11 clamp class)") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(hour: Long) = new Timestamp(hour * 3600000L)
      val input = MemoryStream[AsEv]
      val out = AsofStream.asofStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("event_id"), col("ts"), col("isLeft"))
          .as[(Long, Long, Timestamp, Boolean)])
      val q = out.writeStream
        .format("memory").queryName("asof_stream_clamp_test")
        .outputMode("append")
        .start()
      try {
        // batch 1: user 1's purchase at h85 goes pending (timeout set at
        // its h87 horizon) while user 2's click at h300 drives the NEXT
        // watermark to h300 — a jump far beyond the pending horizon
        input.addData(AsEv(1, 100, ts(85), isLeft = true),
          AsEv(2, 900, ts(300), isLeft = false))
        q.processAllAvailable()
        // (the purchase may already have resolved here: the engine runs
        // a no-data batch after the jump, firing the h87 timeout — both
        // orders must yield the same final rows)
        // batch 2: user 1 gets a DATA invocation (click at h310, far
        // out of band) against whatever state the jump left behind
        input.addData(AsEv(1, 200, ts(310), isLeft = false))
        q.processAllAvailable()
        // push the watermark once more so the lone h310 click buffer
        // self-cleans through its own timeout
        input.addData(AsEv(2, 901, ts(400), isLeft = false))
        q.processAllAvailable()
        assert(q.exception.isEmpty,
          s"stale-horizon purchase crashed the query: ${q.exception}")
      } finally q.stop()
      val rows = spark.table("asof_stream_clamp_test")
        .filter(col("user_id") === 1)
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      assert(rows == Set((100L, 1L, 85L * hourUs, None, None)),
        s"stale-horizon purchase mis-resolved: $rows")
    }
  }

  test("DATA-path clamp, unit-level: a data invocation with the stored " +
    "horizon far below the watermark resolves the purchase and never " +
    "re-arms a stale timeout") {
    val pend = graft.streaming.AsofState(Seq(100L, 85L * hourUs), Nil)
    val wmUs = 300L * hourUs
    val (out, next, wake) = AsofStream.step(1L, pend,
      Seq(AsofEvent(1L, 200L, 310L * hourUs, isLeft = false)), wmUs)
    assert(out == Seq(graft.streaming.AsofMatch(
      100L, 1L, 85L * hourUs, None, None)), out)
    // surviving state: only the future click, waking at its own ts
    assert(next.exists(s =>
      s.purchases.isEmpty && s.clicks == List((200L, 310L * hourUs))), next)
    assert(wake.exists(_ > wmUs / 1000), wake)
  }

  test("transformWithState as-of equals asofBatch over the admitted " +
    "rows on one micro-batch schedule, including the carry, flush, " +
    "and clamp legs") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(hour: Long) = new Timestamp(hour * 3600000L)
      // one schedule exercising all three proven behaviors: the
      // cross-batch carry + in-band selection (user 1), the
      // watermark-jump clamp + lone-click self-clean (user 3), and
      // the watermark-driving side (user 2). Every row is strictly
      // later than the watermark at its arrival (delay 0), so every
      // row is admitted.
      val batches: Seq[Seq[AsEv]] = Seq(
        Seq(AsEv(1, 100, ts(10), isLeft = true)),
        Seq(AsEv(1, 200, ts(11), isLeft = false),
          AsEv(1, 201, ts(13), isLeft = false),
          AsEv(1, 101, ts(13), isLeft = true)),
        Seq(AsEv(2, 900, ts(40), isLeft = false)),
        Seq(AsEv(3, 300, ts(85), isLeft = true),
          AsEv(2, 901, ts(300), isLeft = false)),
        Seq(AsEv(3, 400, ts(310), isLeft = false)),
        Seq(AsEv(2, 902, ts(400), isLeft = false)))
      val input = MemoryStream[AsEv]
      val q = AsofStream.asofStreaming(input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("event_id"), col("ts"), col("isLeft"))
          .as[(Long, Long, Timestamp, Boolean)])
        .writeStream.format("memory").queryName("asof_tws")
        .outputMode("append").start()
      try {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
        assert(q.exception.isEmpty, s"asof_tws crashed: ${q.exception}")
      } finally q.stop()
      val tws = spark.table("asof_tws")
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      val ref = AsofStream.asofBatch(batches.flatten.map(e =>
          AsofEvent(e.user_id, e.event_id, e.ts.getTime * 1000, e.isLeft))
        .toDS())
        .as[(Long, Long, Long, Option[Long], Option[Long])]
        .collect().toSet
      assert(tws == ref, s"engine diverged from the batch fold:\n tws $tws\n ref $ref")
      // and both match the known resolutions of the proven legs
      val u13 = tws.filter(r => r._2 == 1L || r._2 == 3L)
      assert(u13 == Set(
        (100L, 1L, 10L * hourUs, Some(200L), Some(11L * hourUs)),
        (101L, 1L, 13L * hourUs, None, None),
        (300L, 3L, 85L * hourUs, None, None)), s"unexpected: $u13")
    }
  }
}
