package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{FunnelEvent, FunnelStream}

case class FEv(user_id: Long, ts: Timestamp, event_id: Long,
               event_type: String)

/** The streaming funnel twin (§2.K, r10): the per-user state machine
  * must equal the `e_funnel_sessions` windowed batch plan row-for-row
  * on the fixture, and under a real stream it must carry funnel state
  * across micro-batches and flush on the watermark timeout.
  */
class FunnelStreamSpec extends SparkSpec {
  import spark.implicits._

  test("state-machine funnel equals the e_funnel_sessions windowed " +
    "plan on the fixture") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("event_type")).as[FunnelEvent]
    val stateful = FunnelStream.funnelBatch(evs)
      .select("user_id", "session_start", "n_events", "funnel_stage")
      .as[(Long, Long, Long, Int)].collect().toSet
    val windowed = SparkEntry.queries("e_funnel_sessions")(spark, sfDir)
      .select(col("user_id"), col("session_start"), col("n_events"),
        col("funnel_stage"))
      .as[(Long, Long, Long, Int)].collect().toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
    // the fixture exercises stages 0-2; stage 3 is pinned below and in
    // FunnelSpec's planted batch data
    assert(stateful.exists(_._4 >= 1))
  }

  test("streamed funnel carries stage state across micro-batches and " +
    "flushes on the watermark") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(s: String) = Timestamp.valueOf(s)
      val input = MemoryStream[FEv]
      val out = FunnelStream.funnelStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), col("event_id"),
            col("event_type"))
          .as[(Long, Timestamp, Long, String)])
      val q = out.writeStream
        .format("memory").queryName("funnel_stream_test")
        .outputMode("append")
        .start()
      try {
        // batch 1: user 1 views; user 9 keeps the watermark low
        input.addData(
          FEv(1, ts("2024-01-01 10:00:00"), 1, "view"),
          FEv(9, ts("2024-01-01 10:00:00"), 2, "view"))
        q.processAllAvailable()
        // batch 2: the click and purchase arrive in a LATER micro-batch
        // of the same session — only carried state can complete stage 3
        input.addData(
          FEv(1, ts("2024-01-01 10:05:00"), 3, "click"),
          FEv(1, ts("2024-01-01 10:10:00"), 4, "purchase"))
        q.processAllAvailable()
        // batch 3: watermark jumps past user 1's session close (10:40)
        input.addData(FEv(9, ts("2024-01-01 12:00:00"), 5, "view"))
        q.processAllAvailable()
        // batch 4: one more trigger so the timeout fires post-watermark
        input.addData(FEv(9, ts("2024-01-01 12:30:00"), 6, "view"))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("funnel_stream_test")
        .select("user_id", "session_start", "n_events", "funnel_stage")
        .as[(Long, Long, Long, Int)].collect().toSet
      val expect = (1L, ts("2024-01-01 10:00:00").getTime * 1000L, 3L, 3)
      assert(rows.contains(expect),
        s"user 1's completed cross-batch funnel not emitted: $rows")
    }
  }

  test("out-of-order and gap-cut semantics match the batch funnel on " +
    "planted data") {
    // same plantings as FunnelSpec: purchase-first never completes,
    // a 40-min gap splits the funnel
    val base = 1704067200000000L // epoch micros
    val m = 60000000L
    def ev(id: Long, user: Long, offMin: Long, t: String) =
      FunnelEvent(user, base + offMin * m, id, t)
    val evs = Seq(
      ev(1, 1, 0, "view"), ev(2, 1, 5, "click"), ev(3, 1, 10, "purchase"),
      ev(4, 2, 0, "purchase"), ev(5, 2, 5, "view"), ev(6, 2, 10, "click"),
      ev(7, 3, 0, "view"), ev(8, 3, 40, "click"), ev(9, 3, 45, "purchase"),
      ev(10, 4, 0, "click"), ev(11, 4, 5, "view"), ev(12, 4, 10, "purchase"))
    val got = FunnelStream.funnelBatch(evs.toDS())
      .collect()
      .sortBy(s => (s.user_id, s.session_start))
      .map(s => (s.user_id, s.funnel_stage)).toSeq
    assert(got == Seq((1L, 3), (2L, 2), (3L, 1), (3L, 0), (4L, 1)), got)
  }
}
