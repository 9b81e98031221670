package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.{DedupEvent, Session, SessionEvent, Sessionize, StatefulDedup}

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)

/** §2.K streaming deliverables: the batch-twin expressions run
  * unchanged under MemoryStream (tumbling equivalence), watermarks drop
  * late data (k_late_data_policy), and the session machine agrees with
  * session_window (k_stateful_sessionize).
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureEvents: Seq[Ev] =
    Tables.eventsWithNanos(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .as[(Long, Long, Long, String, Double)]
      .collect()
      .sortBy(_._2)
      .map { case (id, us, uid, t, v) => Ev(id, new Timestamp(us / 1000), uid, t, v) }

  test("tumbling window: streaming result equals batch result") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val streamed = input.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    input.addData(fixtureEvents)
    val q = streamed.writeStream
      .format("memory").queryName("tumbling_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamRes = spark.table("tumbling_test")
      .select("ws", "event_type", "n")
      .as[(Timestamp, String, Long)].collect().toSet
    val batchRes = fixtureEvents.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streamRes == batchRes)
    assert(streamRes.nonEmpty)
  }

  test("stream-stream interval join equals the batch twin") {
    implicit val ctx = spark.sqlContext
    val vIn = MemoryStream[Ev]
    val bIn = MemoryStream[Ev]
    def views(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
    def buys(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("event_id").as("buy_id"),
          col("ts").as("buy_ts"))
    def joined(v: org.apache.spark.sql.DataFrame,
               b: org.apache.spark.sql.DataFrame) =
      v.join(b, col("user_id") === col("b_user") &&
          col("buy_ts") >= col("view_ts") &&
          col("buy_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select("view_id", "buy_id")
    val streamed = joined(
      views(vIn.toDF().withWatermark("ts", "1 hour")),
      buys(bIn.toDF().withWatermark("ts", "1 hour")))
    vIn.addData(fixtureEvents)
    bIn.addData(fixtureEvents)
    val q = streamed.writeStream
      .format("memory").queryName("ssjoin_test")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamRes = spark.table("ssjoin_test")
      .as[(Long, Long)].collect().toSet
    val batch = fixtureEvents.toDF()
    val batchRes = joined(views(batch), buys(batch))
      .as[(Long, Long)].collect().toSet
    assert(streamRes == batchRes)
    assert(streamRes.nonEmpty)
  }

  test("watermark drops data later than 15 minutes (append mode)") {
    implicit val ctx = spark.sqlContext
    def ts(s: String) = Timestamp.valueOf(s)
    val input = MemoryStream[Ev]
    val agg = input.toDF()
      .withWatermark("ts", "15 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
    val q = agg.writeStream
      .format("memory").queryName("late_test")
      .outputMode("append")
      .start()
    // batch 1: two rows in the 10:00 window
    input.addData(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: watermark jumps past 11:00+15m -> 10:00 window finalizes
    input.addData(Ev(3, ts("2024-01-01 12:00:00"), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 3: a row for the already-closed 10:00 window — must be dropped
    input.addData(Ev(4, ts("2024-01-01 10:07:00"), 1, "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("late_test")
      .as[(Timestamp, Long)].collect().toMap
    assert(out(ts("2024-01-01 10:00:00")) == 2L,
      s"late row was not dropped: $out")
  }

  test("file-source readStream over a parquet dir matches batch") {
    // real DataStreamReader (not MemoryStream): copy the fixture into a
    // stream-watched directory, aggregate with the same expression as
    // k_window_tumbling, compare to batch on identical data
    val dir = "/tmp/graft-stream-src"
    val fs = Tables.eventsWithNanos(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("event_type"), col("value"))
    fs.write.mode("overwrite").parquet(dir)
    val schema = fs.schema
    val streamed = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
    val q = streamed.writeStream
      .format("memory").queryName("filestream_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q.stop()
    val streamRes = spark.table("filestream_test")
      .as[(Timestamp, String, Long)].collect().toSet
    val batchRes = spark.read.parquet(dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("event_type"), col("n"))
      .as[(Timestamp, String, Long)].collect().toSet
    assert(streamRes == batchRes)
    assert(streamRes.nonEmpty)
  }

  test("streaming sessionize flushes a session when the watermark passes it") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(s: String) = Timestamp.valueOf(s)
      val input = MemoryStream[Ev]
      val sessions = graft.streaming.Sessionize.sessionsStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)])
      val q = sessions.writeStream
        .format("memory").queryName("sessionize_stream_test")
        .outputMode("append")
        .start()
      // batch 1: user 1 has a 2-event session; user 2 keeps watermark low
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0),
        Ev(3, ts("2024-01-01 10:20:00"), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 2: watermark jumps past user 1's session close (10:40)
      input.addData(Ev(4, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
      q.processAllAvailable()
      // batch 3: one more trigger so the timeout fires post-watermark
      input.addData(Ev(5, ts("2024-01-01 12:30:00"), 2, "view", 1.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("sessionize_stream_test")
        .select("user_id", "first_us", "last_us", "n")
        .as[(Long, Long, Long, Long)].collect().toSet
      val expectUser1 = (1L,
        ts("2024-01-01 10:00:00").getTime * 1000L,
        ts("2024-01-01 10:10:00").getTime * 1000L, 2L)
      assert(out.contains(expectUser1),
        s"user 1's closed session not emitted: $out")
    }
  }

  test("transformWithState dedup emits each event_id exactly once " +
    "across micro-batches (Spark 4 StatefulProcessor API)") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[DedupEvent]
      val q = StatefulDedup.dedup(input.toDS())
        .writeStream.format("memory").queryName("tws_dedup")
        .outputMode("append").start()
      // batch 1: ids 1,2,3 with id 2 duplicated in-batch
      input.addData(DedupEvent(1, 10, 1.0), DedupEvent(2, 20, 2.0),
        DedupEvent(2, 5, 0.5), DedupEvent(3, 30, 3.0))
      q.processAllAvailable()
      // batch 2: ids 2,3 replayed (cross-batch dups) + new id 4
      input.addData(DedupEvent(2, 99, 9.9), DedupEvent(3, 99, 9.9),
        DedupEvent(4, 40, 4.0))
      q.processAllAvailable()
      q.stop()
      val out = spark.table("tws_dedup").as[DedupEvent].collect()
      assert(out.map(_.event_id).sorted.toSeq == Seq(1L, 2L, 3L, 4L),
        s"got ${out.toSeq}")
      // in-batch duplicate of id 2 resolved by (user_id, value) order
      assert(out.find(_.event_id == 2L).get.user_id == 5L)
    }
  }

  test("sessionize boundary parity (r16 — the fuzz find): an event at " +
    "EXACTLY prev+gap merges on both the stateful machine and native " +
    "session_window; gap+1µs splits") {
    import org.apache.spark.sql.functions.{window => _, _}
    val g = SessionBounds.GapUs
    val t0 = 1704888000000000L // 2024-01-10T12:00:00Z in µs
    // chain: t0, t0+g (touching → merges), then +g−1µs (merges),
    // then +g+1µs (splits); second user is a lone event
    val ts = Seq(t0, t0 + g, t0 + g + (g - 1), t0 + g + (g - 1) + g + 1)
    val evs = (ts.map(t => (7L, t)) :+ (8L, t0)).toDF("user_id", "ts_us")
    val stateful = Sessionize.sessionsBatch(evs.as[SessionEvent])
      .select("user_id", "first_us", "last_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    val expected = Set(
      (7L, t0, t0 + g + (g - 1), 3L),                  // merged-on-touch
      (7L, ts.last, ts.last, 1L),
      (8L, t0, t0, 1L))
    assert(stateful == expected, stateful)
    // native session_window over the same instants agrees
    val native = evs
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .groupBy(col("user_id"),
        org.apache.spark.sql.functions.session_window(col("ts"),
          "30 minutes"))
      .agg(min("ts_us").as("first_us"), max("ts_us").as("last_us"),
        count(lit(1)).as("n"))
      .select("user_id", "first_us", "last_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(native == expected, native)
  }

  test("batch sessionize fold equals session_window batch") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("ts_us")).as[SessionEvent]
    val stateful = Sessionize.sessionsBatch(evs)
      .select("user_id", "first_us", "last_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    val windowed = SparkEntry.queries("k_window_session")(spark, sfDir)
      .select("user_id", "first_us", "last_us", "n")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }
}
