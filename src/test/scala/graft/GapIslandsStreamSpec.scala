package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{DayEvent, GapIslandsStream}

case class GiEv(user_id: Long, ts: Timestamp)

/** The streaming gap-islands twin (§2.K, r11): the interval-state
  * machine must equal `e_window_gap_islands`'s row_number-difference
  * plan row-for-row, carry an open streak across micro-batches, and
  * close it via the watermark (timeout or the in-data-path
  * stale-horizon branch).
  */
class GapIslandsStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stateful islands equal the batch window plan row-for-row " +
    "on the fixture") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .as[DayEvent]
    val stateful = GapIslandsStream.islandsBatch(evs)
      .select("user_id", "island_start", "island_end", "island_len")
      .as[(Long, Long, Long, Long)].collect().toSet
    val windowed = SparkEntry.queries("e_window_gap_islands")(spark, sfDir)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }

  test("mergeDays folds any day arrival order to the same interval " +
    "union, including bridges that merge existing intervals") {
    import GapIslandsStream.mergeDays
    // interval union is order-insensitive within a batch
    assert(mergeDays(Nil, Seq(7L, 3L, 4L, 9L, 8L, 3L)) ==
      List((3L, 4L), (7L, 9L)))
    // adjacent day extends
    assert(mergeDays(List((7L, 9L)), Seq(10L)) == List((7L, 10L)))
    // a gap opens a second interval
    assert(mergeDays(List((7L, 10L)), Seq(13L)) ==
      List((7L, 10L), (13L, 13L)))
    // a late earlier run sits before, unmerged
    assert(mergeDays(List((7L, 9L)), Seq(2L, 1L)) ==
      List((1L, 2L), (7L, 9L)))
    // a bridging day MERGES two existing intervals — the case that
    // forbids eager emission of the earlier one
    assert(mergeDays(List((3L, 4L), (7L, 9L)), Seq(5L, 6L)) ==
      List((3L, 9L)))
  }

  test("a late-but-admissible day merges islands instead of splitting " +
    "them (r11 code-review counterexample)") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(day: Int) = new Timestamp(day * 86400000L + 3600000L)
      val input = MemoryStream[GiEv]
      val out = GapIslandsStream.islandsStreaming(
        input.toDF()
          .withWatermark("ts", "3 days")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)])
      val q = out.writeStream
        .format("memory").queryName("gap_islands_late_merge_test")
        .outputMode("append")
        .start()
      try {
        // day 10 first; then day 8 (admissible: watermark = 10-3 = 7);
        // then day 9 bridges 8 and 10 into one island
        input.addData(GiEv(1, ts(10)))
        q.processAllAvailable()
        input.addData(GiEv(1, ts(8)))
        q.processAllAvailable()
        assert(spark.table("gap_islands_late_merge_test").count() == 0,
          "no island may emit before the watermark proves it maximal")
        input.addData(GiEv(1, ts(9)))
        q.processAllAvailable()
        // flush: push the watermark past day 12 (= (10+2))
        input.addData(GiEv(2, ts(40)))
        q.processAllAvailable()
        input.addData(GiEv(2, ts(41)))
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
      } finally q.stop()
      val rows = spark.table("gap_islands_late_merge_test")
        .filter(col("user_id") === 1)
        .select("island_start", "island_end", "island_len")
        .as[(Long, Long, Long)].collect().toSet
      assert(rows == Set((8L, 10L, 3L)),
        s"late day split the island: $rows")
    }
  }

  test("streamed islands carry the open streak across micro-batches " +
    "and the watermark closes it") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(day: Int) = new Timestamp(day * 86400000L + 3600000L)
      val input = MemoryStream[GiEv]
      val out = GapIslandsStream.islandsStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)])
      val q = out.writeStream
        .format("memory").queryName("gap_islands_stream_test")
        .outputMode("append")
        .start()
      try {
        // batch 1: days 10,11 — open streak, nothing emitted yet
        input.addData(GiEv(1, ts(10)), GiEv(1, ts(11)))
        q.processAllAvailable()
        assert(spark.table("gap_islands_stream_test").count() == 0)
        // batch 2: day 12 extends the carried streak
        input.addData(GiEv(1, ts(12)))
        q.processAllAvailable()
        // batch 3: another user far in the future pushes the watermark
        // past day 14 — user 1's (10,12) island must flush via timeout
        input.addData(GiEv(2, ts(40)))
        q.processAllAvailable()
        input.addData(GiEv(2, ts(41)))
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
      } finally q.stop()
      val rows = spark.table("gap_islands_stream_test")
        .select("user_id", "island_start", "island_end", "island_len")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows.contains((1L, 10L, 12L, 3L)), rows)
    }
  }

  test("an event for a user whose open island is already behind the " +
    "watermark emits it in the data path instead of throwing") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(day: Int) = new Timestamp(day * 86400000L + 3600000L)
      val input = MemoryStream[GiEv]
      val out = GapIslandsStream.islandsStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)])
      val q = out.writeStream
        .format("memory").queryName("gap_islands_stale_test")
        .outputMode("append")
        .start()
      try {
        input.addData(GiEv(1, ts(10)))
        q.processAllAvailable()
        // user 2 pushes the watermark to day 40 while user 1's island
        // (10,10) is live; its horizon (day 12) is far behind
        input.addData(GiEv(2, ts(40)))
        q.processAllAvailable()
        // new event for user 1 EXACTLY at the watermark: the late-row
        // rule drops it, and the stale island is emitted by its timer
        // rather than through a past timeout
        input.addData(GiEv(1, ts(40)))
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
      } finally q.stop()
      val rows = spark.table("gap_islands_stale_test")
        .select("user_id", "island_start", "island_end", "island_len")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(rows.contains((1L, 10L, 10L, 1L)), rows)
    }
  }
}
