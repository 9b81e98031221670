package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{ValueEvent, ZscoreStream}

case class ZEv(user_id: Long, ts: Timestamp, event_id: Long,
               value: Double)

/** The streaming z-score twin (§2.K, r10): the ring-buffer state
  * machine must equal `e_anomaly_zscore`'s decimal-window plan
  * EXACTLY (including z values — both sides quantize through the same
  * scale-6/scale-4 HALF_UP decimals), and under a real stream the
  * window must carry across micro-batches.
  */
class ZscoreStreamSpec extends SparkSpec {
  import spark.implicits._

  test("stateful z-score equals the batch decimal-window plan " +
    "exactly on the fixture") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select(col("user_id"), col("ts_us"), col("event_id"),
        col("value")).as[ValueEvent]
    val stateful = ZscoreStream.zscoreBatch(evs)
      .select("event_id", "user_id", "value", "z")
      .as[(Long, Long, Double, Double)].collect().toSet
    val windowed = SparkEntry.queries("e_anomaly_zscore")(spark, sfDir)
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }

  test("streamed z-score carries the ring across micro-batches") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      def ts(n: Int) = new Timestamp(1700000000000L + n * 60000L)
      val input = MemoryStream[ZEv]
      val out = ZscoreStream.zscoreStreaming(
        input.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("ts"), col("event_id"), col("value"))
          .as[(Long, Timestamp, Long, Double)])
      val q = out.writeStream
        .format("memory").queryName("zscore_stream_test")
        .outputMode("append")
        .start()
      try {
        // batch 1: 12 calm values — fills the ring past MinSamples
        input.addData((1 to 12).map(i =>
          ZEv(1, ts(i), i, 10.0 + (i % 3))): _*)
        q.processAllAvailable()
        // batch 2: a spike — only carried ring state can flag it
        input.addData(ZEv(1, ts(13), 13, 500.0))
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("zscore_stream_test")
        .select("event_id").as[Long].collect().toSet
      assert(rows.contains(13L),
        s"cross-batch spike not flagged: $rows")
    }
  }
}
