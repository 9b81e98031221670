package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming._

/** r13: restart-from-checkpoint proof for the `transformWithState`
  * operators — the production property the state store exists for. A query is
  * stopped MID-STREAM (open per-key state and an armed event-time
  * timer in the RocksDB store) and a new query resumes from the same
  * checkpoint: the carried state must fold the post-restart batches,
  * and the armed timer must fire after restart when the watermark
  * passes it. Output equals the uninterrupted run's row-for-row.
  *
  * Mechanics: the SAME MemoryStream instance backs both query
  * incarnations (it retains added batches, so the restarted query
  * replays from the committed offset); the sink is a parquet
  * directory (a restartable sink, unlike the memory sink). The
  * split point is chosen so batch 1+2 leave user 1's session OPEN —
  * only the restarted query can close it.
  */
class TwsRestartSpec extends SparkSpec {
  import spark.implicits._

  private val minMs = 60000L
  private val minUs = 60000000L

  /** Run `batches` through the sessionize TWS entry point into a parquet
    * sink, stopping and restarting the query after `stopAfter`
    * batches (0 = never stop). Returns the sink rows. */
  private def runWithRestart(batches: Seq[Seq[(Long, Timestamp)]],
                             stopAfter: Int): Set[Session] = {
    val ckpt = Files.createTempDirectory("tws_restart_ckpt").toString
    val out = Files.createTempDirectory("tws_restart_out").toString
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp)]
    def start() =
      Sessionize.sessionsStreaming(
          input.toDS().toDF("user_id", "ts")
            .withWatermark("ts", "10 minutes")
            .as[(Long, Timestamp)])
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
    var q = start()
    batches.zipWithIndex.foreach { case (b, i) =>
      input.addData(b: _*)
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query crashed: ${q.exception}")
      if (stopAfter > 0 && i + 1 == stopAfter) {
        q.stop() // state + armed timers now live ONLY in the checkpoint
        q = start()
      }
    }
    q.stop()
    spark.read.parquet(out).as[Session].collect().toSet
  }

  test("SessionizeTws: stop mid-stream with open state + armed timer, " +
    "restart from the checkpoint — carried state folds post-restart " +
    "batches and the timer fires; output equals the uninterrupted run") {
    withRocksDb {
      def ev(uid: Long, tMin: Long) = (uid, new Timestamp(tMin * minMs))
      // batch 1+2 leave user 1's session OPEN (events 100..115, no
      // watermark past the 30-min gap yet) with a timer armed at
      // 115+gap; the restart happens HERE. Batch 3 extends the same
      // session from recovered state; batch 4 (user 2 far ahead)
      // advances the watermark so the recovered timer closes it;
      // batch 5 opens and closes a post-restart session.
      val batches = Seq(
        Seq(ev(1, 100), ev(1, 110)),
        Seq(ev(1, 115)),
        Seq(ev(1, 125)),
        Seq(ev(2, 1000)),
        Seq(ev(1, 2000), ev(2, 3000)))
      val restarted = runWithRestart(batches, stopAfter = 2)
      val straight = runWithRestart(batches, stopAfter = 0)
      assert(restarted == straight,
        s"restart diverged:\n restarted $restarted\n straight  $straight")
      // the session spanning the restart: all four user-1 events in
      // ONE session — state carried, not re-opened
      assert(restarted.contains(Session(1L, 100 * minUs, 125 * minUs, 4L)),
        s"restart-spanning session missing: $restarted")
      // the recovered timer closed user 2's singleton
      assert(restarted.contains(Session(2L, 1000 * minUs, 1000 * minUs, 1L)),
        s"recovered-timer close missing: $restarted")
    }
  }

  test("SessionizeTws: a batch added WHILE the query is down is " +
    "replayed from the source on restart — no row lost") {
    withRocksDb {
      def ev(uid: Long, tMin: Long) = (uid, new Timestamp(tMin * minMs))
      val ckpt = Files.createTempDirectory("tws_down_ckpt").toString
      val out = Files.createTempDirectory("tws_down_out").toString
      implicit val ctx = spark.sqlContext
      val input = MemoryStream[(Long, Timestamp)]
      def start() =
        Sessionize.sessionsStreaming(
            input.toDS().toDF("user_id", "ts")
              .withWatermark("ts", "10 minutes")
              .as[(Long, Timestamp)])
          .writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append").start()
      val q1 = start()
      input.addData(ev(1, 100), ev(1, 110))
      q1.processAllAvailable()
      q1.stop()
      // the query is DOWN; data keeps arriving at the source
      input.addData(ev(1, 120))
      input.addData(ev(2, 1000))
      val q2 = start()
      q2.processAllAvailable()
      input.addData(ev(2, 3000))
      q2.processAllAvailable()
      assert(q2.exception.isEmpty, s"restarted query crashed: ${q2.exception}")
      q2.stop()
      val got = spark.read.parquet(out).as[Session].collect().toSet
      // the while-down event 120 extended the session recovered from
      // the checkpointed state
      assert(got.contains(Session(1L, 100 * minUs, 120 * minUs, 3L)),
        s"while-down row lost: $got")
    }
  }
}
