package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{RetentionState, RetentionStream, WeekEvent}

case class RtEv(user_id: Long, ts: Timestamp)

/** The streaming retention twin (§2.K, r11): the per-user cohort fold
  * emits cell deltas whose aggregation must equal
  * `e_retention_cohorts` row-for-row, under any arrival order — the
  * rebase retractions make out-of-order cohort discovery converge.
  */
class RetentionStreamSpec extends SparkSpec {
  import spark.implicits._

  private def table(deltas: org.apache.spark.sql.DataFrame) =
    RetentionStream.cohortTable(deltas)
      .as[(Long, Long, Long, Long, Long)].collect().toSet

  test("aggregated deltas equal the batch cohort table row-for-row " +
    "on the fixture") {
    val evs = Tables.eventsWithNanos(spark, sfDir)
      .select(col("user_id"), expr("ts_ns div 1000").as("ts_us"))
      .as[WeekEvent]
    val streamed = table(RetentionStream.deltasBatch(evs).toDF())
    val batch = SparkEntry.queries("e_retention_cohorts")(spark, sfDir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("out-of-order cohort discovery rebases via retractions and " +
    "converges to the batch table") {
    // user 1 first appears in week 5; week 3 arrives LATER and must
    // re-cohort every emitted cell
    val wk = RetentionStream.WeekUs
    val ordered = Seq((1L, 3L), (1L, 5L), (1L, 6L), (2L, 5L), (2L, 6L))
      .map { case (u, w) => WeekEvent(u, w * wk + 1000L) }
    val shuffled = Seq((1L, 5L), (1L, 6L), (2L, 6L), (1L, 3L), (2L, 5L))
      .map { case (u, w) => WeekEvent(u, w * wk + 1000L) }
    // fold the shuffled arrival one event per step, like a stream of
    // single-event micro-batches
    val perBatch = shuffled.grouped(1).toSeq
    var deltas = Vector.empty[graft.streaming.CohortDelta]
    val states = scala.collection.mutable.Map.empty[Long, RetentionState]
    perBatch.foreach { evs =>
      evs.groupBy(_.user_id).foreach { case (uid, es) =>
        val (out, next, _) = RetentionStream.step(uid,
          states.getOrElse(uid, RetentionState(Long.MaxValue, Nil)), es, 0L)
        deltas ++= out
        next match {
          case Some(s) => states(uid) = s
          case None => states.remove(uid)
        }
      }
    }
    val got = table(deltas.toDF())
    val expect = table(RetentionStream.deltasBatch(ordered.toDS()).toDF())
    assert(got == expect, s"got $got\nexpect $expect")
    // the rebase really happened: some retraction was emitted
    assert(deltas.exists(_.delta < 0), "no retraction emitted")
    // cohorts: user 1 week 3 (offsets 0,2,3), user 2 week 5 (0,1)
    assert(got.exists { case (cw, k, n, sz, _) =>
      cw == 3 && k == 0 && n == 1 && sz == 1 })
    assert(got.exists { case (cw, k, n, sz, _) =>
      cw == 5 && k == 1 && n == 1 && sz == 1 })
  }

  test("streamed deltas aggregate to the batch table across " +
    "micro-batches (memory stream)") {
    withRocksDb {
      implicit val ctx = spark.sqlContext
      val wk = RetentionStream.WeekUs / 1000 // ms
      def ts(week: Int) = new Timestamp(week * wk + 1L)
      val input = MemoryStream[RtEv]
      val out = RetentionStream.deltasStreaming(
        input.toDF()
          .withWatermark("ts", "30 days")
          .select(col("user_id"), col("ts"))
          .as[(Long, Timestamp)])
      val q = out.writeStream
        .format("memory").queryName("retention_stream_test")
        .outputMode("append")
        .start()
      try {
        input.addData(RtEv(1, ts(5)), RtEv(2, ts(5)))
        q.processAllAvailable()
        input.addData(RtEv(1, ts(6)))
        q.processAllAvailable()
        // late event inside the 30-day watermark reveals user 1's true
        // cohort (week 3) — the rebase must retract the week-5 cells
        input.addData(RtEv(1, ts(3)))
        q.processAllAvailable()
        assert(q.exception.isEmpty, q.exception)
      } finally q.stop()
      val got = table(spark.table("retention_stream_test"))
      assert(got.contains((3L, 0L, 1L, 1L, 10000L)), got)
      assert(got.contains((3L, 2L, 1L, 1L, 10000L)), got)
      assert(got.contains((3L, 3L, 1L, 1L, 10000L)), got)
      assert(got.contains((5L, 0L, 1L, 1L, 10000L)), got)
      assert(!got.exists { case (cw, k, _, _, _) => cw == 5L && k > 0 }, got)
    }
  }

  test("maxOffset horizon (r12, ADVICE r11): capped deltas equal the " +
    "uncapped table restricted to served offsets, state stays bounded, " +
    "and the cap is rebase-safe under shuffled arrival") {
    val wk = RetentionStream.WeekUs
    val cap = 2L
    // user 1: weeks 5,6,9 then LATE week 3 (rebase; 6→offset 3 and
    // 9→offset 6 fall OUT of the horizon); user 2: weeks 5,6 in order
    val shuffled = Seq((1L, 5L), (1L, 6L), (2L, 6L), (1L, 9L), (1L, 3L),
      (2L, 5L))
      .map { case (u, w) => WeekEvent(u, w * wk + 1000L) }
    var deltas = Vector.empty[graft.streaming.CohortDelta]
    val states = scala.collection.mutable.Map.empty[Long, RetentionState]
    shuffled.grouped(1).foreach { evs =>
      evs.groupBy(_.user_id).foreach { case (uid, es) =>
        val (out, next, _) = RetentionStream.step(uid,
          states.getOrElse(uid, RetentionState(Long.MaxValue, Nil)), es, 0L,
          cap)
        deltas ++= out
        next.foreach(states(uid) = _)
      }
    }
    // state bound: never more than cap + 1 weeks per user
    states.values.foreach(s =>
      assert(s.weeks.size <= cap + 1, s"state unbounded: $s"))
    // every kept week is within the horizon of the final cohort
    states.values.foreach(s =>
      assert(s.weeks.forall(w => w - s.cohortWk <= cap), s))
    val got = table(deltas.toDF())
    val uncapped = table(RetentionStream.deltasBatch(
      shuffled.toDS()).toDF())
    val expect = uncapped.filter { case (_, k, _, _, _) => k <= cap }
    assert(got == expect, s"got $got\nexpect $expect")
    // the interesting branch really ran: week 5 (offset 2 after the
    // rebase to cohort 3) survived, weeks 6 and 9 were retracted/
    // never-kept — their cells cancel out of the table
    assert(got.exists { case (cw, k, _, _, _) => cw == 3L && k == 2L })
    assert(!got.exists { case (cw, k, _, _, _) => cw == 3L && k > cap })
  }
}
