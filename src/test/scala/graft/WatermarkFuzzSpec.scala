package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming._

/** r12 (VERDICT r11 item 4): randomized watermark-jump /
  * arrival-order property over EVERY stateful streaming operator. The
  * r11 watermark-clamp bug class (AttributionStream crash; the same
  * latent defect in Sessionize/FunnelStream/ZscoreStream; gap-islands
  * late-day splitting) was found by review, not tests — this harness
  * pins it so the next stateful operator cannot reintroduce it.
  *
  * The real processor classes run through an in-memory
  * StatefulProcessorHandle, without a streaming query per schedule
  * (pure Scala — thousands of schedules per second). The simulator
  * replicates the `transformWithState` behaviors the class depends on:
  *  - late rows are filtered against the PREVIOUS batch's watermark,
  *    strictly (the [[StepProcessor]] late-row rule),
  *  - the processor sees the CURRENT batch's watermark (so admitted
  *    rows can sit below it — the r11 discrepancy),
  *  - `registerTimer` REJECTS instants at or below the current
  *    watermark (the step contract: a wake is strictly later than the
  *    watermark), and timers fire once the watermark passes them.
  *
  * Property per operator: NO schedule crashes, and after a final flush
  * the emitted rows equal the operator's batch fold over exactly the
  * ADMITTED events (for the inherently arrival-order-dependent
  * operators — attribution's emit-on-arrival, z-score's ring — parity
  * is asserted on in-order schedules and no-crash on arbitrary ones,
  * their documented envelopes).
  *
  * Each property runs twice over the same schedules: the plain-named
  * test drives ONE processor instance for every key through a handle
  * whose state and timers are scoped to the current grouping key (as
  * the engine runs a partition — a processor that kept per-key data
  * in instance fields would leak it across keys), and the `<Op>Tws`
  * test drives one processor instance per key (state isolated by
  * construction).
  */
class WatermarkFuzzSpec extends org.scalatest.funsuite.AnyFunSuite {

  // seed base overridable for fresh-seed fuzz passes (r19, the
  // PropertySpec knob): -Dgraft.fuzz.seedBase=<n> shifts this base too
  private val seedBase =
    sys.props.getOrElse("graft.fuzz.seedBase", "1192").toLong + 42L

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seedBase + i)))

  /** (events over ≤2 keys, random batch partition, watermark delay).
    * Event times are minute-scale so schedules straddle the 30-min
    * session gap; delays from 0 (max jumpiness) to hours. */
  private case class Sched(batches: Seq[Seq[(Long, Long, Long, String)]],
                           delayMs: Long, inOrder: Boolean)

  private val minMs = 60000L
  private val types = Seq("view", "click", "purchase", "error")

  private def schedGen(inOrder: Boolean): Gen[Sched] = for {
    nEv <- Gen.chooseNum(1, 12)
    evs <- Gen.listOfN(nEv, for {
      key <- Gen.chooseNum(1L, 2L)
      tMin <- Gen.chooseNum(0L, 300L)
      tp <- Gen.oneOf(types)
    } yield (key, tMin * minMs, tMin, tp))
    delay <- Gen.oneOf(0L, 5L * minMs, 45L * minMs, 6L * 60 * minMs)
    cuts <- Gen.listOfN(nEv, Gen.chooseNum(0, 3))
  } yield {
    // unique event ids by list position; in-order schedules sort first
    val tagged = evs.zipWithIndex
      .map { case ((k, ts, _, tp), i) => (k, ts, 1000L + i, tp) }
    val ordered = if (inOrder) tagged.sortBy(e => (e._2, e._3)) else tagged
    val batches = ordered.zip(cuts).foldLeft(List(List.empty[(Long, Long, Long, String)])) {
      case (acc @ cur :: done, (e, cut)) =>
        if (cut == 0 && cur.nonEmpty) List(e) :: acc
        else (cur :+ e) :: done
      case (acc, _) => acc
    }.reverse.filter(_.nonEmpty)
    Sched(batches, delay, inOrder)
  }

  /** The batch fold of `events`, one key at a time. */
  private def flushAll[E, O](events: Seq[E], keyOf: E => Long,
                             fold: (Long, Iterator[E]) => Iterator[O]): Seq[O] =
    events.map(keyOf).distinct.sorted.flatMap { k =>
      fold(k, events.filter(keyOf(_) == k).iterator)
    }

  // ---- transformWithState simulation ----
  // The REAL processors driven through an in-memory
  // StatefulProcessorHandle that replicates the TWS contract: named
  // ValueState and timers scoped to the current grouping key, timers
  // that accumulate until deleted, expired timers firing as
  // handleExpiredTimer once the watermark passes, late rows filtered
  // against the previous batch's watermark.

  private class SimHandle
      extends org.apache.spark.sql.streaming.StatefulProcessorHandle {
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.streaming.{ListState, MapState, QueryInfo, TTLConfig, ValueState}
    var key = 0L  // the grouping key of the current invocation
    var wmMs = 0L // the watermark of the current invocation
    private val values = scala.collection.mutable.Map.empty[(String, Long), Any]
    private val timers =
      scala.collection.mutable.Map.empty[Long, scala.collection.mutable.SortedSet[Long]]
    def timersOf(k: Long): scala.collection.mutable.SortedSet[Long] =
      timers.getOrElseUpdate(k, scala.collection.mutable.SortedSet.empty[Long])
    override def getValueState[T](name: String, enc: Encoder[T],
                                  ttl: TTLConfig): ValueState[T] =
      new ValueState[T] {
        override def exists(): Boolean = values.contains((name, key))
        override def get(): T = values.getOrElse((name, key), null).asInstanceOf[T]
        override def update(s: T): Unit = values((name, key)) = s
        override def clear(): Unit = { values.remove((name, key)); () }
      }
    override def getValueState[T](name: String, ttl: TTLConfig)(
        implicit enc: Encoder[T]): ValueState[T] =
      getValueState(name, enc, ttl)
    override def getListState[T](n: String, e: Encoder[T],
                                 t: TTLConfig): ListState[T] =
      throw new UnsupportedOperationException("sim: ValueState only")
    override def getListState[T](n: String, t: TTLConfig)(
        implicit e: Encoder[T]): ListState[T] =
      throw new UnsupportedOperationException("sim: ValueState only")
    override def getMapState[K, V](n: String, ek: Encoder[K], ev: Encoder[V],
                                   t: TTLConfig): MapState[K, V] =
      throw new UnsupportedOperationException("sim: ValueState only")
    override def getMapState[K, V](n: String, t: TTLConfig)(
        implicit ek: Encoder[K], ev: Encoder[V]): MapState[K, V] =
      throw new UnsupportedOperationException("sim: ValueState only")
    override def getQueryInfo(): QueryInfo =
      throw new UnsupportedOperationException("sim")
    override def registerTimer(t: Long): Unit = {
      require(t > wmMs,
        s"timer $t must be later than the watermark $wmMs " +
          "(a wake the engine could never fire)")
      timersOf(key) += t
    }
    override def deleteTimer(t: Long): Unit = timersOf(key) -= t
    override def listTimers(): Iterator[Long] = timersOf(key).toSeq.iterator
    override def deleteIfExists(name: String): Unit =
      values.keys.filter(_._1 == name).toSeq.foreach(values.remove)
  }

  private def timerValues(wmMs: Long) =
    new org.apache.spark.sql.streaming.TimerValues {
      override def getCurrentProcessingTimeInMs(): Long = 0L
      override def getCurrentWatermarkInMs(): Long = wmMs
    }

  /** Drive one schedule through real StatefulProcessor instances:
    * with `shared`, one instance and one handle serve every key (the
    * handle scopes state and timers to the current key, as the engine
    * does); without it, each key gets its own instance and handle.
    * `batches` carries (key, eventTimeMs, id, type) rows; the
    * watermark after batch N is max event time through batch N minus
    * `delayMs`. Returns (outputs, admitted events). Throws = property
    * failure. */
  private def runTws[I, O](batches: Seq[Seq[(Long, Long, Long, String)]],
                           delayMs: Long,
                           mkProc: () => org.apache.spark.sql.streaming.StatefulProcessor[Long, I, O],
                           toInput: ((Long, Long, Long, String)) => I,
                           shared: Boolean = false)
      : (Seq[O], Seq[(Long, Long, Long, String)]) = {
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode}
    def open() = {
      val p = mkProc()
      val h = new SimHandle
      p.setHandle(h)
      p.init(OutputMode.Append(), TimeMode.EventTime())
      (p, h)
    }
    lazy val one = open()
    val procs = scala.collection.mutable
      .Map.empty[Long, (StatefulProcessor[Long, I, O], SimHandle)]
    def procFor(k: Long) =
      procs.getOrElseUpdate(k, if (shared) one else open())
    val out = Seq.newBuilder[O]
    val admitted = Seq.newBuilder[(Long, Long, Long, String)]
    var filterWm = 0L
    var wm = 0L
    var maxTs = Long.MinValue
    def fireExpired(): Unit =
      procs.toSeq.sortBy(_._1).foreach { case (k, (p, h)) =>
        h.key = k
        h.timersOf(k).toSeq.filter(_ <= wm).foreach { t =>
          h.deleteTimer(t) // the engine removes a timer once it fires
          h.wmMs = wm
          out ++= p.handleExpiredTimer(k, timerValues(wm),
            new org.apache.spark.sql.streaming.ExpiredTimerInfo {
              override def getExpiryTimeInMs(): Long = t
            })
        }
      }
    batches.foreach { batch =>
      // the late-row rule is STRICT (a row with ts == watermark is
      // dropped — even ts 0 against the initial watermark 0; pinned by
      // TwsPortsSpec's late-row test), so the sim is strict too
      val live = batch.filter(_._2 > filterWm)
      admitted ++= live
      live.foreach(e => maxTs = maxTs max e._2)
      live.map(_._1).distinct.foreach { k =>
        val (p, h) = procFor(k)
        h.key = k
        h.wmMs = wm
        out ++= p.handleInputRows(k,
          live.filter(_._1 == k).map(toInput).iterator, timerValues(wm))
      }
      fireExpired()
      filterWm = wm
      if (maxTs != Long.MinValue) wm = wm max (maxTs - delayMs)
    }
    wm = (if (maxTs == Long.MinValue) 0L else maxTs) + delayMs +
      365L * 86400000L
    def due = procs.exists { case (k, (_, h)) => h.timersOf(k).exists(_ <= wm) }
    var rounds = 0
    while (due && rounds < 64) {
      fireExpired()
      rounds += 1
    }
    assert(rounds < 64, "tws timer drain did not quiesce")
    (out.result(), admitted.result())
  }

  private def sessionizeParity(shared: Boolean): Unit =
    samples(schedGen(inOrder = false), 250).foreach { sc =>
      val (got, adm) = runTws[(Long, java.sql.Timestamp), Session](
        sc.batches, sc.delayMs, () => new SessionProcessor,
        e => (e._1, new java.sql.Timestamp(e._2)), shared)
      val ref = flushAll[(Long, Long, Long, String), Session](adm, _._1,
        (k, it) => Sessionize.batchFold(k,
          it.map(e => SessionEvent(e._1, e._2 * 1000))))
      assert(got.sortBy(s => (s.user_id, s.first_us, s.last_us)) ==
        ref.sortBy(s => (s.user_id, s.first_us, s.last_us)),
        s"schedule $sc:\n got $got\n ref $ref")
    }

  private def funnelParity(shared: Boolean): Unit =
    samples(schedGen(inOrder = false), 250).foreach { sc =>
      val (got, adm) = runTws[(Long, java.sql.Timestamp, Long, String), FunnelSession](
        sc.batches, sc.delayMs, () => new FunnelProcessor,
        e => (e._1, new java.sql.Timestamp(e._2), e._3, e._4), shared)
      val ref = flushAll[(Long, Long, Long, String), FunnelSession](adm, _._1,
        (k, it) => FunnelStream.batchFold(k,
          it.map(e => FunnelEvent(e._1, e._2 * 1000, e._3, e._4))))
      assert(got.sortBy(s => (s.user_id, s.session_start, s.n_events)) ==
        ref.sortBy(s => (s.user_id, s.session_start, s.n_events)),
        s"schedule $sc:\n got $got\n ref $ref")
    }

  private def islandsParity(shared: Boolean): Unit =
    // minute offsets reinterpreted as DAY offsets (the island unit)
    samples(schedGen(inOrder = false), 250).foreach { sc =>
      val batches = sc.batches.map(_.map(e =>
        e.copy(_2 = e._2 / minMs * 86400000L)))
      val (got, adm) = runTws[(Long, java.sql.Timestamp), Island](
        batches, sc.delayMs * 1440, () => new IslandProcessor,
        e => (e._1, new java.sql.Timestamp(e._2)), shared)
      val ref = flushAll[(Long, Long, Long, String), Island](adm, _._1,
        (k, it) => GapIslandsStream.batchFold(k,
          it.map(e => DayEvent(e._1, e._2 * 1000))))
      assert(got.sortBy(i => (i.user_id, i.island_start)) ==
        ref.sortBy(i => (i.user_id, i.island_start)),
        s"schedule $sc:\n got $got\n ref $ref")
    }

  private def asofParity(shared: Boolean): Unit =
    samples(schedGen(inOrder = false), 250).foreach { sc =>
      val (got, adm) = runTws[(Long, Long, java.sql.Timestamp, Boolean), AsofMatch](
        sc.batches, sc.delayMs, () => new AsofProcessor,
        e => (e._1, e._3, new java.sql.Timestamp(e._2), e._4 == "purchase"),
        shared)
      val ref = flushAll[(Long, Long, Long, String), AsofMatch](adm, _._1,
        (k, it) => AsofStream.batchFold(k, it.map(e =>
          AsofEvent(e._1, e._3, e._2 * 1000, isLeft = e._4 == "purchase"))))
      assert(got.sortBy(m => (m.user_id, m.p_id)) ==
        ref.sortBy(m => (m.user_id, m.p_id)),
        s"schedule $sc:\n got $got\n ref $ref")
    }

  private def attributionParity(shared: Boolean): Unit = {
    def toEv(e: (Long, Long, Long, String)) =
      TouchEvent(e._1, e._2 * 1000, e._3, e._4, 1.5)
    def toIn(e: (Long, Long, Long, String)) =
      (e._1, new java.sql.Timestamp(e._2), e._3, e._4, 1.5)
    samples(schedGen(inOrder = false), 125).foreach { sc =>
      runTws[(Long, java.sql.Timestamp, Long, String, Double), AttributedPurchase](
        sc.batches, sc.delayMs, () => new AttributionProcessor, toIn, shared)
      // no-crash is the assertion
    }
    samples(schedGen(inOrder = true), 125).foreach { sc =>
      val (got, adm) = runTws[(Long, java.sql.Timestamp, Long, String, Double), AttributedPurchase](
        sc.batches, sc.delayMs, () => new AttributionProcessor, toIn, shared)
      val ref = flushAll[(Long, Long, Long, String), AttributedPurchase](
        adm, _._1, (k, it) => AttributionStream.batchFold(k, it.map(toEv)))
      assert(got.sortBy(p => (p.user_id, p.event_id)) ==
        ref.sortBy(p => (p.user_id, p.event_id)),
        s"schedule $sc:\n got $got\n ref $ref")
    }
  }

  private def retentionParity(shared: Boolean): Unit = {
    def cells(ds: Seq[CohortDelta]): Map[(Long, Long), Long] =
      ds.groupBy(d => (d.cohort_week, d.week_offset))
        .view.mapValues(_.map(_.delta).sum).filter(_._2 > 0).toMap
    // reinterpret the generator's minute offsets as DAYS so schedules
    // actually cross week boundaries (0..42 weeks)
    var sawRebase = false
    samples(schedGen(inOrder = false), 250).foreach { sc =>
      val batches = sc.batches.map(_.map(e =>
        e.copy(_2 = e._2 / minMs * 86400000L)))
      val (got, adm) = runTws[(Long, java.sql.Timestamp), CohortDelta](
        batches, sc.delayMs * 1440,
        () => new RetentionProcessor(Long.MaxValue),
        e => (e._1, new java.sql.Timestamp(e._2)), shared)
      val ref = flushAll[(Long, Long, Long, String), CohortDelta](adm, _._1,
        (k, it) => RetentionStream.batchFold(k,
          it.map(e => WeekEvent(e._1, e._2 * 1000)), Long.MaxValue))
      assert(cells(got) == cells(ref), s"schedule $sc:\n got $got\n ref $ref")
      sawRebase ||= got.exists(_.delta < 0)
    }
    assert(sawRebase, "no schedule exercised the retraction path — " +
      "generators too weak for the property to mean anything")
  }

  private def zscoreParity(shared: Boolean): Unit = {
    def valueOf(id: Long): Double = // occasional outliers
      (id % 7L).toDouble + (if (id % 11 == 0) 50.0 else 0.0)
    def toEv(e: (Long, Long, Long, String)) =
      ValueEvent(e._1, e._2 * 1000, e._3, valueOf(e._3))
    def toIn(e: (Long, Long, Long, String)) =
      (e._1, new java.sql.Timestamp(e._2), e._3, valueOf(e._3))
    samples(schedGen(inOrder = false), 125).foreach { sc =>
      runTws[(Long, java.sql.Timestamp, Long, Double), AnomalyHit](
        sc.batches, sc.delayMs, () => new ZscoreProcessor, toIn, shared)
      // no-crash is the assertion
    }
    samples(schedGen(inOrder = true), 125).foreach { sc =>
      val (got, adm) = runTws[(Long, java.sql.Timestamp, Long, Double), AnomalyHit](
        sc.batches, sc.delayMs, () => new ZscoreProcessor, toIn, shared)
      val ref = flushAll[(Long, Long, Long, String), AnomalyHit](
        adm, _._1, (k, it) => ZscoreStream.batchFold(k, it.map(toEv)))
      assert(got.sortBy(h => (h.user_id, h.event_id)) ==
        ref.sortBy(h => (h.user_id, h.event_id)),
        s"schedule $sc:\n got $got\n ref $ref")
    }
  }

  // one processor instance for every key
  test("Sessionize: arbitrary admissible schedules — no crash, exact " +
    "batch parity over the admitted events (250 schedules)") {
    sessionizeParity(shared = true)
  }

  test("FunnelStream: arbitrary admissible schedules — no crash, " +
    "exact batch parity over the admitted events (250 schedules)") {
    funnelParity(shared = true)
  }

  test("GapIslandsStream: arbitrary admissible schedules — no crash, " +
    "exact batch parity over the admitted events (250 schedules)") {
    islandsParity(shared = true)
  }

  test("AsofStream: arbitrary admissible schedules — no crash, exact " +
    "batch parity over the admitted events (250 schedules)") {
    asofParity(shared = true)
  }

  test("AttributionStream: no crash on arbitrary schedules; parity " +
    "with the batch fold on in-order schedules (125 + 125)") {
    attributionParity(shared = true)
  }

  test("RetentionStream: arbitrary admissible schedules — the " +
    "aggregated cohort table converges to the batch fold (250 " +
    "schedules; the rebase retractions make even out-of-order " +
    "arrival exact, so retention takes the STRONG property)") {
    retentionParity(shared = true)
  }

  test("ZscoreStream: no crash on arbitrary schedules; parity with " +
    "the batch fold on in-order schedules (125 + 125)") {
    zscoreParity(shared = true)
  }

  // one processor instance per key. The names date from when a second
  // streaming engine existed; the reference is each operator's
  // batchFold over the admitted events.
  test("AsofStreamTws (transformWithState): the same 250 arbitrary " +
    "schedules as the fMGWS twin — no crash, exact batch parity") {
    asofParity(shared = false)
  }

  test("SessionizeTws (transformWithState): the same 250 arbitrary " +
    "schedules as the fMGWS twin — no crash, exact batch parity") {
    sessionizeParity(shared = false)
  }

  test("GapIslandsStreamTws (transformWithState): the same 250 " +
    "arbitrary schedules as the fMGWS twin — no crash, exact batch " +
    "parity") {
    islandsParity(shared = false)
  }

  test("FunnelStreamTws (transformWithState): the same 250 arbitrary " +
    "schedules as the fMGWS twin — no crash, exact batch parity") {
    funnelParity(shared = false)
  }

  test("RetentionStreamTws (transformWithState): the same 250 " +
    "arbitrary schedules as the fMGWS twin under the STRONG property " +
    "— the aggregated cohort table converges to the batch fold") {
    retentionParity(shared = false)
  }

  test("AttributionStreamTws (transformWithState): no crash on " +
    "arbitrary schedules; exact parity with the batch fold on " +
    "in-order schedules (125 + 125 — the fMGWS twin's envelope)") {
    attributionParity(shared = false)
  }

  test("ZscoreStreamTws (transformWithState): no crash on arbitrary " +
    "schedules; exact parity with the batch fold on in-order " +
    "schedules (125 + 125 — the fMGWS twin's envelope)") {
    zscoreParity(shared = false)
  }

  test("harness teeth: the r11 single-triple sessionize fold FAILS " +
    "this property — the generators are strong enough to catch the " +
    "bug class they exist for") {
    import org.apache.spark.sql.{Encoder, Encoders}
    // the pre-r12 implementation as a step: fold arrivals straight
    // into the single (first, last, n) triple, clamp-emit on a stale
    // horizon, else wake at last + gap
    class R11SessionProcessor
        extends StepProcessor[(Long, java.sql.Timestamp), SessionState,
          Session] {
      override protected def stateName: String = "r11"
      override protected def stateEncoder: Encoder[SessionState] =
        Encoders.product[SessionState]
      override protected def emptyState: SessionState =
        SessionState(-1L, 0L, 0L)
      override protected def step(
          uid: Long, st: SessionState,
          rows: Seq[(Long, java.sql.Timestamp)], wmUs: Long)
          : (Seq[Session], Option[SessionState], Option[Long]) = {
        var cur = if (st.n > 0) Some(st) else None
        val out = Seq.newBuilder[Session]
        rows.map(_._2.getTime * 1000).sorted.foreach { ts =>
          cur match {
            case Some(s) if !SessionBounds.cuts(s.last_us, ts,
                strict = false) =>
              cur = Some(SessionState(s.first_us, ts, s.n + 1))
            case Some(s) =>
              out += Session(uid, s.first_us, s.last_us, s.n)
              cur = Some(SessionState(ts, ts, 1))
            case None => cur = Some(SessionState(ts, ts, 1))
          }
        }
        cur match {
          case Some(s) =>
            val horizonMs = s.last_us / 1000 + SessionBounds.GapUs / 1000
            if (horizonMs <= wmUs / 1000) {
              out += Session(uid, s.first_us, s.last_us, s.n)
              (out.result(), None, None)
            } else (out.result(), Some(s), Some(horizonMs))
          case None => (out.result(), None, None)
        }
      }
    }
    val diverging = samples(schedGen(inOrder = false), 250).count { sc =>
      try {
        val (got, adm) = runTws[(Long, java.sql.Timestamp), Session](
          sc.batches, sc.delayMs, () => new R11SessionProcessor,
          e => (e._1, new java.sql.Timestamp(e._2)))
        val ref = flushAll[(Long, Long, Long, String), Session](adm, _._1,
          (k, it) => Sessionize.batchFold(k,
            it.map(e => SessionEvent(e._1, e._2 * 1000))))
        got.sortBy(s => (s.user_id, s.first_us, s.last_us)) !=
          ref.sortBy(s => (s.user_id, s.first_us, s.last_us))
      } catch {
        case _: IllegalArgumentException => true // stale-timer crash
        case _: AssertionError => true
      }
    }
    assert(diverging > 0,
      "the fuzz generators no longer distinguish the r11 fold — " +
        "they have lost the out-of-order/jump coverage this suite exists for")
  }
}
