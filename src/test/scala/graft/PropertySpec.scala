package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Algebraic invariants on generated micro-DataFrames (SURVEY §5.3).
  * Raw ScalaCheck Gen with a fixed seed (the scalatest-scalacheck
  * bridge isn't in the offline cache); 10 samples per property.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  // seed base overridable for fresh-seed fuzz passes (r19 — the r18
  // practice of editing the literal, made a knob):
  //   sbt -Dgraft.fuzz.seedBase=<n> "testOnly graft.PropertySpec"
  private val seedBase =
    sys.props.getOrElse("graft.fuzz.seedBase", "42").toLong

  private def samples[A](g: Gen[A], n: Int = 10): Seq[A] =
    (0 until n).flatMap(i =>
      g.apply(Gen.Parameters.default, Seed(seedBase + i)))

  private val smallInts = Gen.nonEmptyListOf(Gen.chooseNum(0, 9))

  test("splitBucket: range [0,100), overflow-free up to Long.MaxValue, " +
    "and equal to the reference Lehmer arithmetic") {
    val ids = samples(Gen.chooseNum(0L, Long.MaxValue), 40)
    val out = ids.toDF("id")
      .select(graft.operators.TextOps.splitBucket(col("id")).as("b"))
      .collect().map(_.getLong(0))
    out.zip(ids).foreach { case (b, id) =>
      assert(b >= 0 && b < 100, s"bucket $b out of range for id $id")
      val expect = ((id % 2147483647L) * 48271L) % 2147483647L % 100L
      assert(b == expect, s"id $id: spark $b vs reference $expect")
    }
    // stability: same ids through a different partitioning
    val out2 = ids.toDF("id").repartition(7)
      .select(col("id"), graft.operators.TextOps.splitBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.zip(out).foreach { case (id, b) => assert(out2(id) == b) }
  }

  test("dedup is idempotent") {
    samples(smallInts).foreach { xs =>
      val once = xs.toDF("x").distinct()
      assert(once.distinct().count() == once.count())
    }
  }

  test("union_distinct <= union_all; except/intersect partition left") {
    samples(Gen.zip(smallInts, smallInts)).foreach { case (a, b) =>
      val da = a.toDF("x"); val db = b.toDF("x")
      assert(da.union(db).distinct().count() <= da.union(db).count())
      val ex = da.except(db)
      val in = da.intersect(db)
      assert(ex.count() + in.count() == da.distinct().count())
      assert(ex.intersect(in).count() == 0)
    }
  }

  test("windowed running sum's last row equals the group total") {
    samples(smallInts).foreach { xs =>
      val df = xs.zipWithIndex.toDF("x", "i")
      val w = Window.orderBy("i").rowsBetween(Long.MinValue, 0)
      val last = df.withColumn("run", sum(col("x")).over(w))
        .orderBy(desc("i")).select("run").as[Long].head()
      assert(last == xs.map(_.toLong).sum)
    }
  }

  test("blockedPairStats matches a pure-Scala jaccard reference on " +
    "random corpora (any pair sharing a rare shingle)") {
    graft.functions.VectorExprs.register(spark)
    // random docs over a small token pool so shared shingles (and df
    // skew) actually occur
    val token = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps")
    val doc = Gen.chooseNum(3, 8).flatMap(n => Gen.listOfN(n, token))
      .map(_.mkString(" "))
    val corpus = Gen.chooseNum(8, 16).flatMap(n => Gen.listOfN(n, doc))
    samples(corpus, 5).foreach { docs =>
      val cutoff = 4
      def shingles(t: String): Set[String] = {
        val ts = t.split(" ")
        if (ts.length < 3) Set.empty
        else ts.sliding(3).map(_.mkString(" ")).toSet
      }
      val sh = docs.zipWithIndex.map { case (t, i) => i.toLong -> shingles(t) }
      val df = sh.flatMap(_._2).groupBy(identity).view.mapValues(_.size).toMap
      // reference: every pair sharing >=1 rare shingle, exact stats
      val expected = (for {
        (a, sa) <- sh; (b, sb) <- sh if a < b
        shared = sa.intersect(sb)
        if shared.exists(s => df(s) <= cutoff)
      } yield ((a, b), (shared.size.toLong, sa.size, sb.size))).toMap
      val ex = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
        .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sh"))
        .select(col("doc_id"), explode(col("sh")).as("shingle"))
      val got = graft.operators.LlmOps.blockedPairStats(ex, cutoff)
        .select("doc_a", "doc_b", "n_common", "sh_a", "sh_b")
        .as[(Long, Long, Long, Int, Int)].collect()
        .map { case (a, b, n, x, y) => ((a, b), (n, x, y)) }.toMap
      assert(got == expected,
        s"mismatch on corpus ${docs.mkString("|")}")
    }
  }

  test("a hot shingle cannot blow up the blocked self-join: candidate " +
    "pairs are bounded by the df cutoff, results stay exact") {
    graft.functions.VectorExprs.register(spark)
    import spark.implicits._
    // 200 docs all sharing one hot trigram, otherwise unique content:
    // naive all-pairs blocking would emit C(200,2)=19900 candidates
    // from the hot key alone; the blocker must emit none from it
    val docs = (0 until 200).map(i =>
      (i.toLong, s"common hot trigram unique$i token$i filler$i"))
    val ex = docs.toDF("doc_id", "text")
      .select(col("doc_id"), expr("graft_shingles(text, 3)").as("sh"))
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
    val cutoff = 50
    val stats = graft.operators.LlmOps.blockedPairStats(ex, cutoff)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    // "common hot trigram" (df=200 > cutoff) is the only shared
    // shingle — no pair shares a rare one, so zero candidates survive
    assert(stats.isEmpty,
      s"hot-only pairs leaked through the blocker: ${stats.take(5).toSeq}")
    // sanity: the naive sharing-pair count really is quadratic here
    val naive = graft.operators.LlmOps
      .rareShingleCandidates(ex, Int.MaxValue).count()
    assert(naive == 19900L, s"expected 19900 naive pairs, got $naive")
  }

  test("streaming attribution equals the window formulation on " +
    "randomized event timelines") {
    import graft.streaming.{AttributionStream, TouchEvent}
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 4L),                       // user
      Gen.chooseNum(0L, 12L * 86400000000L),       // ts_us over 12 days
      Gen.oneOf("view", "click", "purchase", "error")))
    samples(evGen, 8).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, t), i) =>
        TouchEvent(u, ts, i.toLong, t, (i % 7).toDouble)
      }
      val stateful = AttributionStream
        .attributionBatch(rows.toDS())
        .select("event_id", "channel").as[(Long, String)]
        .collect().toSet
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("view", "click"),
        col("event_type"))
      val windowed = rows.toDS().toDF()
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .withColumn("lu",
          last(when(touch.isNotNull, col("ts_us")), ignoreNulls = true)
            .over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"),
          coalesce(when(col("lu").isNotNull && col("ts_us") - col("lu")
            <= AttributionStream.LookbackUs, col("lt")), lit("direct"))
            .as("channel"))
        .as[(Long, String)].collect().toSet
      assert(stateful == windowed, s"diverged on ${evs.take(5)}...")
    }
  }

  test("streaming z-score equals the decimal-window formulation on " +
    "randomized value series") {
    import graft.streaming.{ValueEvent, ZscoreStream}
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 3L),
      Gen.chooseNum(0L, 1000000L),
      Gen.chooseNum(0, 99999)))
    samples(evGen, 8).foreach { evs =>
      val rows = evs.zipWithIndex.map { case ((u, ts, cents), i) =>
        ValueEvent(u, ts, i.toLong, cents / 100.0) // exact 2-decimal
      }
      val stateful = ZscoreStream.zscoreBatch(rows.toDS())
        .select("event_id", "z").as[(Long, Double)].collect().toSet
      val win = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        .rowsBetween(-20, -1)
      val windowed = rows.toDS().toDF()
        .withColumn("sw", sum(col("value").cast(DecimalType(20, 6)))
          .over(win).cast(DoubleType))
        .withColumn("sq",
          sum((col("value") * col("value")).cast(DecimalType(24, 6)))
            .over(win).cast(DoubleType))
        .withColumn("n", count(lit(1)).over(win))
        .withColumn("variance",
          (col("sq") - col("sw") * col("sw") / col("n")) / (col("n") - 1))
        .filter(col("n") >= 10 && col("variance") > 0)
        .withColumn("z", (col("value") - col("sw") / col("n")) /
          sqrt(col("variance")))
        .filter(abs(col("z")) > 2)
        .select(col("event_id"), round(col("z"), 4).as("z"))
        .as[(Long, Double)].collect().toSet
      assert(stateful == windowed, s"diverged on ${evs.take(5)}...")
    }
  }

  test("doc chunking tiles any string: bounded windows, stride " +
    "alignment, full coverage") {
    val txtGen = Gen.chooseNum(0, 400).flatMap(n =>
      Gen.stringOfN(n, Gen.alphaNumChar))
    samples(txtGen, 15).foreach { txt =>
      val nIdx = math.max(0L, math.ceil((txt.length - 120) / 90.0).toLong)
      val chunks = (0L to nIdx).map(i =>
        txt.slice((i * 90).toInt, (i * 90).toInt + 120))
      // same derivation the j_doc_chunk operator makes in-plan
      val df = Seq(txt).toDF("text")
        .select(explode(sequence(lit(0L), greatest(lit(0L),
          ceil((length(col("text")) - lit(120)).cast("double") / 90.0)
            .cast("long")))).as("i"), col("text"))
        .select(col("text").substr((col("i") * 90 + 1).cast("int"),
          lit(120)).as("c"))
        .as[String].collect().toSeq
      assert(df == chunks)
      assert(chunks.forall(_.length <= 120))
      if (txt.nonEmpty)
        assert(chunks.map(_.length).sum >= txt.length,
          "tiling lost characters")
    }
  }

  test("portable-hash determinism envelope: the whole minhash " +
    "string→band-signature chain equals a pure-Scala re-derivation of " +
    "the DuckDB twin arithmetic over 10k generated docs") {
    // The oracle for j_dedup_near_minhash / j_dedup_cascade_lsh (and
    // j_dedup_simhash / j_quality_classifier before it) rests on one
    // claim: graft_polyhash + the 2-universal h_i + the 62-bit band
    // combine are pure bounded-int64 arithmetic both engines evaluate
    // identically. This pins that claim symbolically: an independent
    // Scala implementation of the SQL twin's formulas (list_reduce
    // fold over ascii codes, same inlined constants) must reproduce
    // the Spark pipeline's candidate set exactly on adversarial input.
    // Envelope: ASCII printable, non-empty tokens — the twin equality
    // is only claimed there (ascii(c) = UTF-16 unit only below 128;
    // DuckDB's list_reduce rejects empty lists).
    graft.functions.VectorExprs.register(spark)
    import graft.operators.LlmOps.{HashM => M, MinhashA, MinhashB}
    val word = Gen.chooseNum(1, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(33.toChar, 126.toChar)).map(_.mkString))
    val vocab = samples(word, 400).distinct
    val doc = for {
      n <- Gen.chooseNum(3, 15)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    val texts0 = samples(doc, 9500)
    // plant dups/near-dups so band collisions actually occur
    val texts = texts0 ++ texts0.take(500)
    assert(texts.size >= 10000)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    // --- pure-Scala re-derivation of the SQL twin ---
    def polyHalves(s: String): (Long, Long) = {
      var h1 = 0L; var h2 = 0L
      s.foreach { c => h1 = (h1 * 31 + c) % M; h2 = (h2 * 131 + c) % M }
      ((h1 * 48271L) % M, (h2 * 16807L) % M)
    }
    def shinglesRef(t: String): Set[String] = {
      val ts = t.split(" ", -1)
      if (ts.length < 3) Set.empty
      else ts.sliding(3).map(_.mkString(" ")).toSet
    }
    def bsigRef(m: IndexedSeq[Long], b: Int): Long = {
      val (m0, m1, m2) = (m(b * 3), m(b * 3 + 1), m(b * 3 + 2))
      ((((m0 * 48271) % M + (m1 * 16807) % M + m2) % M) << 31) |
        (((m0 * 69621) % M + ((m2 * 48271) % M) + m1) % M)
    }
    val sigs = docs.flatMap { case (id, t) =>
      val sh = shinglesRef(t)
      if (sh.isEmpty) None
      else {
        val xy = sh.toSeq.map(polyHalves)
        Some(id -> (0 until 12).map { i =>
          xy.map { case (x1, x2) =>
            ((MinhashA(i) * x1) % M + (MinhashB(i) * x2) % M + i) % M
          }.min
        })
      }
    }
    val expected = (0 until 4).flatMap { b =>
      sigs.map { case (id, m) => (b, bsigRef(m, b)) -> id }
        .groupBy(_._1).valuesIterator
        .flatMap { g =>
          val ids = g.map(_._2).sorted
          for (i <- ids.indices; j <- (i + 1) until ids.length)
            yield (ids(i), ids(j))
        }
    }.toSet

    val got = graft.operators.LlmOps
      .minhashCandidates(docs.toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(got == expected,
      s"spark=${got.size} ref=${expected.size}; " +
        s"only-spark=${(got -- expected).take(3)} " +
        s"only-ref=${(expected -- got).take(3)}")
    assert(expected.nonEmpty, "degenerate fixture: no band collisions")
  }

  test("gap-islands state machine equals a pure interval reference on " +
    "random day sets, under any within-batch arrival order") {
    import graft.streaming.{DayEvent, GapIslandsStream}
    val dayUs = GapIslandsStream.DayUs
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 3L), Gen.chooseNum(0L, 25L)))
    samples(evGen, 8).foreach { evs =>
      val rows = evs.map { case (u, day) =>
        DayEvent(u, day * dayUs + (u * 977 % 1000))
      }
      val got = GapIslandsStream.islandsBatch(rows.toDS())
        .as[(Long, Long, Long, Long)].collect().toSet
      // reference: islands = maximal consecutive runs of the day set
      val expect = evs.groupBy(_._1).flatMap { case (u, g) =>
        val days = g.map(_._2).distinct.sorted
        val runs = days.foldLeft(List.empty[(Long, Long)]) {
          case ((s, e) :: rest, d) if d <= e + 1 => (s, d) :: rest
          case (acc, d) => (d, d) :: acc
        }
        runs.map { case (s, e) => (u, s, e, e - s + 1) }
      }.toSet
      assert(got == expect, s"events $evs")
    }
  }

  test("retention deltas converge to the reference cohort table under " +
    "random arrival orders (rebase retractions cancel exactly)") {
    import graft.streaming.{CohortDelta, RetentionState, RetentionStream, WeekEvent}
    val wk = RetentionStream.WeekUs
    val evGen = Gen.nonEmptyListOf(Gen.zip(
      Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 9L)))
    samples(evGen, 8).foreach { evs =>
      // fold one event per step, in generated (arbitrary) order
      var deltas = Vector.empty[CohortDelta]
      val states = scala.collection.mutable.Map.empty[Long, RetentionState]
      evs.foreach { case (u, w) =>
        val (out, next, _) = RetentionStream.step(u,
          states.getOrElse(u, RetentionState(Long.MaxValue, Nil)),
          Seq(WeekEvent(u, w * wk + 5L)), 0L)
        deltas ++= out
        next.foreach(states(u) = _)
      }
      val got = deltas.groupBy(d => (d.cohort_week, d.week_offset))
        .view.mapValues(_.map(_.delta).sum).toMap.filter(_._2 > 0)
      // reference: per-user cohort = min week; cell (cohort, w-cohort)
      val expect = evs.groupBy(_._1).toSeq.flatMap { case (_, g) =>
        val wks = g.map(_._2).distinct
        val cw = wks.min
        wks.map(w => (cw, w - cw))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == expect, s"events $evs:\n$got\nvs $expect")
    }
  }

  test("upsert latest-wins keeps exactly the highest version per key") {
    val kv = Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 5), Gen.chooseNum(0, 100)))
    samples(kv).foreach { kvs =>
      val result = kvs.zipWithIndex.map { case ((k, v), ord) => (k, v, ord) }
        .toDF("k", "v", "ord")
        .withColumn("rn", row_number().over(
          Window.partitionBy("k").orderBy(desc("ord"))))
        .filter(col("rn") === 1).select("k", "v")
        .as[(Int, Int)].collect().toSet
      val expected = kvs.zipWithIndex
        .groupBy(_._1._1).map { case (k, g) => (k, g.maxBy(_._2)._1._2) }
        .toSet
      assert(result == expected)
    }
  }

  test("KmvBuffer is a pure set function: any chunking + merge order + " +
    "serialization roundtrip equals sorted-distinct-bottom-k") {
    import graft.functions.KmvBuffer
    val gen = Gen.zip(
      Gen.chooseNum(1, 16),                               // k
      Gen.nonEmptyListOf(Gen.chooseNum(0L, 200L)),        // values (dups likely)
      Gen.chooseNum(1, 5))                                // chunk count
    samples(gen, 200).foreach { case (k, xs, nChunks) =>
      val expect = xs.distinct.sorted.take(k)
      // chunked insert + pairwise merge
      val bufs = xs.grouped(math.max(1, xs.size / nChunks)).map { chunk =>
        val b = new KmvBuffer(k); chunk.foreach(b.insert); b
      }.toSeq
      val merged = bufs.reduce { (a, b) =>
        var i = 0; while (i < b.n) { a.insert(b.hs(i)); i += 1 }; a
      }
      assert(merged.hs.take(merged.n).toSeq == expect,
        s"k=$k xs=$xs chunks=$nChunks")
    }
  }

  test("KSampleBuffer bottom-k of distinct (h,v) pairs survives " +
    "chunking and merge order") {
    import graft.functions.KSampleBuffer
    val pairGen = Gen.zip(Gen.chooseNum(0L, 50L),
      Gen.chooseNum(0, 9).map(_.toDouble))
    val gen = Gen.zip(Gen.chooseNum(1, 8), Gen.nonEmptyListOf(pairGen))
    samples(gen, 200).foreach { case (k, ps) =>
      val expect = ps.distinct.sortBy(identity).take(k)
      val bufs = ps.grouped(math.max(1, ps.size / 3)).map { chunk =>
        val b = new KSampleBuffer(k)
        chunk.foreach { case (h, v) => b.insert(h, v) }; b
      }.toSeq
      val merged = bufs.reverse.reduce { (a, b) =>
        var i = 0; while (i < b.n) { a.insert(b.hs(i), b.vs(i)); i += 1 }; a
      }
      val got = (0 until merged.n).map(i => (merged.hs(i), merged.vs(i)))
      assert(got == expect, s"k=$k ps=$ps")
    }
  }

  test("KMV estimator accuracy holds OFF the fixture distribution: " +
    "random sparse/clustered/dense id sets estimate within 3σ") {
    // pure-Scala twin of the Sketches.lehmerHash + kmvEstimate
    // arithmetic (the oracle checks determinism; THIS checks the
    // estimator is not accidentally pathological for the hash family
    // on other id shapes)
    val M = 2147483647L
    def h(id: Long): Long =
      ((((id % M) * 48271 % M) * 69621 % M) << 31) |
        (((id + 1) % M) * 16807 % M * 48271 % M)
    val k = 128
    def estimate(ids: Set[Long]): Double = {
      val hs = ids.map(h).toSeq.sorted
      if (hs.size < k) hs.size.toDouble
      else math.floor((k - 1).toDouble * 4611686018427387904.0 / hs(k - 1))
    }
    val shapes = Seq[(String, Gen[Long])](
      ("sparse", Gen.chooseNum(0L, Long.MaxValue / 4)),
      ("clustered", Gen.chooseNum(0L, 50L).flatMap(c =>
        Gen.chooseNum(0L, 40L).map(o => c * 1000000L + o))),
      ("dense", Gen.chooseNum(0L, 3000L)))
    shapes.foreach { case (name, g) =>
      samples(Gen.listOfN(1500, g), 20).foreach { xs =>
        val ids = xs.toSet
        val est = estimate(ids)
        val se = 1.0 / math.sqrt(k - 2) // ≈ 9%
        assert(math.abs(est - ids.size) <= 3 * se * ids.size + 1,
          s"$name: est $est vs exact ${ids.size}")
      }
    }
  }

  test("session boundary fuzz: every member of each gap-cut family " +
    "matches the SessionBounds reference segmentation, including " +
    "exactly-at-gap deltas") {
    import graft.streaming.{FunnelEvent, FunnelStream, SessionEvent, Sessionize}
    val Gap = SessionBounds.GapUs
    // deltas biased onto the boundary: exactly gap, gap±1, and a
    // spread of clearly-inside / clearly-outside values
    val delta = Gen.oneOf(
      Gen.const(Gap), Gen.const(Gap - 1), Gen.const(Gap + 1),
      Gen.chooseNum(1L, Gap - 2), Gen.chooseNum(Gap + 2, 3 * Gap))
    val seqs = samples(Gen.nonEmptyListOf(delta), 25)
      .map(_.scanLeft(1000000L)(_ + _))
    // the single reference: segment with SessionBounds.cuts
    def segments(ts: Seq[Long], strict: Boolean): Seq[Seq[Long]] =
      ts.tail.foldLeft(Vector(Vector(ts.head))) { (acc, t) =>
        if (SessionBounds.cuts(acc.last.last, t, strict))
          acc :+ Vector(t)
        else acc.init :+ (acc.last :+ t)
      }
    seqs.foreach { ts =>
      val touch = segments(ts, strict = false)
        .map(s => (s.head, s.last, s.size.toLong))
      val strictSegs = segments(ts, strict = true)
        .map(s => (s.head, s.size.toLong))
      // family merge-on-touch, member 1: the fMGWS/TWS fold
      val fold = Sessionize.sessionsBatch(
        ts.map(SessionEvent(1L, _)).toDS())
        .collect().map(s => (s.first_us, s.last_us, s.n))
        .sortBy(_._1).toSeq
      assert(fold == touch, s"Sessionize fold diverged on $ts")
      // family merge-on-touch, member 2: native session_window
      val native = ts.toDF("ts_us")
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .groupBy(session_window(col("ts"), "30 minutes"))
        .agg(min("ts_us").as("f"), max("ts_us").as("l"),
          count(lit(1)).as("n"))
        .select("f", "l", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq
      assert(native == touch, s"session_window diverged on $ts")
      // family strict (cut at >= gap), member 1: the funnel fold
      val funnel = FunnelStream.funnelBatch(
        ts.zipWithIndex.map { case (t, i) =>
          FunnelEvent(1L, t, i.toLong, "view") }.toDS())
        .collect().map(s => (s.session_start, s.n_events))
        .sortBy(_._1).toSeq
      assert(funnel == strictSegs, s"Funnel fold diverged on $ts")
      // family strict, member 2: the lag-based cutExpr sessionizer
      // (the e_funnel_sessions plan shape)
      val w = Window.partitionBy("u").orderBy("ts_us")
      val lagged = ts.map((1L, _)).toDF("u", "ts_us")
        .withColumn("new_s", when(SessionBounds.cutExpr(
          lag("ts_us", 1).over(w), col("ts_us"), strict = true), 1)
          .otherwise(0))
        .withColumn("sid", sum("new_s").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("sid").agg(min("ts_us").as("f"), count(lit(1)).as("n"))
        .select("f", "n")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy(_._1).toSeq
      assert(lagged == strictSegs, s"cutExpr sessionizer diverged on $ts")
    }
    // the divergence itself, pinned: at exactly prev+gap the touch
    // family merges (1 session), the strict family cuts (2)
    val two = Seq(1000000L, 1000000L + Gap)
    assert(segments(two, strict = false).size == 1)
    assert(segments(two, strict = true).size == 2)
  }

  test("graft_kmv is partitioning-invariant through a real exchange") {
    graft.functions.VectorExprs.register(spark)
    val ids = samples(Gen.chooseNum(0L, 500L), 60)
    def sketch(np: Int) = ids.toDF("id")
      .repartition(np)
      .withColumn("hv", expr(graft.operators.Sketches.lehmerHash("id")))
      .agg(expr("graft_kmv(hv, 16)")).head.getSeq[Long](0)
    assert(sketch(1) == sketch(7))
  }
}
