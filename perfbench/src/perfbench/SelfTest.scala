package perfbench

import org.apache.spark.sql.sources.{GreaterThan, IsNotNull, LessThanOrEqual}

/** The benchmark's own tests; exits non-zero on the first failure.
  * Needs no Spark session. */
object SelfTest {
  private var failures = 0
  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Throwable => println(s"  threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  private def same(model: LatestWins, brute: Map[Long, Version]): Boolean =
    model.live.map(v => v.key -> v).toMap == brute

  def main(args: Array[String]): Unit = {
    // generator expected state against a brute-force latest-wins
    val bulk = SyncGen.bulk(seed = 7, customers = 300)
    bulk.foreach { case (spec, vs) =>
      check(s"bulk ${spec.name}: incremental model == brute force")(
        same(LatestWins.of(vs), LatestWins.bruteForce(vs)))
    }
    val orders = bulk.find(_._1 == SyncGen.orders).get._2
    val perKey = orders.groupBy(_.key)
    check("bulk: some keys have a second version in the same window")(
      perKey.values.count(_.size > 1) > 0)
    check("bulk: some keys end as tombstones")(
      perKey.values.count(_.maxBy(_.modstamp).deleted) > 0)
    check("bulk: some keys are tombstoned then re-inserted")(perKey.values.exists { vs =>
      val s = vs.sortBy(_.modstamp); s.init.exists(_.deleted) && !s.last.deleted })

    val gen = new TrickleGen(seed = 11, base = 2000)
    val log = scala.collection.mutable.ArrayBuffer.from(gen.initial)
    val model = LatestWins.of(gen.initial)
    val deltas = (1 to 20).map(_ => gen.delta(500))
    deltas.foreach { d => log ++= d; model ++= d }
    check("trickle: incremental model == brute force over the event log")(
      same(model, LatestWins.bruteForce(log.toSeq)))
    check("trickle: ids repeat within a delta")(
      deltas.forall(d => d.map(_.key).distinct.size < d.size))
    check("trickle: tombstone-then-reinsert occurs")(log.groupBy(_.key).values.exists { vs =>
      val s = vs.sortBy(_.modstamp); s.init.exists(_.deleted) && !s.last.deleted })
    check("trickle: delta mix is ~70/25/5")({
      val all = deltas.flatten
      val tomb = all.count(_.deleted).toDouble / all.size
      tomb > 0.03 && tomb < 0.07
    })
    check("trickle: same seed gives the same inputs")(
      new TrickleGen(11, 2000).initial == new TrickleGen(11, 2000).initial)
    check("latest-wins: a tombstone wins a modstamp tie")({
      val row = IndexedSeq[Any](1L)
      val m = LatestWins.of(Seq(Version(1, 5, deleted = false, row), Version(1, 5, deleted = true, row)))
      !m.isLive(1) && LatestWins.bruteForce(Seq(Version(1, 5, deleted = false, row),
        Version(1, 5, deleted = true, row))).isEmpty
    })

    // the endpoint serves a cursor range as contiguous, complete pages
    val ep = new IndexedEndpoint(SyncGen.events.schema, "modstamp", 4, gen.initial.map(_.row))
    val lo = gen.initial(100).modstamp
    val hi = gen.initial(1500).modstamp
    val pages = (0 until 4).map(p => ep.query(Seq("event_id", "modstamp"),
      Seq(GreaterThan("modstamp", lo), LessThanOrEqual("modstamp", hi), IsNotNull("modstamp")), p).toSeq)
    check("endpoint: pages cover exactly the cursor range, in order")(
      pages.flatten.map(_(1)) == gen.initial.slice(101, 1501).map(_.modstamp))
    check("endpoint: pages are balanced")(pages.map(_.size).max - pages.map(_.size).min <= 1)

    // percentile rule: at least ten samples beyond the reported rank
    check("percentile: 100 samples allow p90 but not p95")(Stats.tailQuantile(100).contains(0.9))
    check("percentile: 40 samples allow p75")(Stats.tailQuantile(40).contains(0.75))
    check("percentile: 39 samples allow only p50")(Stats.tailQuantile(39).contains(0.5))
    check("percentile: 10 samples allow none")(Stats.tailQuantile(10).isEmpty)
    check("percentile: nearest rank")(
      Stats.percentile((1 to 100).map(_.toDouble), 0.9) == 90.0 &&
        Stats.percentile((1 to 10).map(_.toDouble), 0.5) == 5.0)
    check("median of even count averages the middle pair")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    // error accounting: a thrown op and a failed check count, untimed
    val ops = new OpLog
    ops.run("a")(1)(_ => None)
    ops.run[Int]("a")(throw new RuntimeException("boom"))(_ => None)
    ops.run("b")(2)(_ => Some("wrong output"))
    ops.run("b")(3)(_ => None)
    check("error rate: 2 failures of 4 attempts")(
      ops.attempted == 4 && ops.failed == 2 && ops.errorRate == 0.5)
    check("error rate: failed ops are never timed")(
      ops.samples.length == 2 && ops.samplesByKind.map { case (k, v) => k -> v.length } == Map("a" -> 1, "b" -> 1))
    ops.failAll("final check")
    check("error rate: a failed final check fails every op")(
      ops.failed == 4 && ops.samples.isEmpty)

    // self time: union of child intervals, clipped to the op
    check("self time: overlapping children are counted once")(
      TraceReport.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (40L, 60L)), 0L, 50L) == 35L)

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
