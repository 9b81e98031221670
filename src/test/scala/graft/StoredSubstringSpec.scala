package graft

import graft.operators.LlmOps

/** The window-postings store (r20): `j_dedup_substring_stored` reads
  * the k-token window postings a production dedup pipeline writes once
  * per corpus snapshot. Pins: (1) stored == in-flight row equality
  * (same [[LlmOps.substringPairs]] path on identical inputs); (2) the
  * steady-state plan never scans the corpus; (3) a second session
  * resolves the store with zero build jobs (the lmArtifactPrefix
  * contract); (4) a `substringK` retune in the same session serves
  * the store built for the new k, never the old one.
  */
class StoredSubstringSpec extends SparkSpec {

  test("stored substring entry equals the in-flight entry row for row, " +
    "and its plan never scans documents.parquet") {
    val inflight = SparkEntry.queries("j_dedup_substring")(spark, sfDir)
      .collect().toSeq
    Caches.release(spark)
    val storedDf =
      SparkEntry.queries("j_dedup_substring_stored")(spark, sfDir)
    val stored = storedDf.collect().toSeq
    assert(stored.nonEmpty, "no pairs on the fixture — vacuous test")
    assert(stored == inflight,
      "stored window postings diverged from in-flight")
    val scans = storedDf.queryExecution.executedPlan.toString
    assert(!scans.contains("documents.parquet"),
      s"steady-state stored plan still scans the corpus:\n$scans")
    Caches.release(spark)
  }

  test("a second session resolves the window store with zero build jobs") {
    LlmOps.substringIndexPrefix(spark, sfDir)
    val s2 = spark.newSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      jobs.set(0)
      val p = LlmOps.substringIndexPrefix(s2, sfDir)
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"second-session store resolution ran ${jobs.get()} jobs")
      assert(s2.table(s"${p}_win").count() > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a substringK retune in one session reads the store of the new k " +
    "(stored == direct at k=8, then at k=4)") {
    val key = "spark.graft.dedup.substringK"
    def pairs(entry: String) =
      SparkEntry.queries(entry)(spark, sfDir).collect().toSeq
    val old = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "8")
      val direct8 = pairs("j_dedup_substring")
      assert(pairs("j_dedup_substring_stored") == direct8)
      spark.conf.set(key, "4")
      val direct4 = pairs("j_dedup_substring")
      assert(direct4 != direct8, "k=4 and k=8 agree on the fixture — vacuous test")
      val stored4 = pairs("j_dedup_substring_stored")
      if (stored4 != direct4)
        fail(s"after the retune the store served ${stored4.size} pairs, " +
          s"the direct derivation ${direct4.size}")
    } finally {
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Caches.release(spark)
    }
  }
}
