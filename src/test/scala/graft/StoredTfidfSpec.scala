package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.LlmOps

/** The tf-idf index store (r19): `j_sim_tfidf_pairs_stored` reads the
  * doc-vector and blocked-candidate tables a production pipeline
  * writes once per corpus snapshot. Pins: (1) stored == in-flight row
  * equality (the shared prune/verify path must see identical inputs);
  * (2) the steady-state plan never scans the corpus — no
  * documents.parquet leaf anywhere, because both derivation passes
  * live behind the store; (3) a second session resolves the index
  * with zero build jobs (the lmArtifactPrefix contract); (4) a
  * normalize toggle serves the index of the new text form, in the same
  * session and in a new one.
  */
class StoredTfidfSpec extends SparkSpec {

  test("stored entry equals the in-flight entry row for row, and its " +
    "plan never scans documents.parquet") {
    val inflight = SparkEntry.queries("j_sim_tfidf_pairs")(spark, sfDir)
      .collect().toSeq
    Caches.release(spark)
    val storedDf = SparkEntry.queries("j_sim_tfidf_pairs_stored")(spark, sfDir)
    val stored = storedDf.collect().toSeq
    assert(stored.nonEmpty, "no pairs on the fixture — vacuous test")
    assert(stored == inflight, "stored tf-idf index diverged from in-flight")
    val scans = storedDf.queryExecution.executedPlan.toString
    assert(!scans.contains("documents.parquet"),
      s"steady-state stored plan still scans the corpus:\n$scans")
    Caches.release(spark)
  }

  test("a second session resolves the index with zero build jobs") {
    LlmOps.tfidfIndexPrefix(spark, sfDir)
    val s2 = spark.newSession()
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      jobs.set(0)
      val p = LlmOps.tfidfIndexPrefix(s2, sfDir)
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
      assert(jobs.get() == 0,
        s"second-session index resolution ran ${jobs.get()} jobs")
      assert(s2.table(s"${p}_vec").count() > 0)
      assert(s2.table(s"${p}_cand").count() > 0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a normalize toggle serves the index of the new text form, in " +
    "the session that toggles and in a new session (stored == direct)") {
    val key = "spark.graft.text.normalize"
    // normalize leaves the fixture's lower-case text as it is, so the
    // corpus here is the fixture with every other document upper-cased
    val dir = java.nio.file.Files.createTempDirectory("graft_mixed_case_")
    val d = dir.toString
    spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("text", when(col("doc_id") % 2 === 0, upper(col("text")))
        .otherwise(col("text")))
      .write.parquet(s"$d/documents.parquet")
    def pairs(s: org.apache.spark.sql.SparkSession, entry: String) =
      SparkEntry.queries(entry)(s, d).collect().toSeq
    val old = spark.conf.getOption(key)
    val s2 = spark.newSession()
    val built = scala.collection.mutable.Buffer.empty[String]
    try {
      spark.conf.set(key, "false")
      val raw = pairs(spark, "j_sim_tfidf_pairs")
      assert(pairs(spark, "j_sim_tfidf_pairs_stored") == raw)
      built += LlmOps.tfidfIndexPrefix(spark, d)
      spark.conf.set(key, "true")
      val norm = pairs(spark, "j_sim_tfidf_pairs")
      assert(norm != raw, "normalize on and off agree on the corpus — " +
        "vacuous test")
      assert(pairs(spark, "j_sim_tfidf_pairs_stored") == norm,
        "after the toggle the index served the raw-text pairs")
      built += LlmOps.tfidfIndexPrefix(spark, d)
      // a new session on the value the first index was not built with
      s2.conf.set(key, "true")
      assert(pairs(s2, "j_sim_tfidf_pairs_stored") ==
        pairs(s2, "j_sim_tfidf_pairs"),
        "a new session served another text form's index")
    } finally {
      old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      Caches.release(spark)
      Caches.release(s2)
      for (p <- built; sfx <- Seq("_vec", "_cand"))
        graft.operators.DedupArtifacts.reset(spark, p + sfx)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
  }
}
