package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent,
  ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.operators.{DedupArtifacts, LlmOps, TextOps}

/** The store resolver's own rules ([[StoredArtifact]]): a name that
  * tracks the corpus snapshot within one session, and builds that run
  * outside the memo map's lock, so a build may resolve another store
  * while a second thread resolves the same one.
  */
class StoredArtifactSpec extends SparkSpec {

  /** Runs `body` on a private copy of the fixture's documents, so the
    * stores it builds are named apart from the ones other specs read:
    * a new session rewrites a per-session store under its shared name,
    * beneath the file listing another session has cached. */
  private def onDocumentsCopy(body: Path => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_fixture_")
    try {
      Files.copy(Paths.get(sfDir, "documents.parquet"),
        dir.resolve("documents.parquet"))
      body(dir)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("a store resolved again after its fixture is rewritten in place " +
    "gets a new name and serves the new rows (stored == direct)") {
    onDocumentsCopy { dir =>
      val d = dir.toString
      def stored(t: String) =
        spark.table(t).orderBy("p_lang", "prk").collect().toSeq
      def direct() = TextOps.chargramProfile(
        Tables.documents(spark, d).select("doc_id", "lang", "text")
          .filter(TextOps.splitBucket(col("doc_id")) < 80), 40)
        .orderBy("p_lang", "prk").collect().toSeq
      val built = scala.collection.mutable.Buffer.empty[String]
      try {
        built += TextOps.chargramProfileTable(spark, d)
        val before = direct()
        assert(stored(built.head) == before)
        // the same path, other rows: a third of the documents dropped
        val next = dir.resolve("next.parquet")
        spark.read.parquet(s"$sfDir/documents.parquet")
          .filter(col("doc_id") % 3 =!= 0)
          .write.parquet(next.toString)
        Files.delete(dir.resolve("documents.parquet"))
        Files.move(next, dir.resolve("documents.parquet"))
        val after = direct()
        assert(after != before,
          "the rewrite left the profile unchanged — vacuous test")
        built += TextOps.chargramProfileTable(spark, d)
        assert(built(1) != built.head,
          "the rewritten fixture resolved the old store name")
        assert(stored(built(1)) == after,
          "the store served rows the direct derivation does not produce")
      } finally built.foreach(DedupArtifacts.reset(spark, _))
    }
  }

  test("the CSV and ORC round-trips write their copy once per session, " +
    "at a path no other session shares") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    def dir(df: org.apache.spark.sql.DataFrame): Path =
      df.inputFiles.map(f => Paths.get(new java.net.URI(f)).getParent)
        .distinct.toSeq match { case Seq(one) => one }
    // the copy's files with their modification times
    def listing(p: Path): Set[(String, Long)] = {
      val files = Files.list(p)
      try files.iterator().asScala
        .map(f => f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toSet
      finally files.close()
    }
    val s2 = spark.newSession()
    val s2Dirs = scala.collection.mutable.Buffer.empty[Path]
    try {
      for ((q, table) <- Seq("a_source_csv_roundtrip" -> "customer",
                             "a_source_orc_roundtrip" -> "supplier")) {
        val first = SparkEntry.queries(q)(spark, sfDir)
        assert(first.count() == spark.read.parquet(s"$sfDir/$table.parquet").count())
        val copy = listing(dir(first))
        // building the query again runs no Spark job: the copy is not
        // written again
        sc.addSparkListener(listener)
        val again = try {
          jobs.set(0)
          val df = SparkEntry.queries(q)(spark, sfDir)
          org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
          assert(jobs.get() == 0, s"$q: a second build ran ${jobs.get()} Spark jobs")
          df
        } finally sc.removeSparkListener(listener)
        assert(dir(again) == dir(first))
        // another session on the same fixture writes its own copy
        val other = SparkEntry.queries(q)(s2, sfDir)
        s2Dirs += dir(other)
        assert(dir(other) != dir(first), s"$q: two sessions share ${dir(first)}")
        assert(other.collect().toSeq == first.collect().toSeq)
        assert(listing(dir(first)) == copy, s"$q: the other session rewrote ${dir(first)}")
      }
    } finally {
      Caches.release(s2)
      s2Dirs.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    }
  }

  test("two threads resolving the pair and cluster tables, each of which " +
    "resolves the inc store inside its build, build that store once") {
    onDocumentsCopy { dir =>
      val d = dir.toString
      val s2 = spark.newSession()
      // the name only: the store itself is first resolved by the threads
      val prefix = StoredArtifact.name(s2, d, "inc", Seq("documents"),
        Seq(LlmOps.normKnob(s2)))
      val builds = new AtomicInteger(0)
      val listener = new ExternalCatalogEventListener {
        override def onEvent(e: ExternalCatalogEvent): Unit = e match {
          case CreateTableEvent(_, name)
              if name.equalsIgnoreCase(DedupArtifacts.postTable(prefix)) =>
            builds.incrementAndGet()
          case _ =>
        }
      }
      val catalog = spark.sharedState.externalCatalog
      catalog.addListener(listener)
      val pool = Executors.newFixedThreadPool(2)
      try {
        val pairs = pool.submit(new Callable[String] {
          def call(): String = LlmOps.storedDeltaPairs(s2, d)
        })
        val clusters = pool.submit(new Callable[String] {
          def call(): String = LlmOps.storedClusterTable(s2, d)
        })
        // get rethrows a build's exception (an IllegalStateException
        // from a recursive map update, say) in an ExecutionException
        assert(pairs.get(10, TimeUnit.MINUTES) == LlmOps.pairsTable(prefix))
        assert(clusters.get(10, TimeUnit.MINUTES) ==
          LlmOps.clusterTable(prefix))
        assert(builds.get() == 1,
          s"the inc store was built ${builds.get()} times, expected once")
        assert(s2.table(LlmOps.pairsTable(prefix)).count() > 0)
        assert(s2.table(LlmOps.clusterTable(prefix)).count() > 0)
      } finally {
        pool.shutdown()
        catalog.removeListener(listener)
        Caches.release(s2)
        Seq("_post", "_sizes", "_df", "_clusters", "_dpairs")
          .foreach(sfx => DedupArtifacts.reset(spark, prefix + sfx))
      }
    }
  }
}
