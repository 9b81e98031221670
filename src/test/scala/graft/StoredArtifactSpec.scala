package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.catalyst.catalog.{CreateTableEvent,
  ExternalCatalogEvent, ExternalCatalogEventListener}
import org.apache.spark.sql.functions._
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
