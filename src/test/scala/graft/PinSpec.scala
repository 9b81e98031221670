package graft

import org.apache.spark.sql.functions._
import graft.sources.{JdbcCursorStore, JdbcExec}

/** The pin-mode knob (r16, VERDICT r15 ask 4): every
  * `spark.graft.pin.mode` must (a) materialize eagerly, (b) produce a
  * frame whose reads are value-identical to the input, and (c) drive
  * the two real call sites — a syncOnce pass and the pipeline audit —
  * to the same results the default mode produces.
  */
class PinSpec extends SparkSpec {

  private def withMode[A](m: String)(f: => A): A = {
    spark.conf.set(Pin.ModeKey, m)
    try f finally spark.conf.unset(Pin.ModeKey)
  }

  test("pin returns a value-identical frame under every mode; unknown " +
    "modes are rejected loudly") {
    import spark.implicits._
    val src = (1L to 1000L).toDF("id")
      .withColumn("v", col("id") * 3 % 17)
    val expect = src.orderBy("id").collect().toSeq
    for (m <- Seq("local", "reliable")) withMode(m) {
      val pinned = Pin.pin(src)
      assert(pinned.orderBy("id").collect().toSeq == expect, s"mode=$m")
      Pin.unpin(pinned)
    }
    withMode("bogus") {
      val e = intercept[RuntimeException](Pin.pin(src))
      assert(e.getMessage.contains("bogus"))
    }
  }

  test("reliable unpin deletes the pin's checkpoint files (the pin " +
    "dir must not grow per pass in a standing job)") {
    import spark.implicits._
    val src = (1L to 500L).toDF("id").withColumn("v", col("id") % 7)
    withMode("reliable") {
      // Warm the checkpoint dir so `before` captures any pre-existing
      // debris from other suites sharing the session.
      Pin.unpin(Pin.pin(src.limit(1)))
      val dir = spark.sparkContext.getCheckpointDir.get
      val root = new java.io.File(new java.net.URI(dir).getPath)
      def rddDirs() = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
        .map(_.getName).toSet
      val before = rddDirs()
      val pinned = Pin.pin(src)
      assert(pinned.count() == 500L)
      val added = rddDirs() -- before
      assert(added.nonEmpty, s"expected new checkpoint data under $dir")
      Pin.unpin(pinned)
      val leaked = rddDirs().intersect(added)
      assert(leaked.isEmpty,
        s"unpin left checkpoint files under $dir: ${leaked.mkString(",")}")
    }
  }

  test("unpin on a frame DERIVED from a pin is a no-op: upstream " +
    "reliable checkpoint files survive for other consumers (ADVICE r17)") {
    import spark.implicits._
    val src = (1L to 500L).toDF("id").withColumn("v", col("id") % 7)
    withMode("reliable") {
      Pin.unpin(Pin.pin(src.limit(1))) // warm the checkpoint dir
      val dir = spark.sparkContext.getCheckpointDir.get
      val root = new java.io.File(new java.net.URI(dir).getPath)
      def rddDirs() = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("rdd-"))
        .map(_.getName).toSet
      val before = rddDirs()
      val pinned = Pin.pin(src)
      val added = rddDirs() -- before
      assert(added.nonEmpty)
      // releasing a DERIVED frame must not destroy the pin's storage
      Pin.unpin(pinned.filter(col("v") === 3))
      assert(rddDirs().intersect(added) == added,
        "unpin(derived) deleted the upstream pin's checkpoint files")
      assert(pinned.count() == 500L, "pin unreadable after derived unpin")
      Pin.unpin(pinned) // the exact pin result still releases storage
      assert(rddDirs().intersect(added).isEmpty)
    }
  }

  test("unpin dispatches on the frame's own state, not the current " +
    "knob value (flip between pin and unpin must not leak)") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val src = (1L to 200L).toDF("id")
    // local-checkpoint-pinned, knob flipped to reliable before release
    val l = withMode("local")(Pin.pin(src))
    val rdd = l.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.head
    assert(rdd.getStorageLevel != StorageLevel.NONE)
    withMode("reliable")(Pin.unpin(l))
    assert(rdd.getStorageLevel == StorageLevel.NONE,
      "localCheckpoint blocks leaked after a flipped unpin")
  }

  test("syncOnce converges to the same target state and cursor under " +
    "every pin mode") {
    import spark.implicits._
    val batch = Seq(
      (1L, "a", 100L, false),
      (2L, "b", 110L, false),
      (2L, "b2", 120L, false),
      (3L, "c", 130L, true))
      .toDF("id", "name", "cur", "is_deleted")
    val schema = batch.schema
    def run(m: String): (Long, Seq[(Long, String, Long)]) = withMode(m) {
      val url = s"jdbc:derby:memory:pins$m${System.nanoTime};create=true"
      JdbcExec.withConnection(url) { conn =>
        JdbcExec.ensureTable(conn, "p_tgt", schema, Seq("id"),
          JdbcExec.dialectFor(url))
      }
      val c = JdbcExec.syncOnce(spark, url, "p_tgt", Seq("id"), "p_state",
        "p", _ => batch, "cur", "is_deleted", batchSize = 10)
      assert(new JdbcCursorStore(url, "p_state").get("p").contains(c))
      (c, JdbcExec.readTable(spark, url, "p_tgt").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1))
    }
    val ref = run("local")
    assert(ref._1 == 130L &&
      ref._2 == Seq((1L, "a", 100L), (2L, "b2", 120L)))
    assert(run("reliable") == ref)
  }

  test("the iterative min-label CC (per-round pinned labels) is " +
    "mode-invariant (reliable == default)") {
    val base = SparkEntry.queries("j_dedup_clusters")(spark, sfDir)
      .collect().toSeq
    Caches.release(spark)
    val rel = withMode("reliable") {
      SparkEntry.queries("j_dedup_clusters")(spark, sfDir).collect().toSeq
    }
    Caches.release(spark)
    assert(rel == base && base.nonEmpty)
  }

  test("the pipeline audit is mode-invariant (reliable == default)") {
    // call the COMPUTATION directly (r18: the registry entry reads the
    // stored per-session ledger table, so a second entry call would no
    // longer exercise the pins this test is about)
    import graft.operators.CorpusPipeline
    def run() = CorpusPipeline.audit(spark,
      Par.spread(Tables.documents(spark, sfDir)), Some("heuristic"))
      .collect().toSeq
    val base = run()
    Caches.release(spark)
    val rel = withMode("reliable")(run())
    Caches.release(spark)
    assert(rel == base && base.nonEmpty)
  }
}
