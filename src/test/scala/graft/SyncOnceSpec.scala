package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{JdbcCursorStore, JdbcExec}

/** The fused write of [[JdbcExec.syncOnce]]: after the pin, ONE Spark
  * action upserts each partition's live rows and deletes its tombstoned
  * keys in one transaction, and tallies the row count and the max
  * cursor. A pull larger than `batchSize` commits the cursor last, on
  * its own connection; a pull within one batch is one write task whose
  * transaction also commits the cursor. Latest-wins picks the same
  * survivor whatever the input order.
  */
class SyncOnceSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("cur", LongType),
    StructField("is_deleted", BooleanType)))

  private def withConf[A](key: String, value: String)(body: => A): A = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def createTarget(url: String, table: String): Unit =
    JdbcExec.withConnection(url) { conn =>
      JdbcExec.ensureTable(conn, table, schema, Seq("id"),
        JdbcExec.dialectFor(url))
    }

  private type Ev = (Long, String, Long, Option[Boolean])

  test("one fused write over several shuffle partitions lands the " +
    "latest-wins model: live, dead, re-created and null-flag keys") {
    val url = s"jdbc:derby:memory:fused${System.nanoTime};create=true"
    createTarget(url, "f_tgt")
    val base: Seq[Ev] = (1L to 40L).map(i => (i, s"v$i", i, Some(false)))
    val delta: Seq[Ev] =
      (1L to 10L).map(i => (i, s"u$i", 100 + i, Some(false))) ++  // updated
      (11L to 15L).map(i => (i, s"d$i", 100 + i, Some(true))) ++  // deleted
      (16L to 20L).flatMap(i => Seq(                              // deleted, then re-created
        (i, s"x$i", 120 + i, Some(true)), (i, s"r$i", 140 + i, Some(false)))) ++
      (21L to 25L).flatMap(i => Seq(                              // updated, then deleted
        (i, s"y$i", 160 + i, Some(false)), (i, s"z$i", 180 + i, Some(true)))) ++
      (26L to 28L).map(i => (i, s"n$i", 200 + i, None)) ++        // null flag: neither route
      (41L to 60L).map(i => (i, s"i$i", 220 + i, Some(false))) ++ // inserted
      Seq((61L, "gone", 300L, Some(true)))                        // deleted, never seen
    // the generator's model: latest version per key decides
    def model(events: Seq[Ev], start: Map[Long, (String, Long)]) =
      events.groupBy(_._1).values.map(_.maxBy(_._3)).foldLeft(start) {
        case (m, (id, _, _, Some(true))) => m - id
        case (m, (id, name, cur, Some(false))) => m + (id -> (name, cur))
        case (m, _) => m
      }
    def frame(events: Seq[Ev]) =
      events.toDF("id", "name", "cur", "is_deleted").repartition(3)
    def sync(events: Seq[Ev]): Long = JdbcExec.syncOnce(spark, url, "f_tgt",
      Seq("id"), "f_state", "f", past => frame(events).filter($"cur" > past),
      "cur", "is_deleted", batchSize = 4)
    def target: Map[Long, (String, Long)] =
      JdbcExec.readTable(spark, url, "f_tgt").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap

    withConf("spark.sql.adaptive.enabled", "false") {
      // the window exchange hash-partitions by id into 4 partitions; the
      // delta must reach at least two of them
      val parts = frame(delta).select(pmod(hash($"id"), lit(4))).distinct().count()
      assert(parts >= 2, s"delta spans $parts shuffle partition(s)")
      assert(sync(base) == 40L)
      val afterBase = model(base, Map.empty)
      assert(target == afterBase)
      assert(sync(base ++ delta) == 300L)
      assert(new JdbcCursorStore(url, "f_state").get("f").contains(300L))
      val want = model(delta, afterBase)
      assert(target == want)
      // spot checks of each route
      assert(want(16L) == (("r16", 156L)) && !want.contains(21L) &&
        want(26L) == (("v26", 26L)) && !want.contains(61L))
    }
  }

  test("a fault on a partition's tombstone DELETE rolls back that " +
    "partition's upsert too; the cursor holds; a replay converges") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/fd${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    createTarget(url, "fd_tgt")
    val batch = Seq(
      (1L, "a", 100L, false),
      (2L, "b", 110L, false),
      (3L, "c", 120L, true))
      .toDF("id", "name", "cur", "is_deleted").coalesce(1)
    // one shuffle partition: all three keys share one write transaction.
    // The 3-row pull is larger than batchSize = 2, so it takes the
    // parallel load with the cursor last (its one-task twin follows)
    def sync(): Long = withConf("spark.sql.shuffle.partitions", "1") {
      JdbcExec.syncOnce(spark, url, "fd_tgt", Seq("id"), "fd_state", "fd",
        _ => batch, "cur", "is_deleted", batchSize = 2)
    }

    db.failOnce = Some("DELETE FROM \"fd_tgt\"")
    intercept[Exception](sync())
    val ev1 = db.seq
    val iFail = ev1.indexWhere(_.contains("FAIL-INJECTED"))
    assert(iFail >= 0, s"injection never fired: $ev1")
    val failConn = ev1(iFail).split(" ")(0)
    val onConn = ev1.filter(_.startsWith(s"$failConn "))
    val iUp = onConn.indexWhere(_.contains("executeBatch: INSERT INTO \"fd_tgt\""))
    val iDel = onConn.indexWhere(_.contains("FAIL-INJECTED"))
    assert(iUp >= 0 && iUp < iDel,
      s"the partition's upsert did not run before its DELETE on one connection: $onConn")
    assert(onConn.exists(_.endsWith("rollback")), onConn)
    assert(!onConn.exists(_.endsWith("commit")),
      s"the failed partition transaction committed: $onConn")
    assert(!ev1.exists(e => e.contains("executeUpdate[INSERT INTO \"fd_state\"") ||
      e.contains("executeUpdate[UPDATE \"fd_state\"")),
      s"cursor touched after a failed load:\n${ev1.mkString("\n")}")
    assert(!db.cursors.containsKey("fd"))

    val before = db.seq.size
    assert(sync() == 120L)
    assert(db.cursors.get("fd") == 120L)
    val replay = db.seq.drop(before)
    // the replay binds the same keyed statements the failed attempt had
    def binds(evs: Seq[String], stmt: String) =
      evs.filter(_.contains(s"bind[$stmt")).map(_.split(" ", 2)(1)).sorted
    val upsert = "INSERT INTO \"fd_tgt\""
    assert(binds(replay, upsert) == binds(ev1, upsert) &&
      binds(replay, upsert).size == 2, replay)
    // the tombstone binds its key, then its cursor
    assert(binds(replay, "DELETE FROM \"fd_tgt\"").map(_.takeRight(7)) ==
      Seq("(3,120)"), replay)
    // and it all lands as one committed transaction
    val loadConn = replay.find(_.contains(s"executeBatch: $upsert")).get.split(" ")(0)
    val onLoad = replay.filter(_.startsWith(s"$loadConn "))
    val order = Seq[String => Boolean](_.contains(s"executeBatch: $upsert"),
      _.contains("executeBatch: DELETE FROM"), _ == s"$loadConn commit")
      .map(p => onLoad.indexWhere(p))
    assert(order.forall(_ >= 0) && order == order.sorted, onLoad)
  }

  test("a fault before the commit of a pull within one batch leaves both " +
    "the rows and the cursor unwritten; a replay converges") {
    val url = s"jdbc:derby:memory:fone${System.nanoTime};create=true"
    createTarget(url, "fo_tgt")
    def sync(events: Seq[Ev]): Long = JdbcExec.syncOnce(spark, url, "fo_tgt",
      Seq("id"), "fo_state", "fo",
      past => events.toDF("id", "name", "cur", "is_deleted").filter($"cur" > past),
      "cur", "is_deleted")
    def target: Map[Long, (String, Long)] =
      JdbcExec.readTable(spark, url, "fo_tgt").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val cursors = new JdbcCursorStore(url, "fo_state")
    val seed = Seq[Ev]((3L, "c0", 50L, Some(false)))
    assert(sync(seed) == 50L && target == Map(3L -> (("c0", 50L))))
    // the state table refuses a cursor of 100 or more: the cursor UPDATE,
    // the last statement before the commit, fails inside the write task
    def constraint(sql: String): Unit = JdbcExec.withConnection(url) { conn =>
      val st = conn.createStatement()
      try st.execute(s"""ALTER TABLE "fo_state" $sql""") finally st.close()
    }
    constraint("""ADD CONSTRAINT fo_cap CHECK ("cursor_val" < 100)""")
    val delta = seed ++ Seq[Ev](
      (1L, "a", 100L, Some(false)), (2L, "b", 110L, Some(false)),
      (3L, "c", 120L, Some(true)))
    intercept[Exception](sync(delta))
    // the upserts of 1 and 2 and the DELETE of 3 rolled back with it
    assert(target == Map(3L -> (("c0", 50L))))
    assert(cursors.get("fo").contains(50L))
    // the fault gone, the held cursor re-pulls the same rows
    constraint("DROP CONSTRAINT fo_cap")
    assert(sync(delta) == 120L)
    assert(cursors.get("fo").contains(120L))
    assert(target == Map(1L -> (("a", 100L)), 2L -> (("b", 110L))))
  }

  test("an empty pull opens no write connection and writes no cursor") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/fe${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    createTarget(url, "fe_tgt")
    new JdbcCursorStore(url, "fe_state").init()
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    def sync(): Long = JdbcExec.syncOnce(spark, url, "fe_tgt", Seq("id"),
      "fe_state", "fe", _ => empty, "cur", "is_deleted")
    for (stored <- Seq(None, Some(500L))) {
      stored.foreach(db.cursors.put("fe", _))
      val before = db.seq.size
      assert(sync() == stored.getOrElse(Long.MinValue))
      val ev = db.seq.drop(before)
      // one connection: the cursor read, and nothing but the read on it
      assert(ev.map(_.split(" ")(0)).distinct.size == 1, ev)
      assert(ev.exists(_.contains("executeQuery[SELECT \"cursor_val\"")), ev)
      assert(!ev.exists(e => e.contains("execute") && !e.contains("executeQuery")), ev)
      assert(!ev.exists(e => e.endsWith(" commit") || e.contains("setAutoCommit")), ev)
      assert((if (db.cursors.containsKey("fe")) Some(db.cursors.get("fe"))
              else None) == stored)
    }
  }

  test("a pull whose cursor values are all null fails loudly and " +
    "commits no cursor") {
    val url = s"jdbc:derby:memory:fnull${System.nanoTime};create=true"
    createTarget(url, "fn_tgt")
    val batch = Seq[Ev]((1L, "a", 0L, Some(false)), (2L, "b", 0L, Some(false)))
      .toDF("id", "name", "cur", "is_deleted")
      .withColumn("cur", lit(null).cast(LongType))
    val err = intercept[IllegalStateException] {
      JdbcExec.syncOnce(spark, url, "fn_tgt", Seq("id"), "fn_state", "fn",
        _ => batch, "cur", "is_deleted")
    }
    assert(err.getMessage.contains("null"), err.getMessage)
    assert(new JdbcCursorStore(url, "fn_state").get("fn").isEmpty)
  }

  test("one non-empty syncOnce in the default pin mode submits at most " +
    "2 Spark jobs") {
    assert(Pin.mode(spark) == "local")
    val url = s"jdbc:derby:memory:fjobs${System.nanoTime};create=true"
    createTarget(url, "fj_tgt")
    val batch = Seq(
      (1L, "a", 100L, false),
      (2L, "b", 110L, false),
      (2L, "b2", 120L, false),
      (3L, "c", 130L, true))
      .toDF("id", "name", "cur", "is_deleted")
    val group = s"syncOnce-jobs-${System.nanoTime}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null &&
            j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one syncOnce")
      val c = try JdbcExec.syncOnce(spark, url, "fj_tgt", Seq("id"),
        "fj_state", "fj", _ => batch, "cur", "is_deleted")
      finally sc.clearJobGroup()
      org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
      assert(c == 130L)
      // the pin and the one write task's job: a 4-row pull plans no
      // exchange, so no shuffle-map job
      assert(jobs.get() >= 1 && jobs.get() <= 2,
        s"one syncOnce submitted ${jobs.get()} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }

  test("rows equal in (pk, cursor, flag) with different payloads land " +
    "the same survivor in either input order") {
    val rows: Seq[Ev] = Seq(
      (1L, "payload_a", 100L, Some(false)), (1L, "payload_b", 100L, Some(false)))
    def survivor(in: Seq[Ev]): Seq[String] = {
      val url = s"jdbc:derby:memory:ftie${System.nanoTime};create=true"
      createTarget(url, "ft_tgt")
      withConf("spark.sql.shuffle.partitions", "1") {
        JdbcExec.syncOnce(spark, url, "ft_tgt", Seq("id"), "ft_state", "ft",
          _ => in.toDF("id", "name", "cur", "is_deleted").coalesce(1),
          "cur", "is_deleted")
      }
      JdbcExec.readTable(spark, url, "ft_tgt").collect().map(_.getString(1)).toSeq
    }
    val fwd = survivor(rows)
    val rev = survivor(rows.reverse)
    assert(fwd.size == 1 && fwd == rev, s"survivor depends on input order: $fwd vs $rev")
  }
}
