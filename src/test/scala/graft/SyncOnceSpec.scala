package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.types._
import graft.sources.{JdbcCursorStore, JdbcExec}

/** The fused write of [[JdbcExec.syncOnce]]: ONE Spark action upserts
  * each partition's live rows and deletes its tombstoned keys in one
  * transaction, and tallies the row count and the max cursor. A pull
  * within one batch is one task, straight from the source, whose
  * transaction also commits the cursor; a pull larger than `batchSize`
  * overflows that task with nothing written, is pinned and loaded in
  * parallel, and commits the cursor last, on its own connection.
  * Latest-wins picks the same survivor whatever the input order.
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

  test("a pull that carries the reserved tiebreak column fails loudly, " +
    "writes nothing and commits no cursor") {
    val url = s"jdbc:derby:memory:ftie${System.nanoTime};create=true"
    createTarget(url, "ft_tgt")
    val batch = Seq[Ev]((1L, "a", 100L, Some(false)))
      .toDF("id", "name", "cur", "is_deleted")
      .withColumn(JdbcExec.TiebreakColumn.toUpperCase, lit(7L))
    val err = intercept[IllegalArgumentException] {
      JdbcExec.syncOnce(spark, url, "ft_tgt", Seq("id"), "ft_state", "ft",
        _ => batch, "cur", "is_deleted")
    }
    assert(err.getMessage.contains(JdbcExec.TiebreakColumn), err.getMessage)
    assert(JdbcExec.readTable(spark, url, "ft_tgt").count() == 0)
    assert(new JdbcCursorStore(url, "ft_state").get("ft").isEmpty)
  }

  test("one syncOnce of a non-empty pull within one batch submits " +
    "exactly 1 Spark job") {
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
      // the one write task's job: no pin job, and a 4-row pull plans no
      // exchange, so no shuffle-map job
      assert(jobs.get() == 1, s"one syncOnce submitted ${jobs.get()} Spark jobs")
    } finally sc.removeSparkListener(listener)
  }

  /** The executed physical plans of every query `body` runs, each
    * flattened through its adaptive stages. */
  private def executedPlans(body: => Unit): Seq[Seq[SparkPlan]] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftTestBus.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    object Nodes extends AdaptiveSparkPlanHelper
    plans.asScala.toSeq.map(p => Nodes.collect(p) { case n => n })
  }

  test("a pull within one batch plans no window, sort, exchange or " +
    "typed map; an overflowing one plans one exchange, on the pk, and " +
    "no window") {
    val url = s"jdbc:derby:memory:fplan${System.nanoTime};create=true"
    createTarget(url, "fp_tgt")
    var source: Seq[Ev] = Seq((1L, "a", 100L, Some(false)),
      (2L, "b", 110L, Some(false)), (1L, "a2", 120L, Some(false)))
    def sync(): Long = JdbcExec.syncOnce(spark, url, "fp_tgt", Seq("id"),
      "fp_state", "fp",
      past => source.toDF("id", "name", "cur", "is_deleted").filter($"cur" > past),
      "cur", "is_deleted", batchSize = 3)
    def names(plan: Seq[SparkPlan]): Seq[String] = plan.map(_.nodeName)
    def window(n: String): Boolean = n.startsWith("Window")

    val within = executedPlans(assert(sync() == 120L))
    assert(within.nonEmpty, "no plan was captured")
    within.map(names).foreach { ns =>
      assert(!ns.exists(n => window(n) || n == "Sort" || n.contains("Exchange") ||
        n == "MapPartitions"), ns.mkString(" <- "))
    }

    source = source ++ Seq[Ev]((3L, "c", 130L, Some(false)),
      (2L, "b2", 140L, Some(true)), (4L, "d", 150L, Some(false)),
      (3L, "c2", 160L, Some(false)))
    val over = executedPlans(assert(sync() == 160L))
    assert(!over.flatMap(names).exists(window), over.map(names))
    val exchanges = over.flatten.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, over.map(names))
    exchanges.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)) == Seq("id"), h)
      case other => fail(s"the exchange partitions by $other, not the pk")
    }
    assert(JdbcExec.readTable(spark, url, "fp_tgt").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap ==
      Map(1L -> "a2", 3L -> "c2", 4L -> "d"))
  }

  test("pulls of exactly batchSize and of batchSize + 1 rows both land " +
    "the latest-wins model") {
    val url = s"jdbc:derby:memory:fbound${System.nanoTime};create=true"
    createTarget(url, "fb_tgt")
    val batchSize = 6
    // 6 rows over 4 keys: an update of 1, a tombstone of 3, a null flag
    val within: Seq[Ev] = Seq(
      (1L, "a", 10L, Some(false)), (2L, "b", 11L, Some(false)),
      (1L, "a2", 12L, Some(false)), (3L, "c", 13L, Some(false)),
      (3L, "c", 14L, Some(true)), (4L, "d", 15L, None))
    // 7 rows: updates of 1 and 2, a re-creation of 3, a tombstone of 4,
    // and inserts of 5 (twice) and 6
    val over: Seq[Ev] = Seq(
      (2L, "b2", 20L, Some(false)), (3L, "c2", 21L, Some(false)),
      (5L, "e", 22L, Some(false)), (1L, "a3", 16L, Some(false)),
      (5L, "e2", 23L, Some(false)), (4L, "d2", 24L, Some(true)),
      (6L, "f", 25L, Some(false)))
    assert(within.size == batchSize && over.size == batchSize + 1)
    var source = within
    def sync(): Long = JdbcExec.syncOnce(spark, url, "fb_tgt", Seq("id"),
      "fb_state", "fb",
      past => source.toDF("id", "name", "cur", "is_deleted").filter($"cur" > past),
      "cur", "is_deleted", batchSize = batchSize)
    def target: Map[Long, (String, Long)] =
      JdbcExec.readTable(spark, url, "fb_tgt").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(sync() == 15L)
    assert(target == Map(1L -> (("a2", 12L)), 2L -> (("b", 11L))))
    source = within ++ over
    assert(sync() == 25L)
    assert(new JdbcCursorStore(url, "fb_state").get("fb").contains(25L))
    assert(target == Map(1L -> (("a3", 16L)), 2L -> (("b2", 20L)),
      3L -> (("c2", 21L)), 5L -> (("e2", 23L)), 6L -> (("f", 25L))))
  }

  test("a pull within one batch commits once, on its load connection; " +
    "a larger one writes nothing in its one-task attempt and commits " +
    "its cursor last, on its own connection") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/fov${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    createTarget(url, "fv_tgt")
    var source: Seq[Ev] = Seq((1L, "a", 100L, Some(false)), (2L, "b", 110L, Some(false)))
    def sync(): Long = withConf("spark.sql.shuffle.partitions", "1") {
      JdbcExec.syncOnce(spark, url, "fv_tgt", Seq("id"), "fv_state", "fv",
        past => source.toDF("id", "name", "cur", "is_deleted").filter($"cur" > past),
        "cur", "is_deleted", batchSize = 2)
    }
    def conns(ev: Seq[String]): Seq[String] = ev.map(_.split(" ")(0)).distinct
    def writers(ev: Seq[String]): Seq[String] =
      ev.filter(_.endsWith(" setAutoCommit(false)")).map(_.split(" ")(0))

    val before1 = db.seq.size
    assert(sync() == 110L && db.cursors.get("fv") == 110L)
    val ev1 = db.seq.drop(before1)
    // the cursor read, then one write connection whose one commit
    // carries the rows and the cursor
    assert(conns(ev1).size == 2 && writers(ev1).size == 1, ev1.mkString("\n"))
    val load1 = writers(ev1).head
    assert(ev1.filter(_.endsWith(" commit")) == Seq(s"$load1 commit"), ev1.mkString("\n"))
    val on1 = ev1.filter(_.startsWith(s"$load1 "))
    assert(on1.indexWhere(_.contains("executeBatch: INSERT INTO \"fv_tgt\"")) <
      on1.indexWhere(_.contains("executeUpdate[INSERT INTO \"fv_state\"")), on1)

    // 3 rows past the cursor > batchSize = 2
    source = source ++ Seq[Ev]((3L, "c", 120L, Some(false)),
      (1L, "a2", 130L, Some(false)), (2L, "b", 140L, Some(true)))
    val before2 = db.seq.size
    assert(sync() == 140L && db.cursors.get("fv") == 140L)
    val ev2 = db.seq.drop(before2)
    // the cursor read, the one partition's load, the cursor: the
    // overflowing attempt opened no connection
    assert(conns(ev2).size == 3, ev2.mkString("\n"))
    val Seq(load2, cur2) = writers(ev2)
    assert(ev2.filter(_.endsWith(" commit")) == Seq(s"$load2 commit", s"$cur2 commit"),
      ev2.mkString("\n"))
    assert(!ev2.exists(e => e.startsWith(s"$load2 ") && e.contains("fv_state")),
      ev2.mkString("\n"))
    val onCur = ev2.filter(_.startsWith(s"$cur2 "))
    assert(onCur.exists(_.contains("executeUpdate[UPDATE \"fv_state\"")) &&
      !onCur.exists(_.contains("fv_tgt")), onCur)
    // every upsert and delete of the pull was bound once, on the load
    assert(ev2.filter(_.contains("bind[INSERT INTO \"fv_tgt\"")).map(_.split("\\] ").last)
      .sorted == Seq("(1,a2,130,false)", "(3,c,120,false)"), ev2.mkString("\n"))
    assert(ev2.filter(_.contains("bind[DELETE FROM \"fv_tgt\"")).map(_.takeRight(7)) ==
      Seq("(2,140)"), ev2.mkString("\n"))
  }

  test("the one-task attempt reads at most batchSize + 1 rows of a pull " +
    "that overflows it") {
    val url = s"jdbc:derby:memory:fread${System.nanoTime};create=true"
    createTarget(url, "fr_tgt")
    val batchSize = 5
    val total = 10 * batchSize
    val drawn = spark.sparkContext.longAccumulator("rows drawn")
    def source = spark.sparkContext.parallelize(Seq(0), 1)
      .flatMap(_ => (1L to total.toLong).iterator.map { i => drawn.add(1); i })
      .toDF("id")
      .withColumn("name", concat(lit("v"), $"id".cast(StringType)))
      .withColumn("cur", $"id")
      .withColumn("is_deleted", lit(false))
    // rows drawn so far, read at each pull: the one-task attempt's draw
    // is complete before the fallback pulls again
    val drawnAtPull = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sync(): Long = JdbcExec.syncOnce(spark, url, "fr_tgt", Seq("id"),
      "fr_state", "fr", past => {
        drawnAtPull += drawn.sum
        source.filter($"cur" > past)
      }, "cur", "is_deleted", batchSize = batchSize)
    assert(sync() == total.toLong)
    // two pulls: the bounded attempt, then the pinned one
    val Seq(atFirst, atSecond) = drawnAtPull.toSeq
    assert(atFirst == 0L)
    assert(atSecond <= batchSize + 1,
      s"the one-task attempt drew $atSecond rows, more than ${batchSize + 1}")
    assert(JdbcExec.readTable(spark, url, "fr_tgt").count() == total)
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
