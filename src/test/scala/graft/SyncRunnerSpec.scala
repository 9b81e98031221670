package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.sources.{JdbcCursorStore, JdbcExec}
import graft.sources.v2.{InMemoryEndpoint, SoqlEndpoints, SoqlScan}

/** The one runner behind both load paths of [[JdbcExec]]: each write is
  * ONE Spark job run through `SparkContext.runJob` inside its own SQL
  * execution, and the function the job ships is a named class, so the
  * ClosureCleaner parses no class file for it. Checked on a small sync
  * (the one-task path), an overflowing sync (the one-task attempt, the
  * pin, then the parallel load) and a full sync (the parallel load
  * straight from the source), all from the `graft-soql` source into
  * Derby, and on an endpoint with no pages.
  */
class SyncRunnerSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("cur", LongType),
    StructField("is_deleted", BooleanType)))

  private val writeNames = Set("graft.load", "graft.loadInOneTask")

  /** `n` versions of 7 keys, cursors 100 to 99 + n, every fifth a
    * tombstone. */
  private def rows(n: Int): Seq[Seq[Any]] =
    (0 until n).map(i => Seq(i % 7L, s"v$i", 100L + i, i % 5 == 0))

  /** What one sync looked like to Spark. */
  private final case class Seen(
      writeJobs: Seq[(String, Option[String])], // call site, execution id
      tasks: Map[String, Int],                  // call site -> tasks run
      executions: Seq[(String, QueryExecution)],
      notClosures: Seq[String],                 // classes clean() skipped
      closures: Seq[String])                    // lambdas clean() cleaned

  /** Runs `body` under a job listener, a query-execution listener and a
    * DEBUG appender on Spark's ClosureCleaner, whose log names every
    * object `SparkContext.clean` is handed: a class that is not a
    * closure is skipped ("Expected a closure; got <class>"), a lambda is
    * cleaned ("Cleaning indylambda closure: <method>"). */
  private def observe(body: => Unit): Seen = {
    val jobs = new ConcurrentLinkedQueue[(Int, String, Option[String])]()
    val stageSite = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val taskSites = new ConcurrentLinkedQueue[String]()
    val execs = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val lines = new ConcurrentLinkedQueue[String]()
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
        e.stageInfos.foreach(s => stageSite.put(s.stageId, s.name))
        jobs.add((e.jobId, site, Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        taskSites.add(stageSite.getOrDefault(e.stageId, ""))
    }
    val qeListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = execs.add((f, qe))
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = execs.add((f, qe))
    }
    // the session first: starting it may replace the logging configuration
    val sc = spark.sparkContext
    val logName = "org.apache.spark.util.ClosureCleaner"
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val appender = new AbstractAppender("graft-closures", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    val logger = new LoggerConfig(logName, Level.DEBUG, false)
    logger.addAppender(appender, Level.DEBUG, null)
    cfg.addLogger(logName, logger)
    ctx.updateLoggers()
    try {
      body
      org.apache.spark.GraftTestBus.waitUntilEmpty(sc)
    } finally {
      cfg.removeLogger(logName)
      ctx.updateLoggers()
      appender.stop()
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(jobListener)
    }
    def isWrite(site: String) = site.contains("JdbcExec.scala")
    val got = lines.asScala.toSeq
    Seen(
      jobs.asScala.toSeq.sortBy(_._1).collect { case (_, s, id) if isWrite(s) => (s, id) },
      taskSites.asScala.toSeq.filter(isWrite).groupBy(identity).map { case (k, v) => k -> v.size },
      execs.asScala.toSeq.filter { case (f, _) => writeNames(f) },
      got.collect { case l if l.startsWith("Expected a closure; got ") =>
        l.stripPrefix("Expected a closure; got ") },
      got.filter(l => l.startsWith("Cleaning indylambda closure") ||
        l.startsWith("+++ Cleaning closure")))
  }

  private object Plans extends AdaptiveSparkPlanHelper

  /** The `graft-soql` scans of an execution's physical plan. */
  private def soqlScans(qe: QueryExecution): Seq[SoqlScan] =
    Plans.collect(qe.executedPlan) { case b: BatchScanExec => b.scan }
      .collect { case s: SoqlScan => s }

  /** Every write job ran inside a SQL execution that a query-execution
    * listener saw under a write's name: one execution per write. */
  private def assertOneExecutionPerWrite(seen: Seen, writes: Seq[String]): Unit = {
    assert(seen.writeJobs.nonEmpty, "no write job was seen")
    seen.writeJobs.foreach { case (site, id) =>
      assert(id.isDefined, s"write job at $site carries no spark.sql.execution.id")
    }
    assert(seen.executions.map(_._1) == writes, seen.executions.map(_._1))
    assert(seen.writeJobs.flatMap(_._2).distinct.size == writes.size,
      s"${writes.size} writes ran jobs in executions ${seen.writeJobs.flatMap(_._2)}")
  }

  /** The function each write handed to `runJob` is a named class, and
    * no lambda of the write path reached the ClosureCleaner: not
    * `RDD.foreachPartition`'s or `SparkContext.runJob`'s wrapper, not
    * `Dataset.rdd`'s conversion, not one of [[JdbcExec]]'s own. */
  private def assertNamedWrites(seen: Seen, classes: Seq[String]): Unit = {
    assert(seen.notClosures == classes, seen.notClosures)
    seen.notClosures.foreach { c =>
      assert(!c.contains("$Lambda") && !c.contains("$anonfun$"), c)
    }
    val writeLambdas = Seq("$anonfun$foreachPartition", "$anonfun$runJob",
      "$anonfun$materializedRdd", "$anonfun$load")
    assert(!seen.closures.exists(c => writeLambdas.exists(c.contains)), seen.closures)
  }

  /** Only the physical operators' own lambdas were cleaned (the v2
    * scan's row counter and whole-stage codegen's partition function). */
  private def assertOnlyPlanLambdas(seen: Seen): Unit =
    assert(seen.closures.forall(_.contains("$anonfun$doExecute$")), seen.closures)

  private val oneTask = "graft.sources.JdbcExec$OneTaskWrite"
  private val runs = "graft.sources.JdbcExec$RunsWrite"

  test("a small sync's write is one job in one SQL execution over the " +
    "SoqlScan, and ships a named class the ClosureCleaner skips") {
    val url = s"jdbc:derby:memory:runner${System.nanoTime};create=true"
    SoqlEndpoints.register("runner_small", InMemoryEndpoint(schema, rows(20)))
    def sync(): Long = Pipeline.syncOnceV2(spark, url, "runner_small",
      Seq("id"), "cur", "is_deleted", stateTable = "runner_state")
    val seen = observe(assert(sync() == 119L))
    assertOneExecutionPerWrite(seen, Seq("graft.loadInOneTask"))
    assert(seen.writeJobs.size == 1, seen.writeJobs)
    assert(soqlScans(seen.executions.head._2).size == 1,
      seen.executions.head._2.executedPlan)
    assertNamedWrites(seen, Seq(oneTask))
    assertOnlyPlanLambdas(seen)
    // the latest-wins rows of 7 keys, less the tombstoned ones
    val target = JdbcExec.readTable(spark, url, "runner_small_tgt").collect()
    assert(target.map(_.getLong(0)).sorted.toSeq ==
      rows(20).groupBy(_.head).values.map(_.maxBy(_(2).asInstanceOf[Long]))
        .filterNot(_(3) == true).map(_.head.asInstanceOf[Long]).toSeq.sorted)
  }

  test("an overflowing sync runs its one-task attempt and its load as " +
    "two writes, each one SQL execution and one named class") {
    val url = s"jdbc:derby:memory:runnerov${System.nanoTime};create=true"
    SoqlEndpoints.register("runner_over", InMemoryEndpoint(schema, rows(30)))
    def sync(): Long = Pipeline.syncOnceV2(spark, url, "runner_over",
      Seq("id"), "cur", "is_deleted", stateTable = "runner_state",
      batchSize = 8)
    val seen = observe(assert(sync() == 129L))
    assertOneExecutionPerWrite(seen, Seq("graft.loadInOneTask", "graft.load"))
    val Seq(attempt, load) = seen.executions.map(_._2)
    // the attempt reads the source; the load reads the pin's snapshot
    assert(soqlScans(attempt).size == 1, attempt.executedPlan)
    assert(soqlScans(load).isEmpty, load.executedPlan)
    assertNamedWrites(seen, Seq(oneTask, runs))
    assert(new JdbcCursorStore(url, "runner_state").get("runner_over")
      .contains(129L))
  }

  test("a full sync's parallel load is one SQL execution over the " +
    "SoqlScan and ships a named class") {
    val url = s"jdbc:derby:memory:runnerfull${System.nanoTime};create=true"
    SoqlEndpoints.register("runner_full", InMemoryEndpoint(schema, rows(30)))
    val sync = Pipeline.ObjectSync("runner_full_tgt",
      s => s.read.format("graft-soql").option("object", "runner_full").load(),
      "id", "cur", deleteField = Some("is_deleted"))
    var live = -1L
    val seen = observe { live = Pipeline.fullSync(spark, url, sync, batchSize = 8) }
    assert(live == JdbcExec.readTable(spark, url, "runner_full_tgt").count())
    assert(live > 0)
    assertOneExecutionPerWrite(seen, Seq("graft.load"))
    assert(soqlScans(seen.executions.head._2).size == 1,
      seen.executions.head._2.executedPlan)
    assertNamedWrites(seen, Seq(runs))
    assertOnlyPlanLambdas(seen)
  }

  test("an endpoint with no pages: both load paths run tasks only on " +
    "partitions that exist and write nothing") {
    val url = s"jdbc:derby:memory:runnernone${System.nanoTime};create=true"
    SoqlEndpoints.register("runner_none",
      InMemoryEndpoint(schema, rows(30), pageCount = 0))
    var cursor = 0L
    val small = observe {
      cursor = Pipeline.syncOnceV2(spark, url, "runner_none", Seq("id"),
        "cur", "is_deleted", stateTable = "runner_state")
    }
    assert(cursor == Long.MinValue)
    assert(new JdbcCursorStore(url, "runner_state").get("runner_none").isEmpty)
    // coalesce(1) of no partitions is one empty partition: one task
    assert(small.tasks.values.sum == 1, small.tasks)
    assertOneExecutionPerWrite(small, Seq("graft.loadInOneTask"))
    assertNamedWrites(small, Seq(oneTask))
    val full = observe {
      assert(Pipeline.fullSync(spark, url, Pipeline.ObjectSync("runner_none_tgt",
        s => s.read.format("graft-soql").option("object", "runner_none").load(),
        "id", "cur", deleteField = Some("is_deleted")), batchSize = 8) == 0L)
    }
    // the load's exchange of no rows is read by at most one task
    assert(full.tasks.values.sum <= 1, full.tasks)
    assertOneExecutionPerWrite(full, Seq("graft.load"))
    assertNamedWrites(full, Seq(runs))
    assert(JdbcExec.readTable(spark, url, "runner_none_tgt").count() == 0)
  }
}
