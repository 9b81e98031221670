package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode
import graft.sources.v2.{InMemoryEndpoint, SoqlEndpoints}

/** The DSv2 extract shell (SURVEY §2.N): describe-driven schema,
  * SOQL-rendered filter/column pushdown, page-parallel reads, and the
  * Pipeline lifecycle running through the source — all against the
  * parquet-fed in-memory endpoint fake.
  */
class Dsv2SourceSpec extends SparkSpec {

  private lazy val eventsDf = Tables.eventsWithNanos(spark, sfDir)
    .withColumn("ts_us", expr("ts_ns div 1000"))
    .select("event_id", "ts_us", "user_id", "event_type", "value")

  private def registerEvents(): Unit =
    SoqlEndpoints.register("events_api",
      InMemoryEndpoint(eventsDf.schema,
        eventsDf.collect().map(_.toSeq).toSeq))

  private def sourceDf = spark.read.format("graft-soql")
    .option("object", "events_api").load()

  test("describe() drives schema inference and a full read round-trips") {
    registerEvents()
    val df = sourceDf
    assert(df.schema.map(f => (f.name, f.dataType)) ==
      eventsDf.schema.map(f => (f.name, f.dataType)))
    assert(df.count() == eventsDf.count())
    // page-parallel: the scan yields one task per endpoint page
    assert(df.rdd.getNumPartitions == 4)
  }

  test("cursor predicate and column pruning reach the SOQL scan " +
    "(the incremental-extract shape, pushed to the remote API)") {
    registerEvents()
    val mid = eventsDf.selectExpr("percentile(ts_us, 0.5)").head()
      .getDouble(0).toLong
    val df = sourceDf.filter(col("ts_us") > mid).select("event_id", "ts_us")
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("SELECT event_id, ts_us FROM events_api"), plan)
    assert(plan.contains(s"ts_us > $mid"), plan)
    val expected = eventsDf.filter(col("ts_us") > mid)
    assert(df.count() == expected.count() && df.count() > 0)
    assert(df.select("event_id").collect().map(_.getLong(0)).toSet ==
      expected.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("predicates the endpoint cannot translate stay in Spark as " +
    "residual filters with correct results") {
    registerEvents()
    val df = sourceDf.filter(col("event_type").startsWith("cl"))
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    // StringStartsWith is rejected by the endpoint → not in the SOQL,
    // still applied by Spark above the scan
    assert(!plan.contains("event_type LIKE"), plan)
    assert(df.count() ==
      eventsDf.filter(col("event_type").startsWith("cl")).count())
  }

  test("pushed LIMIT reaches the SOQL as a per-page cap") {
    registerEvents()
    val df = sourceDf.select("event_id").limit(5)
    val plan = df.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("LIMIT 5"), plan)
    assert(df.collect().length == 5)
  }

  test("micro-batch stream: the cursor field is the offset — each " +
    "batch pulls only rows past the last committed cursor") {
    import graft.sources.v2.MutableSoqlEndpoint
    val schema = eventsDf.schema
    val all = eventsDf.collect().map(_.toSeq).toSeq
    val mid = eventsDf.selectExpr("percentile(ts_us, 0.5)").head()
      .getDouble(0).toLong
    val (first, second) = all.partition(_(1).asInstanceOf[Long] <= mid)
    val ep = new MutableSoqlEndpoint(schema, first)
    SoqlEndpoints.register("events_stream", ep)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-soql-ckpt").toString
    Dsv2SourceSpec.streamSeen.clear()
    val q = spark.readStream.format("graft-soql")
      .option("object", "events_stream").option("cursorField", "ts_us")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            Dsv2SourceSpec.streamSeen.add(r.getLong(0)))
          ()
      }.start()
    q.processAllAvailable()
    assert(Dsv2SourceSpec.streamSeen.size == first.size,
      "first micro-batch should pull the initial rows exactly once")
    // new records land at the endpoint; the next batch pulls ONLY them
    ep.append(second)
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val seen = Dsv2SourceSpec.streamSeen.asScala.map(_.toLong).toSeq
    assert(seen.size == all.size, "re-pulled or dropped rows across batches")
    assert(seen.toSet == all.map(_.head.asInstanceOf[Long]).toSet)
  }

  test("an empty endpoint reads as zero rows in batch and produces no " +
    "micro-batches in streaming") {
    import graft.sources.v2.MutableSoqlEndpoint
    val ep = new MutableSoqlEndpoint(eventsDf.schema, Seq.empty)
    SoqlEndpoints.register("events_empty", ep)
    val df = spark.read.format("graft-soql")
      .option("object", "events_empty").load()
    assert(df.count() == 0)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-soql-empty-ckpt").toString
    Dsv2SourceSpec.streamSeen.clear()
    val q = spark.readStream.format("graft-soql")
      .option("object", "events_empty").option("cursorField", "ts_us")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch {
        (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          b.collect().foreach(r =>
            Dsv2SourceSpec.streamSeen.add(r.getLong(0)))
          ()
      }.start()
    q.processAllAvailable()
    q.stop()
    assert(Dsv2SourceSpec.streamSeen.isEmpty,
      "empty endpoint emitted stream rows")
  }

  test("Pipeline.fullSync runs end to end through the DSv2 source") {
    registerEvents()
    val sync = Pipeline.ObjectSync("events_t",
      s => s.read.format("graft-soql").option("object", "events_api").load(),
      pk = "event_id", cursorField = "ts_us")
    val url = s"jdbc:derby:memory:dsv2sync${System.nanoTime};create=true"
    assert(Pipeline.fullSync(spark, url, sync, 200) == 1000)
    assert(graft.sources.JdbcExec.readTable(spark, url, "events_t")
      .select("event_id").collect().map(_.getLong(0)).toSet ==
      eventsDf.select("event_id").collect().map(_.getLong(0)).toSet)
    RecordingJdbc.register()
    val pg = s"jdbc:postgresql://fake/dsv2sync${System.nanoTime}"
    Pipeline.fullSync(spark, pg, sync, 200)
    assert(RecordingJdbc.db(pg).seq.exists(e =>
      e.contains("executeBatch: INSERT INTO \"events_t\"") &&
        e.contains("ON CONFLICT (\"event_id\") DO UPDATE")))
  }

  test("incremental pull through the source pushes the cursor bound " +
    "and returns only new rows") {
    registerEvents()
    val mid = eventsDf.selectExpr("percentile(ts_us, 0.5)").head()
      .getDouble(0).toLong
    val pulled = sourceDf.filter(col("ts_us") > mid)
    // the pushed WHERE means the endpoint never ships pre-cursor rows;
    // the fake honors it, so row counts prove the remote-side filter
    assert(pulled.count() == eventsDf.filter(col("ts_us") > mid).count())
  }
}

object Dsv2SourceSpec {
  // static so the executor-side closure (same JVM in local mode)
  // mutates THIS queue, not a serialized copy
  val streamSeen =
    new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
}
