package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Pipeline.ObjectSync

/** End-to-end sync lifecycle (SURVEY §3.1): full sync then incremental
  * sync of the events object into a captured upsert sink.
  */
class PipelineSpec extends SparkSpec {

  private def eventsSync = ObjectSync(
    name = "events_t",
    read = s => Tables.eventsWithNanos(s, sfDir)
      .withColumn("ts_us", expr("ts_ns div 1000"))
      .select("event_id", "ts_us", "user_id", "event_type", "value"),
    pk = "event_id",
    cursorField = "ts_us",
    targetTypes = Map("value" -> DecimalType(18, 2)))

  test("full sync writes every row exactly once through the sink") {
    PipelineSpec.rows.clear()
    val n = Pipeline.fullSync(spark, eventsSync, batchSize = 100) {
      (sql, batch) =>
        assert(sql.contains("ON CONFLICT (\"event_id\") DO UPDATE"))
        batch.foreach(r => PipelineSpec.rows.add(r.head.asInstanceOf[Long]))
    }
    assert(n == 1000)
    val seen = PipelineSpec.rows.toArray(Array.empty[java.lang.Long])
    assert(seen.length == 1000)
    assert(seen.map(_.toLong).distinct.length == 1000)
  }

  test("incremental sync pulls only past the cursor and advances it") {
    val all = eventsSync.read(spark)
    val mid = all.selectExpr("percentile(ts_us, 0.5)").head()
      .getDouble(0).toLong
    PipelineSpec.rows.clear()
    val (n, next) = Pipeline.incrementalSync(spark, eventsSync, mid, 100) {
      (_, batch) =>
        batch.foreach(r => PipelineSpec.rows.add(r.head.asInstanceOf[Long]))
    }
    val expected = all.filter(col("ts_us") > mid).count()
    assert(n == expected && n > 0)
    assert(PipelineSpec.rows.size == expected)
    assert(next.contains(all.agg(max("ts_us")).head().getLong(0)))
    // second pull from the advanced cursor is empty and keeps no cursor
    val (n2, next2) = Pipeline.incrementalSync(spark, eventsSync,
      next.get, 100)((_, _) => fail("sink must not be called"))
    assert(n2 == 0 && next2.isEmpty)
  }

  test("incremental sync under a live source: rows that become " +
    "visible during the load are left for the next sync, never lost") {
    // ids 0..49 are visible when the sync starts; the first sink call
    // makes 50..99 visible (one source partition, so the run is
    // deterministic). The cursor must not pass rows the loads never saw.
    PipelineSpec.visible = 50L
    val sync = ObjectSync("live_t",
      s => {
        import s.implicits._
        s.sparkContext.parallelize(Seq(0), 1)
          .flatMap(_ => 0L until PipelineSpec.visible).toDF("id")
          .withColumn("cur", col("id"))
      },
      pk = "id", cursorField = "cur")
    PipelineSpec.rows.clear()
    def sink(sql: String, batch: graft.sources.JdbcUpsertSink.Batch): Unit = {
      PipelineSpec.visible = 100L
      batch.foreach(r => PipelineSpec.rows.add(r.head.asInstanceOf[Long]))
    }
    val (n1, c1) = Pipeline.incrementalSync(spark, sync, -1L, 1000)(sink)
    assert(n1 == 50 && c1.contains(49L), s"first sync wrote $n1, cursor $c1")
    val (n2, c2) = Pipeline.incrementalSync(spark, sync, c1.get, 1000)(sink)
    assert(n2 == 50 && c2.contains(99L), s"second sync wrote $n2, cursor $c2")
    import scala.jdk.CollectionConverters._
    val seen = PipelineSpec.rows.asScala.map(_.toLong).toSeq
    assert(seen.sorted == (0L to 99L), "rows lost or written twice")
  }

  test("incremental sync routes soft-deleted rows to DELETE batches") {
    val softSync = eventsSync.copy(
      read = s => eventsSync.read(s)
        .withColumn("is_deleted", expr("event_id % 20 = 0")),
      deleteField = Some("is_deleted"))
    val all = eventsSync.read(spark)
    val mid = all.selectExpr("percentile(ts_us, 0.5)").head()
      .getDouble(0).toLong
    PipelineSpec.upserts.clear(); PipelineSpec.deletes.clear()
    val (n, _) = Pipeline.incrementalSync(spark, softSync, mid, 100) {
      (sql, batch) =>
        val sink = if (sql.startsWith("DELETE")) PipelineSpec.deletes
                   else PipelineSpec.upserts
        batch.foreach(r => sink.add(r.head.asInstanceOf[Long]))
    }
    val pulled = all.filter(col("ts_us") > mid)
    val expectedDead = pulled.filter(col("event_id") % 20 === 0)
      .select("event_id").collect().map(_.getLong(0)).toSet
    import scala.jdk.CollectionConverters._
    val dels = PipelineSpec.deletes.asScala.map(_.toLong).toSet
    val ups = PipelineSpec.upserts.asScala.map(_.toLong).toSet
    assert(dels == expectedDead && expectedDead.nonEmpty)
    assert(ups.intersect(expectedDead).isEmpty)
    assert(n == pulled.count() - expectedDead.size)
  }

  test("a pk deleted then re-created within one pull stays live; a pk " +
    "whose latest version is deleted is removed (latest decides)") {
    import spark.implicits._
    // pk 1: tombstone at cur=10, re-created live at cur=20 → must be
    //       upserted and NOT deleted (the advisor-flagged undelete case)
    // pk 2: live at cur=10, deleted at cur=20 → delete, and the stale
    //       live version must not be upserted
    // pk 3: plain live row → upserted
    val data = Seq(
      (1L, 10L, "old", true), (1L, 20L, "new", false),
      (2L, 10L, "x", false), (2L, 20L, "x2", true),
      (3L, 5L, "z", false))
    val sync = Pipeline.ObjectSync("t",
      s => { import s.implicits._; data.toDF("id", "cur", "payload", "is_del") },
      pk = "id", cursorField = "cur", deleteField = Some("is_del"))
    PipelineSpec.upserts.clear(); PipelineSpec.deletes.clear()
    val (n, next) = Pipeline.incrementalSync(spark, sync, 0L, 10) {
      (sql, batch) =>
        val sink = if (sql.startsWith("DELETE")) PipelineSpec.deletes
                   else PipelineSpec.upserts
        batch.foreach(r => sink.add(r.head.asInstanceOf[Long]))
    }
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.upserts.asScala.map(_.toLong).toSet == Set(1L, 3L))
    assert(PipelineSpec.deletes.asScala.map(_.toLong).toSet == Set(2L))
    assert(n == 2)
    assert(next.contains(20L))
  }

  test("streaming sync propagates soft deletes per micro-batch") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-streamdel-src").toString
    val ckpt = Files.createTempDirectory("graft-streamdel-ckpt").toString
    val df = Seq(
      (1L, 10L, "a", false), (2L, 10L, "b", true), (3L, 10L, "c", false))
      .toDF("id", "cur", "payload", "is_del")
    val sync = Pipeline.ObjectSync("t2", _ => spark.emptyDataFrame,
      pk = "id", cursorField = "cur", deleteField = Some("is_del"))
    df.write.mode("append").parquet(srcDir)
    PipelineSpec.upserts.clear(); PipelineSpec.deletes.clear()
    val q = Pipeline.streamingSync(spark, sync, srcDir, df.schema, ckpt, 10) {
      (sql, batch) =>
        val sink = if (sql.startsWith("DELETE")) PipelineSpec.deletes
                   else PipelineSpec.upserts
        batch.foreach(r => sink.add(r.head.asInstanceOf[Long]))
    }
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.upserts.asScala.map(_.toLong).toSet == Set(1L, 3L))
    assert(PipelineSpec.deletes.asScala.map(_.toLong).toSet == Set(2L))
  }

  test("full sync with a soft-delete flag routes dead pks to DELETEs " +
    "and never upserts the flag column") {
    val data = Seq(
      (1L, 10L, "a", false), (2L, 10L, "b", true), (3L, 10L, "c", false))
    val sync = Pipeline.ObjectSync("t3",
      s => { import s.implicits._; data.toDF("id", "cur", "payload", "is_del") },
      pk = "id", cursorField = "cur", deleteField = Some("is_del"))
    PipelineSpec.upserts.clear(); PipelineSpec.deletes.clear()
    val n = Pipeline.fullSync(spark, sync, 10) { (sql, batch) =>
      if (!sql.startsWith("DELETE"))
        assert(!sql.contains("is_del"), "flag column reached the target")
      val sink = if (sql.startsWith("DELETE")) PipelineSpec.deletes
                 else PipelineSpec.upserts
      batch.foreach(r => sink.add(r.head.asInstanceOf[Long]))
    }
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.upserts.asScala.map(_.toLong).toSet == Set(1L, 3L))
    assert(PipelineSpec.deletes.asScala.map(_.toLong).toSet == Set(2L))
    assert(n == 2)
    assert(!Pipeline.targetDdl(spark, sync).contains("is_del"))
  }

  test("backfill re-extracts a cursor range idempotently") {
    val all = eventsSync.read(spark)
    val (lo, hi) = {
      val r = all.selectExpr("percentile(ts_us, 0.25)",
        "percentile(ts_us, 0.5)").head()
      (r.getDouble(0).toLong, r.getDouble(1).toLong)
    }
    PipelineSpec.rows.clear()
    val n = Pipeline.backfillSync(spark, eventsSync, lo, hi, 100) {
      (sql, batch) =>
        assert(sql.contains("ON CONFLICT"), "backfill must be a MERGE")
        batch.foreach(r => PipelineSpec.rows.add(r.head.asInstanceOf[Long]))
    }
    val expected = all.filter(col("ts_us") >= lo && col("ts_us") <= hi)
    assert(n == expected.count() && n > 0)
    import scala.jdk.CollectionConverters._
    assert(PipelineSpec.rows.asScala.map(_.toLong).toSet ==
      expected.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("streaming sync upserts each appended batch through the same " +
    "normalize+MERGE path as batch sync") {
    val srcDir = Files.createTempDirectory("graft-streamsync-src").toString
    val ckpt = Files.createTempDirectory("graft-streamsync-ckpt").toString
    val all = eventsSync.read(spark).orderBy("event_id")
    val schema = all.schema
    // batch 1: first half of the events
    all.filter(col("event_id") % 2 === 0)
      .write.mode("append").parquet(srcDir)
    PipelineSpec.rows.clear()
    val q = Pipeline.streamingSync(spark, eventsSync, srcDir, schema,
      ckpt, batchSize = 100) { (sql, batch) =>
      assert(sql.contains("ON CONFLICT"))
      batch.foreach(r => PipelineSpec.rows.add(r.head.asInstanceOf[Long]))
    }
    q.processAllAvailable()
    assert(PipelineSpec.rows.size == all.filter(col("event_id") % 2 === 0).count())
    // batch 2 lands in the directory; the stream picks it up
    all.filter(col("event_id") % 2 === 1)
      .write.mode("append").parquet(srcDir)
    q.processAllAvailable()
    q.stop()
    import scala.jdk.CollectionConverters._
    val seen = PipelineSpec.rows.asScala.map(_.toLong).toSet
    assert(seen == all.select("event_id").collect().map(_.getLong(0)).toSet)
  }

  test("normalize picks a deterministic survivor for duplicate " +
    "(pk, cursor) pairs regardless of input order") {
    import spark.implicits._
    // two rows with identical pk AND cursor, differing payloads — the
    // advisor-flagged case where a pk-only tiebreak is a no-op
    val rows = Seq(
      (1L, 100L, "payload_a"), (1L, 100L, "payload_b"),
      (2L, 50L, "x"), (2L, 60L, "y"))
    val sync = ObjectSync("t", _ => spark.emptyDataFrame, "id", "cur")
    def survivors(data: Seq[(Long, Long, String)]): Map[Long, String] =
      Pipeline.normalize(
        data.toDF("id", "cur", "payload").repartition(3), sync)
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val fwd = survivors(rows)
    val rev = survivors(rows.reverse)
    assert(fwd == rev, "survivor depends on input order")
    assert(fwd(2L) == "y", "latest cursor must win")
    assert(Set("payload_a", "payload_b").contains(fwd(1L)))
  }

  test("normalize applies the type map and target DDL reflects it") {
    val ddl = Pipeline.targetDdl(spark, eventsSync)
    assert(ddl.contains("\"value\" numeric(18,2)"))
    assert(ddl.contains("PRIMARY KEY (\"event_id\")"))
  }
}

object PipelineSpec {
  val rows = new ConcurrentLinkedQueue[java.lang.Long]()
  val upserts = new ConcurrentLinkedQueue[java.lang.Long]()
  val deletes = new ConcurrentLinkedQueue[java.lang.Long]()
  // ids the live source of the live-source spec serves: 0 until visible
  @volatile var visible = 0L
}
