package graft

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Pipeline.ObjectSync
import graft.sources.{JdbcCursorStore, JdbcExec}

/** End-to-end sync lifecycle (SURVEY §3.1): full, incremental, backfill
  * and streaming sync of the events object into an embedded Derby
  * target read back with `readTable`; the PostgreSQL statement text is
  * asserted on the recording fake ([[RecordingJdbc]]).
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

  private def derby(): String =
    s"jdbc:derby:memory:pipe${System.nanoTime};create=true"

  /** A fresh recording PostgreSQL url and its event log. */
  private def recording(): (String, RecordingJdbc.Db) = {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/pipe${System.nanoTime}"
    (url, RecordingJdbc.db(url))
  }

  /** The first bound value (the pk) of every row bound to `stmt`. */
  private def bound(db: RecordingJdbc.Db, stmt: String): Seq[Long] =
    db.seq.filter(_.contains(s"bind[$stmt")).map { e =>
      e.substring(e.lastIndexOf("] (") + 3)
        .takeWhile(c => c != ',' && c != ')').toLong
    }

  private def upserts(db: RecordingJdbc.Db, table: String): Seq[Long] =
    bound(db, s"""INSERT INTO "$table"""")

  private def deletes(db: RecordingJdbc.Db, table: String): Seq[Long] =
    bound(db, s"""DELETE FROM "$table"""")

  private def ids(url: String, table: String, pk: String): Seq[Long] =
    JdbcExec.readTable(spark, url, table).select(pk).collect()
      .map(_.getLong(0)).toSeq.sorted

  private def idsOf(df: DataFrame): Seq[Long] =
    df.select("event_id").collect().map(_.getLong(0)).toSeq.sorted

  private def seedCursor(url: String, stateTable: String, obj: String,
                         v: Long): Unit = {
    val cursors = new JdbcCursorStore(url, stateTable)
    cursors.init()
    JdbcExec.withConnection(url) { conn =>
      conn.setAutoCommit(false)
      cursors.putInTxn(conn, obj, v)
      conn.commit()
    }
  }

  private def median(df: DataFrame): Long =
    df.selectExpr("percentile(ts_us, 0.5)").head().getDouble(0).toLong

  test("full sync writes every row exactly once through the sink") {
    val url = derby()
    assert(Pipeline.fullSync(spark, url, eventsSync, batchSize = 100) == 1000)
    val got = ids(url, "events_t", "event_id")
    assert(got.length == 1000 && got.distinct.length == 1000)
    val (pg, db) = recording()
    assert(Pipeline.fullSync(spark, pg, eventsSync, batchSize = 100) == 1000)
    assert(db.seq.exists(e => e.contains("executeBatch: INSERT INTO \"events_t\"") &&
      e.contains("ON CONFLICT (\"event_id\") DO UPDATE")))
    val binds = upserts(db, "events_t")
    assert(binds.length == 1000 && binds.distinct.length == 1000)
  }

  test("incremental sync pulls only past the cursor and advances it") {
    val all = eventsSync.read(spark)
    val mid = median(all)
    val url = derby()
    seedCursor(url, "events_state", "events_t", mid)
    val next = Pipeline.incrementalSync(spark, url, eventsSync, "events_state", 100)
    val expected = idsOf(all.filter(col("ts_us") > mid))
    assert(expected.nonEmpty && ids(url, "events_t", "event_id") == expected)
    assert(next == all.agg(max("ts_us")).head().getLong(0))
    assert(new JdbcCursorStore(url, "events_state").get("events_t").contains(next))
    // a second pull from the advanced cursor is empty: it writes nothing
    // and keeps the cursor
    assert(Pipeline.incrementalSync(spark, url, eventsSync, "events_state", 100) == next)
    assert(ids(url, "events_t", "event_id") == expected)
  }

  test("incremental sync under a live source: rows that become " +
    "visible during the load are left for the next sync, never lost") {
    // ids 0..49 are visible when the sync starts; once the source's one
    // partition has produced them, 50..99 become visible too. The cursor
    // must not pass rows the loads never saw.
    PipelineSpec.visible = 50L
    val sync = ObjectSync("live_t",
      s => {
        import s.implicits._
        s.sparkContext.parallelize(Seq(0), 1)
          .flatMap(_ => (0L until PipelineSpec.visible).iterator ++
            { PipelineSpec.visible = 100L; Iterator.empty })
          .toDF("id")
          .withColumn("cur", col("id"))
      },
      pk = "id", cursorField = "cur")
    val url = derby()
    val c1 = Pipeline.incrementalSync(spark, url, sync, "live_state", 1000)
    val n1 = ids(url, "live_t", "id").length
    assert(n1 == 50 && c1 == 49L, s"first sync wrote $n1, cursor $c1")
    val c2 = Pipeline.incrementalSync(spark, url, sync, "live_state", 1000)
    val seen = ids(url, "live_t", "id")
    assert(seen.length - n1 == 50 && c2 == 99L,
      s"second sync wrote ${seen.length - n1}, cursor $c2")
    assert(seen == (0L to 99L), "rows lost or written twice")
  }

  test("incremental sync routes soft-deleted rows to DELETE batches") {
    val softSync = eventsSync.copy(
      read = s => eventsSync.read(s)
        .withColumn("is_deleted", expr("event_id % 20 = 0")),
      deleteField = Some("is_deleted"))
    val all = eventsSync.read(spark)
    val mid = median(all)
    val pulled = all.filter(col("ts_us") > mid)
    val expectedDead = idsOf(pulled.filter(col("event_id") % 20 === 0)).toSet
    val (pg, db) = recording()
    seedCursor(pg, "soft_state", "events_t", mid)
    Pipeline.incrementalSync(spark, pg, softSync, "soft_state", 100)
    val dels = deletes(db, "events_t").toSet
    val ups = upserts(db, "events_t").toSet
    assert(dels == expectedDead && expectedDead.nonEmpty)
    assert(ups.intersect(expectedDead).isEmpty)
    assert(ups.size == pulled.count() - expectedDead.size)
    // on Derby: a target holding every event loses exactly the dead
    // pulled pks (the flag column is ALTERed in on the way)
    val url = derby()
    Pipeline.fullSync(spark, url, eventsSync, 100)
    seedCursor(url, "soft_state", "events_t", mid)
    Pipeline.incrementalSync(spark, url, softSync, "soft_state", 100)
    assert(ids(url, "events_t", "event_id") == idsOf(all).filterNot(expectedDead))
  }

  test("a pk deleted then re-created within one pull stays live; a pk " +
    "whose latest version is deleted is removed (latest decides)") {
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
    val (pg, db) = recording()
    assert(Pipeline.incrementalSync(spark, pg, sync, "t_state", 10) == 20L)
    assert(upserts(db, "t").toSet == Set(1L, 3L))
    assert(deletes(db, "t").toSet == Set(2L))
    val url = derby()
    assert(Pipeline.incrementalSync(spark, url, sync, "t_state", 10) == 20L)
    assert(new JdbcCursorStore(url, "t_state").get("t").contains(20L))
    assert(JdbcExec.readTable(spark, url, "t").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "new", 3L -> "z"))
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
    val url = derby()
    // micro-batch 1 lands pk 2 live; micro-batch 2 deletes it
    Seq((2L, 5L, "b0", false)).toDF("id", "cur", "payload", "is_del")
      .write.mode("append").parquet(srcDir)
    val q = Pipeline.streamingSync(spark, url, sync, srcDir, df.schema, ckpt, 10)
    try {
      q.processAllAvailable()
      assert(ids(url, "t2", "id") == Seq(2L))
      df.write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    assert(JdbcExec.readTable(spark, url, "t2").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap ==
      Map(1L -> "a", 3L -> "c"))
  }

  test("a late micro-batch of older versions neither overwrites nor " +
    "deletes newer target rows; a deleted key comes back (known residual)") {
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-stream-ooo-src").toString
    def land(rows: (Long, Long, String, Boolean)*): Unit =
      rows.toDF("id", "cur", "payload", "is_del")
        .write.mode("append").parquet(srcDir)
    val schema = Seq((0L, 0L, "", false)).toDF("id", "cur", "payload", "is_del").schema
    val sync = Pipeline.ObjectSync("t_ooo", _ => spark.emptyDataFrame,
      pk = "id", cursorField = "cur", deleteField = Some("is_del"))
    val url = derby()
    land((1L, 20L, "new", false), (2L, 30L, "live", false),
      (3L, 35L, "live35", false))
    val q = Pipeline.streamingSync(spark, url, sync, srcDir, schema,
      Files.createTempDirectory("graft-stream-ooo-ckpt").toString, 10)
    try {
      q.processAllAvailable()
      land((3L, 40L, "gone", true))
      q.processAllAvailable()
      assert(ids(url, "t_ooo", "id") == Seq(1L, 2L))
      // the late file: only versions older than the target's
      land((1L, 10L, "old", false), (2L, 25L, "dead", true),
        (3L, 30L, "live30", false))
      q.processAllAvailable()
    } finally q.stop()
    val got = JdbcExec.readTable(spark, url, "t_ooo").collect()
      .map(r => r.getLong(0) -> (r.getString(2), r.getLong(1))).toMap
    assert(got.get(1L).contains(("new", 20L)),
      s"an older version overwrote a newer row: ${got.get(1L)}")
    assert(got.get(2L).contains(("live", 30L)),
      s"an older tombstone deleted a newer row: ${got.get(2L)}")
    // known residual: the target keeps no tombstones, so the older live
    // version of key 3, deleted at cursor 40, is inserted again
    assert(got.get(3L).contains(("live30", 30L)), got)
  }

  test("full sync with a soft-delete flag routes dead pks to DELETEs " +
    "and keeps the flag column in the target") {
    val data = Seq(
      (1L, 10L, "a", false), (2L, 10L, "b", true), (3L, 10L, "c", false))
    val sync = Pipeline.ObjectSync("t3",
      s => { import s.implicits._; data.toDF("id", "cur", "payload", "is_del") },
      pk = "id", cursorField = "cur", deleteField = Some("is_del"))
    val (pg, db) = recording()
    assert(Pipeline.fullSync(spark, pg, sync, 10) == 2)
    assert(upserts(db, "t3").toSet == Set(1L, 3L))
    assert(deletes(db, "t3").toSet == Set(2L))
    val url = derby()
    assert(Pipeline.fullSync(spark, url, sync, 10) == 2)
    assert(JdbcExec.readTable(spark, url, "t3").collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_del")).toMap ==
      Map(1L -> false, 3L -> false))
  }

  test("backfill re-extracts a cursor range idempotently") {
    val all = eventsSync.read(spark)
    val (lo, hi) = {
      val r = all.selectExpr("percentile(ts_us, 0.25)",
        "percentile(ts_us, 0.5)").head()
      (r.getDouble(0).toLong, r.getDouble(1).toLong)
    }
    val expected = all.filter(col("ts_us") >= lo && col("ts_us") <= hi)
    val url = derby()
    val n = Pipeline.backfillSync(spark, url, eventsSync, lo, hi, 100)
    assert(n == expected.count() && n > 0)
    assert(ids(url, "events_t", "event_id") == idsOf(expected))
    // re-running the same range converges to the same target
    assert(Pipeline.backfillSync(spark, url, eventsSync, lo, hi, 100) == n)
    assert(ids(url, "events_t", "event_id") == idsOf(expected))
    val (pg, db) = recording()
    Pipeline.backfillSync(spark, pg, eventsSync, lo, hi, 100)
    assert(db.seq.exists(e => e.contains("executeBatch: INSERT INTO \"events_t\"") &&
      e.contains("ON CONFLICT")), "backfill must be a MERGE")
  }

  test("streaming sync upserts each appended batch through the same " +
    "normalize+MERGE path as batch sync") {
    val srcDir = Files.createTempDirectory("graft-streamsync-src").toString
    val all = eventsSync.read(spark).orderBy("event_id")
    val schema = all.schema
    val even = all.filter(col("event_id") % 2 === 0)
    // batch 1: half of the events
    even.write.mode("append").parquet(srcDir)
    val url = derby()
    val q = Pipeline.streamingSync(spark, url, eventsSync, srcDir, schema,
      Files.createTempDirectory("graft-streamsync-ckpt").toString, batchSize = 100)
    try {
      q.processAllAvailable()
      assert(ids(url, "events_t", "event_id") == idsOf(even))
      // batch 2 lands in the directory; the stream picks it up
      all.filter(col("event_id") % 2 === 1)
        .write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    assert(ids(url, "events_t", "event_id") == idsOf(all))
    val (pg, db) = recording()
    val q2 = Pipeline.streamingSync(spark, pg, eventsSync, srcDir, schema,
      Files.createTempDirectory("graft-streamsync-ckpt").toString, batchSize = 100)
    try q2.processAllAvailable() finally q2.stop()
    assert(db.seq.exists(e => e.contains("executeBatch: INSERT INTO \"events_t\"") &&
      e.contains("ON CONFLICT")))
  }

  test("normalize picks a deterministic survivor for duplicate " +
    "(pk, cursor) pairs regardless of input order") {
    import spark.implicits._
    // two rows with identical pk AND cursor, differing payloads — the
    // advisor-flagged case where a pk-only tiebreak is a no-op
    val rows = Seq(
      (1L, 100L, "payload_a"), (1L, 100L, "payload_b"),
      (2L, 50L, "x"), (2L, 60L, "y"))
    def survivors(data: Seq[(Long, Long, String)]): Map[Long, String] = {
      val url = derby()
      Pipeline.fullSync(spark, url, ObjectSync("t",
        _ => data.toDF("id", "cur", "payload").repartition(3), "id", "cur"), 10)
      JdbcExec.readTable(spark, url, "t").collect()
        .map(r => r.getLong(0) -> r.getString(2)).toMap
    }
    val fwd = survivors(rows)
    val rev = survivors(rows.reverse)
    assert(fwd == rev, "survivor depends on input order")
    assert(fwd(2L) == "y", "latest cursor must win")
    assert(Set("payload_a", "payload_b").contains(fwd(1L)))
  }

  test("normalize applies the type map and target DDL reflects it") {
    val (pg, db) = recording()
    Pipeline.fullSync(spark, pg, eventsSync, 100)
    val ddl = db.seq.find(_.contains("execute: CREATE TABLE IF NOT EXISTS \"events_t\""))
    assert(ddl.exists(_.contains("\"value\" numeric(18,2)")), ddl)
    assert(ddl.exists(_.contains("PRIMARY KEY (\"event_id\")")), ddl)
    val url = derby()
    Pipeline.fullSync(spark, url, eventsSync, 100)
    assert(JdbcExec.readTable(spark, url, "events_t").schema("value").dataType ==
      DecimalType(18, 2))
  }

  test("full, incremental and streaming sync of a soft-deleting source " +
    "produce identical targets") {
    val sync = eventsSync.copy(
      name = "events_p",
      read = s => eventsSync.read(s)
        .withColumn("is_deleted", expr("event_id % 20 = 0")),
      deleteField = Some("is_deleted"))
    def target(url: String) = JdbcExec.readTable(spark, url, "events_p")
      .orderBy("event_id").collect().toSeq
    val full = derby()
    Pipeline.fullSync(spark, full, sync, 100)
    val inc = derby()
    Pipeline.incrementalSync(spark, inc, sync, "parity_state", 100)
    val streamed = derby()
    val srcDir = Files.createTempDirectory("graft-parity-src").toString
    val all = sync.read(spark)
    all.filter(col("event_id") % 2 === 0).write.mode("append").parquet(srcDir)
    val q = Pipeline.streamingSync(spark, streamed, sync, srcDir, all.schema,
      Files.createTempDirectory("graft-parity-ckpt").toString, 100)
    try {
      q.processAllAvailable()
      all.filter(col("event_id") % 2 === 1).write.mode("append").parquet(srcDir)
      q.processAllAvailable()
    } finally q.stop()
    val want = target(full)
    assert(want.size == all.filter(!col("is_deleted")).count() && want.nonEmpty)
    assert(target(inc) == want, "incremental target differs from full")
    assert(target(streamed) == want, "streaming target differs from full")
  }
}

object PipelineSpec {
  // ids the live source of the live-source spec serves: 0 until visible
  @volatile var visible = 0L
}
