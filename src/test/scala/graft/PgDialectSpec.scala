package graft

import org.apache.spark.sql.types._
import graft.sources.{JdbcExec, JdbcUpsertSink, PgDialect}

/** The PostgreSQL dialect executed as a statement SEQUENCE (r15,
  * VERDICT r14 ask 6): the same syncOnce orchestration DerbySinkSpec /
  * V2LifecycleSpec exercise against embedded Derby runs here with the
  * PG dialect generating every statement, executed against
  * [[RecordingJdbc]]'s fake connection — real PostgreSQL is impossible
  * offline (zero egress, no server binary), so order, bound
  * parameters, and transaction boundaries are asserted from the
  * recorded event log instead of target-table state.
  */
class PgDialectSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("cur", LongType),
    StructField("is_deleted", BooleanType)))

  test("url dispatch picks the PG dialect for jdbc:postgresql urls") {
    assert(JdbcExec.dialectFor("jdbc:postgresql://h/db") eq PgDialect)
    assert(JdbcExec.dialectFor("jdbc:derby:memory:x") ne PgDialect)
  }

  test("syncOnce drives create -> ON CONFLICT upsert -> tombstone " +
    "DELETE -> cursor, in order, a partition's upsert and delete in one " +
    "transaction and the cursor in its own, with latest-wins " +
    "parameters; replay converges") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/pgd${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    import spark.implicits._

    JdbcExec.withConnection(url) { conn =>
      JdbcExec.ensureTable(conn, "acct_tgt", schema, Seq("id"),
        JdbcExec.dialectFor(url))
    }
    // the DDL leg used the PG type map, not Derby's
    val ddl = db.seq.filter(_.contains("CREATE TABLE"))
    assert(ddl.exists(_.contains("\"acct_tgt\"")), ddl)
    assert(ddl.exists(e => e.contains("text") && e.contains("bigint") &&
      e.contains("PRIMARY KEY (\"id\")")), ddl)
    assert(!ddl.exists(_.contains("VARCHAR(32672)")), s"Derby type leaked: $ddl")

    val batch = Seq(
      (1L, "a", 100L, false),
      (2L, "b", 110L, false),
      (2L, "b2", 120L, false),  // in-window update: latest wins
      (3L, "c", 130L, true))    // tombstone: DELETE route
      .toDF("id", "name", "cur", "is_deleted").coalesce(1)
    // one shuffle partition: the tombstone shares its partition, and so
    // its transaction, with the live rows. The 4-row pull is larger than
    // batchSize = 2, so it takes the parallel load with the cursor last
    // (a pull within one batch is the next test)
    val partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    val c = try JdbcExec.syncOnce(spark, url, "acct_tgt", Seq("id"),
      "pg_state", "acct", _ => batch, "cur", "is_deleted", batchSize = 2)
    finally spark.conf.set("spark.sql.shuffle.partitions", partitions)
    assert(c == 130L)

    val ev = db.seq
    def firstIdx(p: String => Boolean): Int = {
      val i = ev.indexWhere(p); assert(i >= 0, s"missing event: $ev"); i
    }
    // --- statement shapes: the reference's actual PG sink ---
    val upsertSql = ev.find(e => e.startsWith("c") &&
      e.contains("prepare: INSERT INTO \"acct_tgt\"")).getOrElse(
      fail(s"no upsert prepared: $ev"))
    assert(upsertSql.contains("ON CONFLICT (\"id\") DO UPDATE SET"),
      upsertSql)
    // both writes are cursor-guarded: an older version never overwrites,
    // and an older tombstone never deletes, a newer stored row
    assert(upsertSql.endsWith("WHERE \"acct_tgt\".\"cur\" IS NULL OR " +
      "\"acct_tgt\".\"cur\" <= EXCLUDED.\"cur\""), upsertSql)
    val deleteSql = ev.find(_.contains("prepare: DELETE FROM \"acct_tgt\""))
      .getOrElse(fail(s"no delete prepared: $ev"))
    assert(deleteSql.endsWith("WHERE \"id\" = ? AND " +
      "(\"cur\" IS NULL OR \"cur\" <= ?)"), deleteSql)
    // --- order: upsert batch executes BEFORE the tombstone delete,
    // which executes BEFORE the cursor advance ---
    val iUp = firstIdx(e => e.contains("executeBatch: INSERT INTO \"acct_tgt\""))
    val iDel = firstIdx(e => e.contains("executeBatch: DELETE FROM \"acct_tgt\""))
    val iCur = firstIdx(e => e.contains("executeUpdate[INSERT INTO \"pg_state\""))
    assert(iUp < iDel && iDel < iCur, s"sequence broken:\n${ev.mkString("\n")}")
    // --- parameters: latest-wins kept (2 -> b2/120), earlier version
    // never bound; the tombstoned pk 3 is bound only to the DELETE ---
    val upBinds = ev.filter(_.contains("bind[INSERT INTO \"acct_tgt\""))
    assert(upBinds.exists(_.endsWith("(1,a,100,false)")), upBinds)
    assert(upBinds.exists(_.endsWith("(2,b2,120,false)")), upBinds)
    assert(!upBinds.exists(_.contains("(2,b,110")), s"latest-wins lost: $upBinds")
    assert(!upBinds.exists(_.contains("(3,")), s"tombstone upserted: $upBinds")
    // the tombstone binds its key, then its cursor
    val delBinds = ev.filter(_.contains("bind[DELETE FROM \"acct_tgt\""))
    assert(delBinds.map(_.takeRight(7)) == Seq("(3,130)"), delBinds)
    // --- transaction boundaries: the upsert's connection runs
    // setAutoCommit(false) ... executeBatch ... commit ... close, with
    // no foreign statements interleaved on that connection ---
    val upConn = ev(iUp).split(" ")(0)
    val onConn = ev.filter(_.startsWith(s"$upConn "))
    assert(onConn.exists(_.endsWith("setAutoCommit(false)")), onConn)
    val commitIdx = onConn.indexWhere(_.endsWith("commit"))
    val batchIdx = onConn.indexWhere(_.contains("executeBatch"))
    assert(batchIdx >= 0 && commitIdx > batchIdx,
      s"upsert not committed after its batch: $onConn")
    assert(!onConn.exists(_.contains("pg_state")),
      s"cursor statements leaked into the load transaction: $onConn")
    // the tombstone DELETE runs in the same partition transaction as
    // the upsert: same connection, before that connection's commit
    val delConn = ev(iDel).split(" ")(0)
    assert(delConn == upConn,
      s"tombstone DELETE on $delConn, upsert on $upConn:\n${ev.mkString("\n")}")
    val delIdx = onConn.indexWhere(_.contains("executeBatch: DELETE FROM"))
    assert(batchIdx < delIdx && delIdx < commitIdx,
      s"DELETE not inside the upsert's transaction: $onConn")
    // the cursor advance is its own transaction (cursor-LAST protocol)
    val curConn = ev(iCur).split(" ")(0)
    assert(curConn != upConn, "cursor shared the upsert connection")
    val curEvents = ev.filter(_.startsWith(s"$curConn "))
    assert(curEvents.exists(_.endsWith("setAutoCommit(false)")) &&
      curEvents.exists(_.endsWith("commit")), curEvents)

    // --- crash-replay: cursor reset to pre-round, re-run converges
    // through the same idempotent keyed statements ---
    db.cursors.put("acct", Long.MinValue)
    val before = db.seq.size
    val c2 = JdbcExec.syncOnce(spark, url, "acct_tgt", Seq("id"),
      "pg_state", "acct", _ => batch, "cur", "is_deleted", batchSize = 2)
    assert(c2 == 130L && db.cursors.get("acct") == 130L)
    val replay = db.seq.drop(before)
    assert(replay.exists(_.contains("executeBatch: INSERT INTO \"acct_tgt\"")))
    assert(replay.exists(_.contains("executeBatch: DELETE FROM \"acct_tgt\"")))
    // replay UPDATEs the existing cursor row instead of re-inserting
    assert(replay.exists(_.contains("executeUpdate[UPDATE \"pg_state\"")))
    assert(!replay.exists(_.contains("executeUpdate[INSERT INTO \"pg_state\"")))
  }

  test("a pull within one batch is ONE transaction: upsert -> tombstone " +
    "DELETE -> cursor -> commit on one connection") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/pgone${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    import spark.implicits._
    JdbcExec.withConnection(url) { conn =>
      JdbcExec.ensureTable(conn, "one_tgt", schema, Seq("id"),
        JdbcExec.dialectFor(url))
    }
    val batch = Seq(
      (1L, "a", 100L, false),
      (2L, "b", 110L, false),
      (2L, "b2", 120L, false),
      (3L, "c", 130L, true))
      .toDF("id", "name", "cur", "is_deleted")
    // 4 rows <= batchSize = 10: one write task
    def sync(): Long = JdbcExec.syncOnce(spark, url, "one_tgt", Seq("id"),
      "one_state", "one", _ => batch, "cur", "is_deleted", batchSize = 10)
    assert(sync() == 130L && db.cursors.get("one") == 130L)
    val ev = db.seq
    val iUp = ev.indexWhere(_.contains("executeBatch: INSERT INTO \"one_tgt\""))
    assert(iUp >= 0, ev)
    val loadConn = ev(iUp).split(" ")(0)
    val onLoad = ev.filter(_.startsWith(s"$loadConn "))
    // the cursor UPDATE (no row yet) and INSERT run on the load
    // connection, after the tombstone DELETE and before its one commit
    val order = Seq[String => Boolean](
      _.contains("executeBatch: INSERT INTO \"one_tgt\""),
      _.contains("executeBatch: DELETE FROM \"one_tgt\""),
      _.contains("executeUpdate[UPDATE \"one_state\""),
      _.contains("executeUpdate[INSERT INTO \"one_state\""),
      _ == s"$loadConn commit").map(p => onLoad.indexWhere(p))
    assert(order.forall(_ >= 0) && order == order.sorted, onLoad.mkString("\n"))
    assert(onLoad.exists(_.endsWith("setAutoCommit(false)")), onLoad)
    // the sync commits once, and no other connection writes the cursor
    assert(ev.count(_.endsWith(" commit")) == 1, ev.mkString("\n"))
    assert(ev.filter(e => e.contains("executeUpdate[") && e.contains("one_state"))
      .forall(_.startsWith(s"$loadConn ")), ev.mkString("\n"))
    // the same latest-wins binds as the parallel load, and the cursor
    val upBinds = ev.filter(_.contains("bind[INSERT INTO \"one_tgt\""))
    assert(upBinds.map(_.split("\\] ").last).sorted ==
      Seq("(1,a,100,false)", "(2,b2,120,false)"), upBinds)
    assert(ev.filter(_.contains("bind[DELETE FROM \"one_tgt\""))
      .map(_.takeRight(7)) == Seq("(3,130)"))
    assert(onLoad.exists(_.endsWith("executeUpdate[INSERT INTO \"one_state\" " +
      "(\"obj\", \"cursor_val\") VALUES (?, ?)] (one,130)")), onLoad)

    // replay from the pre-round cursor: the same one transaction, now
    // UPDATEing the stored cursor row
    db.cursors.put("one", Long.MinValue)
    val before = db.seq.size
    assert(sync() == 130L && db.cursors.get("one") == 130L)
    val replay = db.seq.drop(before)
    assert(replay.count(_.endsWith(" commit")) == 1, replay)
    assert(replay.exists(_.contains("executeUpdate[UPDATE \"one_state\"")))
    assert(!replay.exists(_.contains("executeUpdate[INSERT INTO \"one_state\"")))
  }

  test("PG type edges (r17, VERDICT r16 item 7): bytea/array/jsonb " +
    "DDL, binds through the pgjdbc protocols, and typed nulls") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/pgt${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    val wide = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("blob", BinaryType),
      StructField("tags", ArrayType(StringType)),
      StructField("scores", ArrayType(DoubleType)),
      StructField("meta", MapType(StringType, StringType)),
      StructField("obj", StructType(Seq(
        StructField("name", StringType), StructField("n", LongType)))),
      StructField("objs", ArrayType(StructType(Seq(
        StructField("name", StringType), StructField("n", LongType))))),
      StructField("cur", LongType)))
    // DDL leg: the §1.1 PG type map renders the edge types
    JdbcExec.withConnection(url) { conn =>
      JdbcExec.ensureTable(conn, "wide_tgt", wide, Seq("id"),
        JdbcExec.dialectFor(url))
    }
    val ddl = db.seq.filter(_.contains("CREATE TABLE")).mkString("\n")
    assert(ddl.contains("\"blob\" bytea"), ddl)
    assert(ddl.contains("\"tags\" text[]"), ddl)
    assert(ddl.contains("\"scores\" double precision[]"), ddl)
    assert(ddl.contains("\"meta\" jsonb"), ddl)
    assert(ddl.contains("\"obj\" jsonb"), ddl)
    // complex-element arrays: DDL is jsonb[] to MATCH the jsonb-element
    // bind below (r18 — the two sides agree; was bigint[][]-style)
    assert(ddl.contains("\"objs\" jsonb[]"), ddl)
    assert(JdbcUpsertSink.pgType(ArrayType(ArrayType(LongType)))
      == "jsonb[]")
    // bind leg: loadBatch through the real PgDialect code path
    import org.apache.spark.sql.Row
    val rows = Seq(
      Row(1L, Array[Byte](1, 2, -1), Seq("a", "b"), Seq(1.5),
        Map("k" -> "v", "a" -> "b"), Row("x", 2L), Seq(Row("y", 3L)), 7L),
      Row(2L, null, null, null, null, null, null, null))
    JdbcExec.withConnection(url) { conn =>
      PgDialect.loadBatch(conn, "wide_tgt", wide, Seq("id"), "cur",
        rows.iterator, batchSize = 10)
    }
    val binds = db.seq.filter(_.contains("bind[INSERT INTO \"wide_tgt\""))
    assert(binds.size == 2, db.seq.mkString("\n"))
    val b1 = binds.head
    // bytea through setBytes (value-asserting hex render)
    assert(b1.contains("bytea:0102ff"), b1)
    // arrays through createArrayOf(elementTypeName, values) + setArray
    assert(b1.contains("array[text]{a;b}"), b1)
    assert(b1.contains("array[double precision]{1.5}"), b1)
    // jsonb as JSON text bound with Types.OTHER (1111); map keys
    // sorted, struct fields in schema order
    assert(b1.contains("typed[1111]:{\"a\":\"b\",\"k\":\"v\"}"), b1)
    assert(b1.contains("typed[1111]:{\"name\":\"x\",\"n\":2}"), b1)
    // complex-element array binds as jsonb elements, matching the
    // jsonb[] column DDL asserted above
    assert(b1.contains("array[jsonb]{{\"name\":\"y\",\"n\":3}}"), b1)
    // typed nulls: VARBINARY(-3), ARRAY(2003), OTHER(1111) — drivers
    // that type-check null binds reject untyped setObject(null)
    val b2 = binds(1)
    assert(b2.contains("null[-3]"), b2)
    assert(b2.contains("null[2003]"), b2)
    assert(b2.contains("null[1111]"), b2)
  }

  test("partial-index conflict target renders between the column " +
    "list and DO (ON CONFLICT (cols) WHERE pred DO UPDATE)") {
    import graft.sources.JdbcUpsertSink
    val sql = JdbcUpsertSink.upsertSql("soft_tgt", schema, Seq("id"), "cur",
      conflictWhere = Some("NOT is_deleted"))
    assert(sql.contains(
      "ON CONFLICT (\"id\") WHERE NOT is_deleted DO UPDATE SET"), sql)
    // the default remains the plain unique-index target
    val plain = JdbcUpsertSink.upsertSql("soft_tgt", schema, Seq("id"), "cur")
    assert(plain.contains("ON CONFLICT (\"id\") DO UPDATE SET"), plain)
  }

  test("multi-object FK-ordered sync composes with the PG dialect: " +
    "parent upsert commits before any child statement") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/pgm${System.nanoTime}"
    val db = RecordingJdbc.db(url)
    import graft.sources.v2.{InMemoryEndpoint, SoqlEndpoints}
    import org.apache.spark.sql.types.{StructField, StructType}
    val parentSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cur", LongType),
      StructField("is_deleted", BooleanType)))
    val childSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("parent_id", LongType),
      StructField("cur", LongType),
      StructField("is_deleted", BooleanType)))
    SoqlEndpoints.register("pg_parent", new InMemoryEndpoint(parentSchema,
      Seq(Seq(1L, 100L, false))))
    SoqlEndpoints.register("pg_child", new InMemoryEndpoint(childSchema,
      Seq(Seq(10L, 1L, 110L, false))))
    val cursors = Pipeline.syncAllOnceV2(spark, url,
      Seq(Pipeline.V2Object("pg_child", Seq("id"), "cur", "is_deleted"),
          Pipeline.V2Object("pg_parent", Seq("id"), "cur", "is_deleted")),
      Seq("pg_child" -> "pg_parent"), stateTable = "pgm_state")
    assert(cursors == Seq(("pg_parent", 100L), ("pg_child", 110L)))
    val ev = db.seq
    // the parent's upsert batch commits before ANY child statement
    val iParentUp = ev.indexWhere(
      _.contains("executeBatch: INSERT INTO \"pg_parent_tgt\""))
    val parentConn = ev(iParentUp).split(" ")(0)
    val iParentCommit = ev.zipWithIndex.collectFirst {
      case (e, i) if i > iParentUp && e == s"$parentConn commit" => i
    }.getOrElse(fail(s"parent upsert never committed: $ev"))
    val iChildFirst = ev.indexWhere(_.contains("\"pg_child_tgt\""))
    assert(iParentUp >= 0 && iChildFirst > iParentCommit,
      s"child statements before the parent commit:\n${ev.mkString("\n")}")
    // and both targets were created with the PG dialect
    assert(ev.exists(e => e.contains("CREATE TABLE") &&
      e.contains("\"pg_parent_tgt\"") && e.contains("bigint")))
  }
}
