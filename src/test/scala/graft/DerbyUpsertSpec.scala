package graft

import java.sql.Connection
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import graft.sources.{DerbyDialect, DerbySql, JdbcExec}

/** [[DerbyDialect.loadBatch]]'s upsert: a keyed UPDATE batch whose
  * cursor guard sits inside each SET, then an INSERT batch of the rows
  * the UPDATE counted 0 for. Both statement texts are fixed per table,
  * so Derby serves them from its statement cache after the first load;
  * the edge cases run on embedded Derby, and a count array the dialect
  * cannot read runs on [[RecordingJdbc]].
  */
class DerbyUpsertSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("cur", LongType)))

  private type Ev = (Long, String, Long, Boolean)

  private def freshDb(tag: String): String =
    s"jdbc:derby:memory:$tag${System.nanoTime};create=true"

  private def create(url: String, table: String, s: StructType,
                     pk: Seq[String]): Unit =
    JdbcExec.withConnection(url)(JdbcExec.ensureTable(_, table, s, pk))

  /** `rows` through `loadBatch` in one committed transaction. */
  private def upsert(url: String, table: String, s: StructType,
                     pk: Seq[String], cursor: String, rows: Seq[Row],
                     batchSize: Int = 2): Unit =
    JdbcExec.withConnection(url) { conn =>
      conn.setAutoCommit(false)
      DerbyDialect.loadBatch(conn, table, s, pk, cursor, rows.iterator, batchSize)
      conn.commit()
    }

  private def rows(url: String, table: String): Seq[Row] =
    JdbcExec.readTable(spark, url, table).collect().toSeq
      .sortBy(r => (r.getLong(0), if (r.isNullAt(1)) "" else r.get(1).toString))

  private def statementCache(conn: Connection): Seq[String] = {
    val st = conn.createStatement()
    try {
      val rs = st.executeQuery("SELECT SQL_TEXT FROM SYSCS_DIAG.STATEMENT_CACHE")
      val b = Seq.newBuilder[String]
      while (rs.next()) b += rs.getString(1)
      b.result()
    } finally st.close()
  }

  test("Derby caches every statement of the load: two one-task syncs " +
    "compile the UPDATE and the INSERT once and name no SESSION table") {
    val url = freshDb("stmtcache")
    val full = schema.add(StructField("is_deleted", BooleanType))
    create(url, "sc_tgt", full, Seq("id"))
    // each round updates, inserts and deletes
    val round1: Seq[Ev] = (1L to 6L).map(i => (i, s"a$i", i, i == 6L))
    val round2: Seq[Ev] = (4L to 9L).map(i => (i, s"b$i", 10 + i, i == 9L))
    def sync(events: Seq[Ev]): Long = JdbcExec.syncOnce(spark, url, "sc_tgt",
      Seq("id"), "sc_state", "sc",
      _ => events.toDF("id", "name", "cur", "is_deleted").coalesce(1),
      "cur", "is_deleted", batchSize = 100)

    assert(sync(round1) == 6L)
    val after1 = JdbcExec.withConnection(url)(statementCache)
    assert(sync(round2) == 19L)
    val after2 = JdbcExec.withConnection(url)(statementCache)
    assert(after2.contains(DerbySql.updateSql("sc_tgt", full, Seq("id"), "cur")),
      after2.mkString("\n"))
    assert(after2.contains(DerbySql.insertSql("sc_tgt", full)), after2.mkString("\n"))
    assert(!after2.exists(_.toUpperCase.contains("SESSION")), after2.mkString("\n"))
    // the second round compiles nothing new
    assert(after2.size == after1.size && after2.toSet == after1.toSet,
      s"round 1:\n${after1.mkString("\n")}\nround 2:\n${after2.mkString("\n")}")
    assert(rows(url, "sc_tgt").map(r => (r.getLong(0), r.getString(1))) ==
      Seq(1L -> "a1", 2L -> "a2", 3L -> "a3", 4L -> "b4", 5L -> "b5",
        6L -> "b6", 7L -> "b7", 8L -> "b8"))
  }

  test("an UPDATE count array without one 0 or 1 per row throws before " +
    "any INSERT") {
    RecordingJdbc.register()
    val url = s"jdbc:postgresql://fake/counts${System.nanoTime}"
    // the fake's executeBatch answers an empty count array
    val e = intercept[java.sql.SQLException] {
      JdbcExec.withConnection(url) { conn =>
        DerbyDialect.loadBatch(conn, "t", schema, Seq("id"), "cur",
          Iterator(Row(1L, "a", 1L), Row(2L, "b", 2L)), batchSize = 10)
      }
    }
    assert(e.getMessage.contains("2 rows, counts []"), e.getMessage)
    val ev = RecordingJdbc.db(url).seq
    assert(ev.exists(_.contains("executeBatch: UPDATE \"t\"")), ev)
    assert(!ev.exists(x => x.contains("executeBatch: INSERT") ||
      x.contains("bind[INSERT")), ev)
  }

  test("an older version of a present key is neither written nor " +
    "inserted again; a stored null cursor is overwritten") {
    val url = freshDb("older")
    create(url, "o_tgt", schema, Seq("id"))
    upsert(url, "o_tgt", schema, Seq("id"), "cur",
      Seq(Row(1L, "new", 10L), Row(2L, "nullcur", null), Row(3L, "keep", 5L)))
    // one batch mixes a refused older version, a null stored cursor, an
    // equal cursor, and an absent key
    upsert(url, "o_tgt", schema, Seq("id"), "cur",
      Seq(Row(1L, "old", 5L), Row(2L, "set", 3L), Row(3L, "tie", 5L),
        Row(4L, "ins", 1L)), batchSize = 4)
    assert(rows(url, "o_tgt") == Seq(Row(1L, "new", 10L), Row(2L, "set", 3L),
      Row(3L, "tie", 5L), Row(4L, "ins", 1L)))
  }

  test("a table whose columns are all key columns keeps a present key " +
    "and inserts an absent one") {
    val url = freshDb("allkey")
    val keys = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("cur", LongType, nullable = false)))
    create(url, "k_tgt", keys, Seq("id", "cur"))
    upsert(url, "k_tgt", keys, Seq("id", "cur"), "cur",
      Seq(Row(1L, 1L), Row(1L, 2L)))
    upsert(url, "k_tgt", keys, Seq("id", "cur"), "cur",
      Seq(Row(1L, 1L), Row(2L, 2L), Row(1L, 2L)), batchSize = 3)
    assert(rows(url, "k_tgt") == Seq(Row(1L, 1L), Row(1L, 2L), Row(2L, 2L)))
  }

  test("a row's trailing tiebreak column is not written, on insert or " +
    "update") {
    val url = freshDb("tiebreak")
    create(url, "t_tgt", schema, Seq("id"))
    upsert(url, "t_tgt", schema, Seq("id"), "cur",
      Seq(Row(1L, "a", 1L, 42L), Row(2L, "b", 1L, -7L)))
    upsert(url, "t_tgt", schema, Seq("id"), "cur",
      Seq(Row(1L, "a2", 2L, 9L), Row(3L, "c", 2L, 0L)))
    assert(JdbcExec.readTable(spark, url, "t_tgt").columns.toSeq ==
      Seq("id", "name", "cur"))
    assert(rows(url, "t_tgt") ==
      Seq(Row(1L, "a2", 2L), Row(2L, "b", 1L), Row(3L, "c", 2L)))
  }
}
