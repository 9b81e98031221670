package graft

import java.nio.file.{Files, Paths}
import graft.sources.{CursorStore, JdbcCursorStore, JdbcExec}
import org.scalatest.funsuite.AnyFunSuite

class CursorStoreSpec extends AnyFunSuite {

  private def freshStore = {
    val dir = Files.createTempDirectory("graft-cursor")
    new CursorStore(dir.resolve("state.tsv"))
  }

  test("round-trips long and string cursors per object") {
    val st = freshStore
    assert(st.get("account").isEmpty)
    st.put("account", 1705276800000000L)
    st.put("contact", "2024-01-15T00:00:00Z")
    assert(st.get("account").contains(1705276800000000L))
    assert(st.get("contact").contains("2024-01-15T00:00:00Z"))
    st.put("account", 1705276900000000L) // advance
    assert(st.get("account").contains(1705276900000000L))
    st.reset("account")
    assert(st.get("account").isEmpty)
    assert(st.get("contact").contains("2024-01-15T00:00:00Z"))
  }

  test("state survives reopening the store (new instance, same file)") {
    val dir = Files.createTempDirectory("graft-cursor2")
    val p = dir.resolve("state.tsv")
    new CursorStore(p).put("events", 42L)
    assert(new CursorStore(p).get("events").contains(42L))
  }

  test("concurrent writers over one state file lose no update " +
    "(per-path lock serializes the read-modify-write)") {
    val dir = Files.createTempDirectory("graft-cursor3")
    val p = dir.resolve("state.tsv")
    val objs = (0 until 8).map(i => s"obj$i")
    // one store instance per writer — the interleaving the advisor
    // flagged: load() both, save() both, last save drops the other's key
    val threads = objs.map { o =>
      new Thread(() => {
        val st = new CursorStore(p)
        (1 to 25).foreach(i => st.put(o, i.toLong))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val st = new CursorStore(p)
    objs.foreach(o => assert(st.get(o).contains(25L), s"lost cursor for $o"))
  }

  test("drives incrementalSync end to end: cursor advances and the " +
    "second run pulls nothing") {
    val url = s"jdbc:derby:memory:cursorsync${System.nanoTime};create=true"
    val sync = Pipeline.ObjectSync(
      name = "events_t",
      read = s => Tables.eventsWithNanos(s, "/root/testdata/sf0.001")
        .withColumn("ts_us", org.apache.spark.sql.functions.expr("ts_ns div 1000"))
        .select("event_id", "ts_us", "user_id", "event_type", "value"),
      pk = "event_id", cursorField = "ts_us")
    val spark = SparkSpec.session
    val cursors = new JdbcCursorStore(url, "cursor_state")
    def written = JdbcExec.readTable(spark, url, "events_t").count()
    val next1 = Pipeline.incrementalSync(spark, url, sync, "cursor_state", 500)
    assert(written == 1000 && cursors.get(sync.name).contains(next1))
    val next2 = Pipeline.incrementalSync(spark, url, sync, "cursor_state", 500)
    assert(next2 == next1 && cursors.get(sync.name).contains(next1))
    assert(written == 1000)
  }
}
