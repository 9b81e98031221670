package graft

import graft.sources.{JdbcCursorStore, JdbcExec}
import org.scalatest.funsuite.AnyFunSuite

class CursorStoreSpec extends AnyFunSuite {

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
