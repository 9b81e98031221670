package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.JdbcExec

/** Date, timestamp, decimal and binary values through both load paths
  * of [[JdbcExec.syncOnce]] under both values of
  * `spark.sql.datetime.java8API.enabled`. With the setting on, a write
  * task's rows hold `java.time.LocalDate` and `java.time.Instant`, which
  * only [[JdbcExec]]'s `jdbcValue` turns into JDBC values; with it off
  * they hold `java.sql.Date` and `java.sql.Timestamp`. Both settings must
  * store the same values, and those must be the source's.
  */
class JavaTimeSyncSpec extends SparkSpec {
  import spark.implicits._

  private val java8 = "spark.sql.datetime.java8API.enabled"
  private val n = 24

  /** `n` versions of 5 keys, the later ones with the larger cursor,
    * built from SQL expressions so that the frame itself does not depend
    * on the setting. Every value column has a null in some version. */
  private def source: DataFrame = spark.range(n).select(
    coalesce($"id" % 5, lit(0L)).as("id"), // not null: it is the key
    ($"id" + 100).as("cur"),
    when($"id" === 21, lit(null)).otherwise(
      date_add(lit("1969-12-29").cast(DateType), ($"id" * 731).cast("int"))).as("d"),
    when($"id" === 22, lit(null)).otherwise(
      timestamp_micros(lit(-86400000123456L) + $"id" * 96077123457321L)).as("ts"),
    when($"id" === 23, lit(null)).otherwise(
      ($"id" * 12.25 - 100.5).cast(DecimalType(12, 2))).as("amt"),
    when($"id" === 20, lit(null)).otherwise(
      unhex(lpad(hex($"id" * 40961 + 1), 8, "0"))).as("bin"))

  private def withJava8[A](on: Boolean)(body: => A): A = {
    val old = spark.conf.getOption(java8)
    spark.conf.set(java8, on.toString)
    try body finally old.fold(spark.conf.unset(java8))(spark.conf.set(java8, _))
  }

  /** The stored table read over plain JDBC, so the reading does not
    * depend on the setting: id -> (date, timestamp, decimal, hex). */
  private def stored(url: String): Map[Long, Seq[String]] =
    JdbcExec.withConnection(url) { conn =>
      val rs = conn.createStatement().executeQuery(
        """SELECT "id", "d", "ts", "amt", "bin" FROM "jt_tgt"""")
      val b = Map.newBuilder[Long, Seq[String]]
      while (rs.next()) b += rs.getLong(1) -> Seq(
        String.valueOf(rs.getDate(2)), String.valueOf(rs.getTimestamp(3)),
        Option(rs.getBigDecimal(4)).map(_.toPlainString).orNull,
        Option(rs.getBytes(5)).map(_.map("%02x".format(_)).mkString).orNull)
      rs.close()
      b.result()
    }

  /** One sync of the whole source into a fresh database; a `batchSize`
    * below `n` takes the pinned parallel load, one of `n` or more the
    * one-task load. */
  private def sync(on: Boolean, batchSize: Int): Map[Long, Seq[String]] = {
    val url = s"jdbc:derby:memory:jt${System.nanoTime};create=true"
    withJava8(on) {
      val pull = source
      JdbcExec.withConnection(url) { conn =>
        JdbcExec.ensureTable(conn, "jt_tgt", pull.schema, Seq("id"))
      }
      assert(JdbcExec.syncOnce(spark, url, "jt_tgt", Seq("id"), "jt_state",
        "jt", _ => pull, "cur", null, batchSize) == 100L + n - 1)
    }
    stored(url)
  }

  test("DATE, TIMESTAMP, DECIMAL and binary values store the same under " +
    "both java8API settings, through the one-task and the parallel load") {
    // the latest version of each key, read with the java.sql types
    val want = withJava8(on = false) {
      source.collect().groupBy(_.getLong(0)).map { case (id, versions) =>
        val r = versions.maxBy(_.getLong(1))
        id -> Seq(String.valueOf(r.getDate(2)), String.valueOf(r.getTimestamp(3)),
          Option(r.getDecimal(4)).map(_.toPlainString).orNull,
          Option(r.getAs[Array[Byte]](5)).map(_.map("%02x".format(_)).mkString).orNull)
      }
    }
    // keys 0-3 each end on a version with one null value
    assert(want.size == 5 &&
      want.values.flatten.count(v => v == null || v == "null") == 4, want)
    for (batchSize <- Seq(n, n - 1); on <- Seq(true, false))
      withClue(s"batchSize $batchSize, $java8=$on: ") {
        assert(sync(on, batchSize) == want)
      }
  }
}
