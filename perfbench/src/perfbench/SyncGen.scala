package perfbench

import org.apache.spark.sql.types._
import scala.collection.mutable

/** One source version of a record: its key, cursor value (modstamp),
  * soft-delete flag and the full row in the object's schema order. */
final case class Version(key: Long, modstamp: Long, deleted: Boolean,
                         row: IndexedSeq[Any])

/** A synced object as the source describes it: key first, then the
  * attributes, then `modstamp` (the cursor) and `is_deleted`. */
final case class ObjSpec(name: String, pk: String, attrs: StructType) {
  val schema: StructType = StructType(
    attrs.fields ++ Seq(
      StructField("modstamp", LongType, nullable = false),
      StructField("is_deleted", BooleanType, nullable = false)))
}

/** The sink's merge rule, used as the expected target state: per key
  * the version with the highest modstamp wins, a tombstone winning a
  * tie; keys whose winner is a tombstone are absent. */
final class LatestWins {
  private val state = mutable.HashMap.empty[Long, Version]

  def apply(v: Version): Unit = state.get(v.key) match {
    case Some(cur) if cur.modstamp > v.modstamp ||
        (cur.modstamp == v.modstamp && (cur.deleted || !v.deleted)) => ()
    case _ => state(v.key) = v
  }

  def ++=(vs: Iterable[Version]): this.type = { vs.foreach(apply); this }

  def live: Seq[Version] = state.valuesIterator.filterNot(_.deleted).toSeq
  def isLive(key: Long): Boolean = state.get(key).exists(!_.deleted)
}

object LatestWins {
  def of(vs: Iterable[Version]): LatestWins = new LatestWins ++= vs

  /** Reference rule by brute force: sort the whole log and keep the
    * last version per key. */
  def bruteForce(log: Seq[Version]): Map[Long, Version] =
    log.sortBy(v => (v.modstamp, if (v.deleted) 1 else 0))
      .foldLeft(Map.empty[Long, Version])((m, v) => m.updated(v.key, v))
      .filter { case (_, v) => !v.deleted }
}

/** Seeded generators for the two sync workloads. The program sees only
  * the rows they produce, served by an [[IndexedEndpoint]]. */
object SyncGen {
  private val words = Array("alpha", "bravo", "delta", "echo", "kilo",
    "lima", "oscar", "romeo", "sierra", "tango", "victor", "zulu")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE",
    "HOUSEHOLD", "MACHINERY")
  private val statuses = Array("F", "O", "P")
  val eventTypes = Array("click", "view", "signup", "purchase", "error")

  private def ddl(s: String): StructType = StructType.fromDDL(s)

  val region = ObjSpec("pb_region", "r_regionkey", ddl("r_regionkey BIGINT, r_name STRING"))
  val nation = ObjSpec("pb_nation", "n_nationkey",
    ddl("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT"))
  val customer = ObjSpec("pb_customer", "c_custkey",
    ddl("c_custkey BIGINT, c_name STRING, c_nationkey BIGINT, c_acctbal DOUBLE, c_mktsegment STRING"))
  val orders = ObjSpec("pb_orders", "o_orderkey",
    ddl("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate STRING"))
  val events = ObjSpec("pb_events", "event_id",
    ddl("event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"))

  /** FK graph, as (child, parent) pairs. */
  val bulkDeps: Seq[(String, String)] = Seq(
    nation.name -> region.name, customer.name -> nation.name,
    orders.name -> customer.name)

  private def cents(r: java.util.SplittableRandom, max: Double): Double =
    math.round(r.nextDouble() * max * 100) / 100.0

  private def name(r: java.util.SplittableRandom, prefix: String): String =
    s"$prefix ${words(r.nextInt(words.length))} ${r.nextInt(100000)}"

  /** The region → nation → customer → orders graph with `customers`
    * customers and ten orders each. Every key gets one version; of the
    * keys, ~2.8% get a later live version, ~1% end as a tombstone and
    * ~0.2% are tombstoned then re-inserted, all in the same window. */
  def bulk(seed: Long, customers: Int): Seq[(ObjSpec, Seq[Version])] = {
    val r = new java.util.SplittableRandom(seed)
    var stamp = 1000L
    def versions(spec: ObjSpec, n: Long)(attrs: Long => Seq[Any]): Seq[Version] = {
      val base = (1L to n).map { k =>
        stamp += 1
        Version(k, stamp, deleted = false, (attrs(k) ++ Seq(stamp, false)).toIndexedSeq)
      }
      val later = base.flatMap { v =>
        val u = r.nextDouble()
        def again(deleted: Boolean): Version = {
          stamp += 1
          Version(v.key, stamp, deleted,
            (attrs(v.key) ++ Seq(stamp, deleted)).toIndexedSeq)
        }
        if (u < 0.010) Seq(again(deleted = true))
        else if (u < 0.012) Seq(again(deleted = true), again(deleted = false))
        else if (u < 0.040) Seq(again(deleted = false))
        else Nil
      }
      base ++ later
    }
    val nOrders = customers.toLong * 10
    Seq(
      region -> versions(region, 5)(k => Seq(k, name(r, "region"))),
      nation -> versions(nation, 25)(k => Seq(k, name(r, "nation"), (k - 1) / 5 + 1)),
      customer -> versions(customer, customers.toLong)(k => Seq(k, name(r, "customer"),
        (r.nextInt(25) + 1).toLong, cents(r, 10000), segments(r.nextInt(segments.length)))),
      orders -> versions(orders, nOrders)(k => Seq(k, (r.nextLong(customers.toLong) + 1),
        statuses(r.nextInt(statuses.length)), cents(r, 500000),
        f"${1995 + r.nextInt(7)}%04d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d")))
  }
}

/** Event stream for the trickle workload: `base` initial events, then
  * deltas of updates (skewed towards hot ids, so an id can repeat
  * within a delta, and may hit an id whose latest version is a
  * tombstone — a re-insert), inserts of new ids and tombstones. Every
  * version gets a fresh, strictly increasing modstamp. */
final class TrickleGen(seed: Long, base: Int) {
  private val r = new java.util.SplittableRandom(seed)
  private var nextId = 0L
  private var stamp = 1000L
  val spec: ObjSpec = SyncGen.events

  private def version(id: Long, deleted: Boolean): Version = {
    stamp += 1
    val row = IndexedSeq[Any](id, 1704067200000000L + stamp * 1000L,
      r.nextLong(5000L), SyncGen.eventTypes(r.nextInt(SyncGen.eventTypes.length)),
      math.round(r.nextDouble() * 100000) / 100.0, s"""{"k": ${r.nextInt(1000)}}""",
      stamp, deleted)
    Version(id, stamp, deleted, row)
  }

  private def fresh(): Version = { nextId += 1; version(nextId, deleted = false) }

  /** Skewed draw over the ids created so far: low ids are hot. */
  private def hotId(): Long =
    1L + math.min(nextId - 1, (math.pow(r.nextDouble(), 3) * nextId).toLong)

  val initial: Seq[Version] = Seq.fill(base)(fresh())

  /** Next delta of `n` versions: 70% updates, 25% inserts, 5% tombstones. */
  def delta(n: Int): Seq[Version] = Seq.fill(n) {
    val u = r.nextDouble()
    if (u < 0.70) version(hotId(), deleted = false)
    else if (u < 0.95) fresh()
    else version(hotId(), deleted = true)
  }

  def maxModstamp: Long = stamp
}
