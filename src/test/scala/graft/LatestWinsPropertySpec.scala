package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import scala.jdk.CollectionConverters._
import graft.sources.JdbcExec

/** One latest-wins rule, two load paths: a generated versioned event
  * log lands the same Derby target through [[JdbcExec.syncOnce]]'s
  * one-task path (`batchSize` >= rows) and through its parallel path
  * (`batchSize` < rows, 4 shuffle partitions), each fed in a shuffled
  * order, and both equal a pure-Scala latest-wins reference. Raw
  * ScalaCheck generators with fixed seeds, as in [[PropertySpec]];
  * `-Dgraft.fuzz.seedBase=<n>` picks other seeds.
  */
class LatestWinsPropertySpec extends SparkSpec {

  private val seedBase =
    sys.props.getOrElse("graft.fuzz.seedBase", "42").toLong

  /** One version of a key: pk bytes (a bigint pk is its first byte),
    * payload, cursor and soft-delete flag. */
  private final case class Ev(pk: Seq[Byte], name: String, cur: Option[Long],
                              deleted: Option[Boolean])

  // small pools, so keys collide, cursors tie, a tombstone ties a live
  // row, and equal (pk, cursor, flag) versions carry different payloads
  private val ev: Gen[Ev] = for {
    pk <- Gen.chooseNum(0, 3)
    name <- Gen.oneOf("a", "b", "c", "d")
    cur <- Gen.frequency(9 -> Gen.chooseNum(1L, 2L).map(Some(_)), 1 -> Gen.const(None))
    deleted <- Gen.frequency(3 -> Some(false), 2 -> Some(true), 1 -> None)
  } yield Ev(Seq(pk.toByte), name, cur, deleted)

  // a syncOnce pull needs one non-null cursor to advance
  private val log: Gen[Seq[Ev]] = Gen.chooseNum(2, 24)
    .flatMap(n => Gen.listOfN(n, ev)).map(_.toSeq)
    .suchThat(_.exists(_.cur.isDefined))

  private def samples(n: Int, offset: Long): Seq[Seq[Ev]] =
    (0 until n).flatMap(i =>
      log.apply(Gen.Parameters.default, Seed(seedBase + offset + i)))

  /** Spark's `xxhash64` over the non-key columns cast to strings,
    * recomputed outside the plan. */
  private def tiebreak(e: Ev): Long =
    Seq(Some(e.name), e.cur.map(_.toString), e.deleted.map(_.toString))
      .foldLeft(42L) {
        case (h, Some(s)) => XxHash64Function.hash(UTF8String.fromString(s), StringType, h)
        case (h, None) => h
      }

  /** The rule: the larger cursor (null loses), then the flag ordered
    * true > false > null, then the larger tiebreak. */
  private def rank(e: Ev): (Boolean, Long, Int, Long) = (
    e.cur.isDefined, e.cur.getOrElse(0L),
    e.deleted.fold(0)(d => if (d) 2 else 1),
    tiebreak(e))

  /** What an empty target holds after loading `events`: each key's
    * winner, if it is live. */
  private def reference(events: Seq[Ev]): Map[Seq[Byte], (String, Option[Long])] =
    events.groupBy(_.pk).values.map(_.maxBy(rank)).collect {
      case e if e.deleted.contains(false) => e.pk -> (e.name, e.cur)
    }.toMap

  private def schema(pkType: DataType) = StructType(Seq(
    StructField("id", pkType, nullable = false),
    StructField("name", StringType),
    StructField("cur", LongType),
    StructField("is_deleted", BooleanType)))

  private def row(e: Ev, pkType: DataType): Row = Row(
    if (pkType == BinaryType) e.pk.toArray else e.pk.head.toLong,
    e.name, e.cur.map(Long.box).orNull, e.deleted.map(Boolean.box).orNull)

  /** `events` synced into a fresh Derby target, read back. */
  private def load(events: Seq[Ev], pkType: DataType,
                   batchSize: Int): Map[Seq[Byte], (String, Option[Long])] = {
    val url = s"jdbc:derby:memory:lw${System.nanoTime};create=true"
    JdbcExec.withConnection(url)(
      JdbcExec.ensureTable(_, "lw_tgt", schema(pkType), Seq("id")))
    val df = spark.createDataFrame(events.map(row(_, pkType)).asJava, schema(pkType))
    JdbcExec.syncOnce(spark, url, "lw_tgt", Seq("id"), "lw_state", "lw",
      _ => df, "cur", "is_deleted", batchSize)
    JdbcExec.readTable(spark, url, "lw_tgt").collect().map { r =>
      val pk = r.get(0) match {
        case b: Array[Byte] => b.toSeq
        case l: Long => Seq(l.toByte)
      }
      pk -> (r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))
    }.toMap
  }

  private def check(pkType: DataType, logs: Seq[Seq[Ev]]): Unit = {
    val spread = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "false")
    val old = spread.map { case (k, _) => k -> spark.conf.getOption(k) }
    spread.foreach { case (k, v) => spark.conf.set(k, v) }
    try logs.zipWithIndex.foreach { case (events, i) =>
      val rnd = new scala.util.Random(seedBase + i)
      val want = reference(events)
      val oneTask = load(rnd.shuffle(events), pkType, batchSize = events.size)
      val parallel = load(rnd.shuffle(events), pkType, batchSize = events.size - 1)
      assert(oneTask == parallel, s"the two paths disagree on $events")
      assert(oneTask == want, s"the loads disagree with the reference on $events")
    } finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("the one-task and the parallel load land the reference's " +
    "latest-wins target, for a bigint and for a binary pk") {
    val bigint = samples(12, 0)
    val binary = samples(4, 1000)
    val keys = (bigint ++ binary).flatMap(_.groupBy(_.pk).values)
    // the generated logs hold every tie the rule orders, and a key
    // whose visible winner each step of the rule decides
    def some(p: Seq[Ev] => Boolean) = keys.exists(p)
    def pairs(p: (Ev, Ev) => Boolean)(g: Seq[Ev]) =
      g.combinations(2).exists { case Seq(a, b) => p(a, b) }
    def top2(g: Seq[Ev]) = g.sortBy(rank).reverse.take(2)
    assert(some(pairs((a, b) => a.cur == b.cur &&
      Set(a.deleted, b.deleted) == Set(Some(true), Some(false)))), "no tombstone-vs-live tie")
    assert(some(_.exists(_.deleted.isEmpty)), "no null flag")
    assert(some(g => g.size > 1 && g.forall(_.cur.isEmpty)) ||
      some(pairs((a, b) => a.cur.isEmpty && b.cur.isDefined)), "no null cursor in a collision")
    assert(some(top2(_) match {
      case Seq(a, b) => a.cur == b.cur && a.deleted != b.deleted
      case _ => false
    }), "no winner decided by the flag")
    assert(some(top2(_) match {
      case Seq(a, b) => a.cur == b.cur && a.deleted == b.deleted &&
        a.deleted.contains(false) && a.name != b.name
      case _ => false
    }), "no live winner decided by the tiebreak")
    check(LongType, bigint)
    check(BinaryType, binary)
  }
}
