package perfbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Seeded input tables for `query_mix`, in the layout `graft.Tables`
  * reads (`<dir>/<table>.parquet`) and with the fixtures' value domains
  * (TPC-H-like star schema at about scale 0.01, an event stream, a text
  * corpus with some near-duplicates and clustered 64-d embeddings). */
object QueryData {
  val tables: Seq[String] = Seq("region", "nation", "supplier", "customer",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private val regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Array("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val adjectives = Array("small", "red", "large", "blue", "shiny", "old")
  private val nouns = Array("ring", "widget", "bolt", "gear", "panel", "valve")
  private val langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  private val vocab = ("a the key agg row scan slow fast table value part hash merge " +
    "batch spark line sort window data column join small big customer query " +
    "order group stream filter vector").split(" ")

  private def schema(t: String): StructType = t match {
    case "orders" => StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, " +
      "o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING")
    case "lineitem" => StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, " +
      "l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ")
    case "events" => StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING")
    case other => graft.Tables.schemas(other)
  }

  /** Rows of every table for input `variant`. */
  def generate(variant: Long): Map[String, Seq[Row]] = {
    val r = new java.util.SplittableRandom(0x5eed0000L + variant)
    def pick[A](xs: Array[A]): A = xs(r.nextInt(xs.length))
    def cents(max: Double): Double = math.round(r.nextDouble() * max * 100) / 100.0
    def day(fromYear: Int, years: Int): LocalDateTime =
      LocalDateTime.of(fromYear, 1, 1, 0, 0).plusDays(r.nextInt(365 * years).toLong)
    val nCust = 1500; val nSupp = 100; val nPart = 2000; val nOrders = 15000
    val nEvents = 10000; val nUsers = 150; val nDocs = 500; val dim = 64

    Map(
      "region" -> regions.indices.map(i => Row(i, regions(i))),
      "nation" -> (0 until 25).map(i => Row(i, f"NATION_$i", i % 5)),
      "supplier" -> (0 until nSupp).map(i =>
        Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), cents(10000))),
      "customer" -> (0 until nCust).map(i =>
        Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), cents(10000), pick(segments))),
      "part" -> (0 until nPart).map(i =>
        Row(i.toLong, s"${pick(adjectives)} ${pick(nouns)}", s"Brand#${1 + r.nextInt(25)}",
          pick(partTypes), 1 + r.nextInt(50), 900 + cents(1100))),
      "orders" -> (0 until nOrders).map(i =>
        Row(i.toLong, r.nextLong(nCust.toLong), pick(Array("F", "O", "P")), cents(500000),
          day(1995, 7), pick(priorities))),
      "lineitem" -> (0 until nOrders).flatMap { o =>
        (1 to 1 + r.nextInt(7)).map { ln =>
          Row(o.toLong, r.nextLong(nPart.toLong), r.nextLong(nSupp.toLong), ln,
            (1 + r.nextInt(50)).toDouble, cents(100000), r.nextInt(11) / 100.0,
            r.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("F", "O")),
            day(1995, 7))
        }
      },
      "events" -> (0 until nEvents).map { i =>
        val ts = LocalDateTime.of(2024, 1, 1, 0, 0)
          .plusNanos((r.nextLong(30L * 86400L * 1000000L)) * 1000L)
        Row(i.toLong, ts, r.nextLong(nUsers.toLong), pick(SyncGen.eventTypes), cents(100),
          s"""{"k": ${r.nextInt(100)}}""")
      },
      "documents" -> {
        val texts = scala.collection.mutable.ArrayBuffer.empty[String]
        (0 until nDocs).map { i =>
          val text =
            if (i > 10 && r.nextDouble() < 0.05) {
              // near-duplicate of an earlier document: one token changed
              val toks = texts(r.nextInt(texts.length)).split(" ")
              toks(r.nextInt(toks.length)) = pick(vocab)
              toks.mkString(" ")
            } else Seq.fill(10 + r.nextInt(80))(pick(vocab)).mkString(" ")
          texts += text
          Row(i.toLong, text, pick(langs), s"src${r.nextInt(20)}", text.length.toLong)
        }
      },
      "embeddings" -> {
        val centroids = Array.fill(10, dim)(r.nextDouble() * 2 - 1)
        (0 until nDocs).map { i =>
          val label = r.nextInt(10)
          val v = centroids(label).map(c => (c + (r.nextDouble() - 0.5) * 0.6).toFloat)
          Row(i.toLong, v.toSeq, label)
        }
      })
  }

  /** Writes `data` (from [[generate]]) under `dir`. */
  def write(spark: SparkSession, dir: String, data: Map[String, Seq[Row]]): Unit =
    tables.foreach { t =>
      spark.createDataFrame(data(t).asJava, schema(t)).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
}
