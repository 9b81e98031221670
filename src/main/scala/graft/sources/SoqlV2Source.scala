package graft.sources.v2

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 shell for the reference's extract side (SURVEY §1.1 /
  * §3.1): the describe → SOQL-with-pushdown shape as a first-class
  * Spark source. `spark.read.format("graft-soql").option("object", x)`
  * resolves an endpoint, `inferSchema` is the describe() call, and the
  * scan builder folds Catalyst's pushed filters and required columns
  * into the SOQL the endpoint executes — so
  * `df.filter(cursor > x).select(a, b)` reaches the remote API as
  * `SELECT a, b FROM obj WHERE cursor > x`, exactly the incremental
  * pull IncrementalSource implements relationally.
  *
  * Offline the endpoint is an in-memory fake fed from parquet
  * (Dsv2SourceSpec); the live deployment implements [[SoqlEndpoint]]
  * over the REST API. Scale notes: pagination IS the parallelism —
  * `planInputPartitions` yields one partition per page range, each
  * reader pulls its own page (the Bulk-API pattern), so extraction
  * saturates executors without a driver bottleneck.
  */
trait SoqlEndpoint extends Serializable {
  /** describe(): the object's schema, field names + types. */
  def describe(): StructType
  /** Number of parallel page partitions for a full pull. */
  def pageCount: Int
  /** Execute the (column-pruned, filter-pushed) query for one page.
    * `filters` are the pushed predicates this endpoint accepted via
    * [[accepts]]; rows come back column-ordered per `cols`. */
  def query(cols: Seq[String], filters: Seq[Filter], page: Int): Iterator[Seq[Any]]
  /** Which pushed predicates this endpoint can evaluate remotely
    * (translate into the SOQL WHERE clause). */
  def accepts(f: Filter): Boolean = SoqlFilters.translatable(f)
  /** Largest committed value of the cursor field right now — the
    * streaming high-watermark (`SELECT MAX(cursor) FROM obj`). None on
    * an empty object. */
  def maxCursor(field: String): Option[Long] = None
}

/** SOQL translation for the pushable predicate subset. */
object SoqlFilters {
  def translatable(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual |
         _: LessThan | _: LessThanOrEqual | _: IsNotNull | _: IsNull => true
    case And(l, r) => translatable(l) && translatable(r)
    case _ => false
  }

  private def lit(v: Any): String = v match {
    case s: String => "'" + s.replace("'", "\\'") + "'"
    case other => String.valueOf(other)
  }

  /** The WHERE-clause rendering of one pushed filter. */
  def toSoql(f: Filter): String = f match {
    case EqualTo(a, v) => s"$a = ${lit(v)}"
    case GreaterThan(a, v) => s"$a > ${lit(v)}"
    case GreaterThanOrEqual(a, v) => s"$a >= ${lit(v)}"
    case LessThan(a, v) => s"$a < ${lit(v)}"
    case LessThanOrEqual(a, v) => s"$a <= ${lit(v)}"
    case IsNotNull(a) => s"$a != null"
    case IsNull(a) => s"$a = null"
    case And(l, r) => s"(${toSoql(l)} AND ${toSoql(r)})"
    case other => throw new IllegalArgumentException(s"untranslatable $other")
  }

  def soqlFor(obj: String, cols: Seq[String], filters: Seq[Filter]): String = {
    val where =
      if (filters.isEmpty) "" else " WHERE " + filters.map(toSoql).mkString(" AND ")
    s"SELECT ${cols.mkString(", ")} FROM $obj$where"
  }
}

/** Endpoint registry — the offline-test seam. Options carry strings
  * only, so the provider resolves the endpoint by name; a live
  * deployment registers a REST-backed endpoint under its object name
  * at session setup. Endpoints must be constructible executor-side
  * (they are Serializable and ship inside the reader factory). */
object SoqlEndpoints {
  private val reg = new ConcurrentHashMap[String, SoqlEndpoint]()
  def register(name: String, ep: SoqlEndpoint): Unit = reg.put(name, ep)
  def apply(name: String): SoqlEndpoint = {
    val ep = reg.get(name)
    require(ep != null, s"no SoqlEndpoint registered under '$name'")
    ep
  }
}

/** In-memory endpoint fake: rows loaded from parquet by the test,
  * filters evaluated locally — the contract double for the REST API. */
class InMemoryEndpoint(val schema: StructType, rows: Seq[Seq[Any]],
                       override val pageCount: Int = 4)
    extends SoqlEndpoint {
  override def describe(): StructType = schema

  private def idx(name: String): Int = schema.fieldIndex(name)

  private def cmp(a: Any, b: Any): Int = (a, b) match {
    case (null, _) | (_, null) => throw new IllegalArgumentException("null cmp")
    case (x: Long, y: Number) => java.lang.Long.compare(x, y.longValue)
    case (x: Int, y: Number) => java.lang.Long.compare(x.toLong, y.longValue)
    case (x: Double, y: Number) => java.lang.Double.compare(x, y.doubleValue)
    case (x: String, y: String) => x.compareTo(y)
    case other => throw new IllegalArgumentException(s"uncomparable $other")
  }

  private def eval(f: Filter, row: Seq[Any]): Boolean = f match {
    case EqualTo(a, v) => row(idx(a)) != null && cmp(row(idx(a)), v) == 0
    case GreaterThan(a, v) => row(idx(a)) != null && cmp(row(idx(a)), v) > 0
    case GreaterThanOrEqual(a, v) => row(idx(a)) != null && cmp(row(idx(a)), v) >= 0
    case LessThan(a, v) => row(idx(a)) != null && cmp(row(idx(a)), v) < 0
    case LessThanOrEqual(a, v) => row(idx(a)) != null && cmp(row(idx(a)), v) <= 0
    case IsNotNull(a) => row(idx(a)) != null
    case IsNull(a) => row(idx(a)) == null
    case And(l, r) => eval(l, row) && eval(r, row)
    case other => throw new IllegalArgumentException(s"unsupported $other")
  }

  override def query(cols: Seq[String], filters: Seq[Filter],
                     page: Int): Iterator[Seq[Any]] = {
    val colIdx = cols.map(idx)
    current.iterator.zipWithIndex
      .filter { case (_, i) => i % pageCount == page }
      .map(_._1)
      .filter(r => filters.forall(eval(_, r)))
      .map(r => colIdx.map(r))
  }

  /** Snapshot of the row set (overridden by the mutable variant). */
  protected def current: Seq[Seq[Any]] = rows

  override def maxCursor(field: String): Option[Long] = {
    val i = idx(field)
    val vs = current.iterator.map(_(i)).collect {
      case l: Long => l
      case n: Number => n.longValue
    }.toSeq
    if (vs.isEmpty) None else Some(vs.max)
  }
}

object InMemoryEndpoint {
  def apply(schema: StructType, rows: Seq[Seq[Any]],
            pageCount: Int = 4): InMemoryEndpoint =
    new InMemoryEndpoint(schema, rows, pageCount)
}

/** Appendable endpoint fake for the streaming tests: new records land
  * via [[append]], and each micro-batch pull sees the snapshot at call
  * time. Single-JVM by construction (local-mode tests); a cluster
  * deployment implements SoqlEndpoint over the real remote API, which
  * is shared state by nature. */
final class MutableSoqlEndpoint(schema: StructType,
                                initial: Seq[Seq[Any]],
                                pages: Int = 4)
    extends InMemoryEndpoint(schema, initial, pages) {
  private val buf =
    new java.util.concurrent.CopyOnWriteArrayList[Seq[Any]]()
  initial.foreach(buf.add)
  def append(rows: Seq[Seq[Any]]): Unit = rows.foreach(buf.add)
  override protected def current: Seq[Seq[Any]] = {
    import scala.jdk.CollectionConverters._
    buf.asScala.toSeq
  }
}

/** `spark.read.format("graft-soql")` — registered via
  * META-INF/services so the short name resolves; the fully-qualified
  * class name works too. */
class SoqlTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-soql"

  private def objName(options: CaseInsensitiveStringMap): String = {
    val n = options.get("object")
    require(n != null, "graft-soql requires .option(\"object\", <name>)")
    n
  }

  // describe() IS schema inference — the reference's field-map call
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SoqlEndpoints(objName(options)).describe()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table = {
    // properties preserve the reader options; key lookup must be
    // case-insensitive (.option("cursorField", …) arrives verbatim)
    import scala.jdk.CollectionConverters._
    def prop(key: String): Option[String] = properties.asScala
      .collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }
    SoqlTable(prop("object").orNull, schema, prop("cursorField"))
  }

  override def supportsExternalMetadata(): Boolean = false
}

final case class SoqlTable(obj: String, override val schema: StructType,
                           cursorField: Option[String])
    extends Table with SupportsRead {
  override def name(): String = s"soql:$obj"
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SoqlScanBuilder(obj, schema, cursorField)
}

/** Folds Catalyst pushdown into the SOQL: accepted filters join the
  * WHERE clause (and are NOT re-evaluated by Spark); pruned columns
  * become the SELECT list; a pushed LIMIT becomes a per-page row cap
  * (partial pushdown — Spark keeps its global limit). */
final class SoqlScanBuilder(obj: String, full: StructType,
                            cursorField: Option[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = full
  private var limit: Option[Int] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val ep = SoqlEndpoints(obj)
    val (accepted, rejected) = filters.partition(ep.accepts)
    pushed = accepted
    rejected // Spark keeps evaluating what the endpoint can't
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve describe() field order (SOQL SELECT lists are ordered)
    required = StructType(full.fields.filter(f =>
      requiredSchema.fieldNames.contains(f.name)))

  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  // each page returns at most `limit` rows — an upper bound, not the
  // global cut, so Spark must still apply its own limit
  override def isPartiallyPushed: Boolean = true

  override def build(): Scan = SoqlScan(obj, required, pushed, limit,
    cursorField)
}

final case class SoqlScan(obj: String, required: StructType,
                          pushed: Array[Filter], limit: Option[Int],
                          cursorField: Option[String])
    extends Scan with Batch {
  val soql: String =
    SoqlFilters.soqlFor(obj, required.fieldNames.toSeq, pushed.toSeq) +
      limit.map(l => s" LIMIT $l").getOrElse("")

  override def readSchema(): StructType = required

  // EXPLAIN shows the exact remote query — Dsv2SourceSpec pins the
  // pushed cursor predicate through this
  override def description(): String = s"SoqlScan soql=[$soql]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    Array.tabulate(SoqlEndpoints(obj).pageCount)(SoqlPagePartition(_))

  override def createReaderFactory(): PartitionReaderFactory =
    SoqlReaderFactory(obj, required, pushed.toSeq, limit)

  /** The streaming twin of the incremental extract: the cursor field
    * IS the stream offset. Each micro-batch pulls
    * `WHERE cursor > start AND cursor <= end` (end = the endpoint's
    * MAX(cursor) at planning time) through the same paged readers, so
    * batch and streaming share one extraction path and the checkpoint
    * carries exactly the [[graft.sources.JdbcCursorStore]] contract. */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SoqlMicroBatchStream(obj, required, pushed.toSeq,
      cursorField.getOrElse(throw new IllegalArgumentException(
        "streaming read requires .option(\"cursorField\", <column>)")))
}

final case class SoqlCursorOffset(cursor: Long) extends Offset {
  override def json(): String = cursor.toString
}

final class SoqlMicroBatchStream(obj: String, required: StructType,
                                 pushed: Seq[Filter], cursorField: String)
    extends MicroBatchStream {
  override def initialOffset(): Offset = SoqlCursorOffset(Long.MinValue)
  override def latestOffset(): Offset = SoqlCursorOffset(
    SoqlEndpoints(obj).maxCursor(cursorField).getOrElse(Long.MinValue))
  override def deserializeOffset(json: String): Offset =
    SoqlCursorOffset(json.toLong)
  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[SoqlCursorOffset].cursor
    val hi = end.asInstanceOf[SoqlCursorOffset].cursor
    if (hi <= lo) Array.empty
    else Array.tabulate(SoqlEndpoints(obj).pageCount)(
      SoqlStreamPartition(_, lo, hi))
  }
  override def createReaderFactory(): PartitionReaderFactory =
    SoqlStreamReaderFactory(obj, required, pushed, cursorField)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class SoqlPagePartition(page: Int) extends InputPartition

final case class SoqlStreamPartition(page: Int, lo: Long, hi: Long)
    extends InputPartition

/** Shared page reader: converts endpoint rows to InternalRows via the
  * Catalyst converter for the pruned schema. */
private[v2] object SoqlPageReader {
  def apply(obj: String, required: StructType, filters: Seq[Filter],
            limit: Option[Int], page: Int): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val toCatalyst =
        CatalystTypeConverters.createToCatalystConverter(required)
      private val base = SoqlEndpoints(obj)
        .query(required.fieldNames.toSeq, filters, page)
      private val it = limit.fold(base)(l => base.take(l))
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) {
          current = toCatalyst(org.apache.spark.sql.Row.fromSeq(it.next()))
            .asInstanceOf[InternalRow]
          true
        } else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
}

final case class SoqlReaderFactory(obj: String, required: StructType,
                                   filters: Seq[Filter], limit: Option[Int])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    SoqlPageReader(obj, required, filters, limit,
      p.asInstanceOf[SoqlPagePartition].page)
}

final case class SoqlStreamReaderFactory(obj: String, required: StructType,
                                         filters: Seq[Filter],
                                         cursorField: String)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SoqlStreamPartition]
    val bounds = Seq(GreaterThan(cursorField, sp.lo),
      LessThanOrEqual(cursorField, sp.hi))
    SoqlPageReader(obj, required, filters ++ bounds, None, sp.page)
  }
}
