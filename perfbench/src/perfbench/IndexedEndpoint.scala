package perfbench

import graft.sources.v2.SoqlEndpoint
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Stand-in for the remote SOQL API, indexed by the cursor field.
  *
  * Rows are kept in cursor order, so a pushed cursor range is found by
  * binary search instead of a scan over every row; the matching range
  * is split into `pages` contiguous slices, one per page partition.
  * Appends must carry cursor values above every row already held (the
  * generators hand out strictly increasing modstamps). It accepts only
  * predicates on the cursor field; Spark evaluates any other filter
  * itself. Each call builds
  * its whole page up front: that is the API's own time, which the
  * traced run records as `endpoint.ms`. The CPU time of every call is
  * summed into [[IndexedEndpoint.cpuNs]], so that it can be kept out of
  * program time.
  */
final class IndexedEndpoint(schema: StructType, cursorField: String,
                            pages: Int, initial: Seq[IndexedSeq[Any]])
    extends SoqlEndpoint {
  private val cursorIdx = schema.fieldIndex(cursorField)

  // (cursor values, rows), replaced whole on append
  @volatile private var snap: (Array[Long], Array[IndexedSeq[Any]]) =
    (Array.empty, Array.empty)
  append(initial)

  def append(rows: Seq[IndexedSeq[Any]]): Unit = synchronized {
    val (ks, rs) = snap
    val add = rows.map(r => r(cursorIdx).asInstanceOf[Long]).toArray
    require(add.indices.forall(i =>
      (if (i == 0) ks.lastOption.forall(_ < add(0)) else add(i - 1) < add(i))),
      "appended rows must carry strictly increasing cursor values")
    snap = (ks ++ add, rs ++ rows)
  }

  override def accepts(f: Filter): Boolean = f match {
    case GreaterThan(`cursorField`, _: Number) | GreaterThanOrEqual(`cursorField`, _: Number) |
         LessThan(`cursorField`, _: Number) | LessThanOrEqual(`cursorField`, _: Number) |
         EqualTo(`cursorField`, _: Number) | IsNotNull(`cursorField`) => true
    case And(l, r) => accepts(l) && accepts(r)
    case _ => false
  }

  override def describe(): StructType = IndexedEndpoint.charged(Trace.span("endpoint", "describe") {
    Trace.count("endpoint.calls")
    schema
  })

  override def pageCount: Int = pages

  override def maxCursor(field: String): Option[Long] =
    IndexedEndpoint.charged(Trace.span("endpoint", "maxCursor") {
      Trace.count("endpoint.calls")
      require(field == cursorField, s"not indexed by $field")
      snap._1.lastOption
    })

  override def query(cols: Seq[String], filters: Seq[Filter],
                     page: Int): Iterator[Seq[Any]] =
    IndexedEndpoint.charged(Trace.span("endpoint", "query") {
      val (ks, rs) = snap
      var lo = Long.MinValue
      var hi = Long.MaxValue
      var empty = false
      filters.flatMap(flatten).foreach {
        case GreaterThan(_, v: Number) =>
          if (v.longValue == Long.MaxValue) empty = true
          else lo = math.max(lo, v.longValue + 1)
        case GreaterThanOrEqual(_, v: Number) => lo = math.max(lo, v.longValue)
        case LessThan(_, v: Number) =>
          if (v.longValue == Long.MinValue) empty = true
          else hi = math.min(hi, v.longValue - 1)
        case LessThanOrEqual(_, v: Number) => hi = math.min(hi, v.longValue)
        case EqualTo(_, v: Number) => lo = math.max(lo, v.longValue); hi = math.min(hi, v.longValue)
        case _ => () // IsNotNull(cursor): the cursor is never null
      }
      if (empty || lo > hi) { lo = 0; hi = -1 }
      val from = lowerBound(ks, lo)
      val until = if (hi == Long.MaxValue) ks.length else lowerBound(ks, hi + 1)
      val n = math.max(0, until - from)
      val a = from + (n.toLong * page / pages).toInt
      val b = from + (n.toLong * (page + 1) / pages).toInt
      val colIdx = cols.map(schema.fieldIndex).toArray
      val out = (a until b).iterator.map(rs).map(r => colIdx.toSeq.map(r)).toArray
      Trace.count("endpoint.calls")
      Trace.count("endpoint.rows", out.length)
      out
    }).iterator

  /** First index whose cursor value is >= `k`. */
  private def lowerBound(ks: Array[Long], k: Long): Int = {
    var l = 0
    var h = ks.length
    while (l < h) {
      val m = (l + h) >>> 1
      if (ks(m) < k) l = m + 1 else h = m
    }
    l
  }

  private def flatten(f: Filter): Seq[Filter] = f match {
    case And(l, r) => flatten(l) ++ flatten(r)
    case other => Seq(other)
  }
}

object IndexedEndpoint {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU time spent inside endpoint calls, on any thread. */
  val cpuNs = new java.util.concurrent.atomic.LongAdder

  private def charged[A](f: => A): A = {
    val t0 = threads.getCurrentThreadCpuTime
    try f
    finally cpuNs.add(threads.getCurrentThreadCpuTime - t0)
  }
}
