package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Try, Using}

/** One op as the traced run saw it. `id` is null for an untraced op. */
final case class OpRec(id: String, kind: String, startNs: Long, endNs: Long,
                       ok: Boolean, gcMs: Double = 0, jitMs: Double = 0, heapPeakMb: Double = 0,
                       tablesWritten: Int = 0, var releaseMs: Double = 0,
                       var storageMbAfter: Double = 0) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** CPU time of the JIT compiler threads, read from /proc (Linux). The
  * threads are looked up once: run.py turns the JVM's dynamic compiler
  * threads off, so the set stays the same for the whole run. */
object JitCpu {
  private lazy val schedstats: Seq[java.nio.file.Path] =
    Using.resource(Files.list(Paths.get("/proc/self/task")))(_.iterator.asScala.filter { t =>
      val comm = Try(Files.readString(t.resolve("comm")).trim).getOrElse("")
      comm.startsWith("C1 Compiler") || comm.startsWith("C2 Compiler")
    }.map(_.resolve("schedstat")).toList)

  def ns: Long = schedstats.map(p => Files.readString(p).split(" ")(0).toLong).sum
}

/** CPU time of the program: the whole process, every thread and GC
  * included, less the JIT compiler threads and less what the
  * benchmark's endpoint spent serving calls (it stands in for the
  * remote API). JIT time is left out because it is the JVM's, and it
  * swings from run to run with compile-queue timing; the detail line
  * and the traced run report it on its own. */
object ProgramCpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def ns: Long = os.getProcessCpuTime - JitCpu.ns - IndexedEndpoint.cpuNs.sum
}

/** Live heap: heap in use right after a forced full collection, so
  * memory the program holds, not garbage it has not collected yet, and
  * not what G1 chose to commit. The first collection lets Spark's
  * ContextCleaner see the RDDs, shuffles and broadcasts that are gone;
  * after a pause for it to drop their blocks, the second one frees
  * them, so the figure does not depend on how far the cleaner got. */
object LiveHeap {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).toSeq

  def mb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    pools.map(_.getUsage.getUsed).sum / 1048576.0
  }
}

/** Runs the timed ops of one workload.
  *
  * Untraced run: each op is timed and checked through [[OpLog]], and
  * the program's CPU time over the op (and the `Caches.release` after
  * it) is kept per op in [[cpuMs]]. The workload's own work between ops,
  * such as generating a delta or checking a result, stays out of it.
  * Before every [[Harness.LiveEvery]]-th op the live heap is sampled
  * into [[liveHeapSamples]], outside any op's window, after `quiesce`
  * has settled the workload's target database.
  * Traced run: ops alternate between traced and untraced (the workload
  * picks which), so the same run yields the per-layer records of the
  * traced ops and, from the untraced ones, the tracing overhead.
  */
final class Harness(spark: SparkSession, val tracing: Boolean, quiesce: () => Unit) {
  val log = new OpLog
  val recs = ArrayBuffer.empty[OpRec]
  private var nextId = 0
  private var lastOk = false
  /** Program CPU (op kind, ms) of each op that passed its check. */
  val cpuMs = ArrayBuffer.empty[(String, Double)]
  /** JIT compiler CPU over the same windows. */
  var jitNs = 0L
  def cpuByKind: Map[String, Seq[Double]] =
    cpuMs.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  val liveHeapSamples = ArrayBuffer.empty[Double]

  def sampleLiveHeap(): Unit = { quiesce(); liveHeapSamples += LiveHeap.mb() }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def tables: Set[String] =
    spark.sessionState.catalog.listTables("default").map(_.unquotedString).toSet

  def op[A](kind: String, traced: Boolean)(body: Boolean => A)(
      check: A => Option[String]): Option[A] = {
    val tr = tracing && traced
    val id = if (tr) { nextId += 1; s"pbop-$nextId" } else null
    val before = if (tr) tables else Set.empty[String]
    if (tr) heapPools.foreach(_.resetPeakUsage())
    val gc0 = if (tr) gcMs else 0L
    var s = 0L
    var e = 0L
    var cpu = 0L
    var jit = 0L
    if (log.attempted > 0 && log.attempted % Harness.LiveEvery == 0) sampleLiveHeap()
    val res = log.run(kind) {
      s = Trace.nowNs
      val (c0, j0) = (ProgramCpu.ns, JitCpu.ns)
      try { if (tr) Trace.asOp(spark, id)(body(true)) else body(false) }
      finally { e = Trace.nowNs; cpu = ProgramCpu.ns - c0; jit = JitCpu.ns - j0 }
    }(check)
    lastOk = res.isDefined
    if (lastOk) { cpuMs += kind -> cpu / 1e6; jitNs += jit }
    if (tracing) recs += (
      if (!tr) OpRec(null, kind, s, e, res.isDefined)
      else OpRec(id, kind, s, e, res.isDefined, gcMs = (gcMs - gc0).toDouble, jitMs = jit / 1e6,
        heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        tablesWritten = (tables -- before).size))
    res
  }

  /** Releases operator caches after an op, recording the cost on the
    * op's record when it was traced. */
  def release(): Unit = {
    val t0 = System.nanoTime()
    val (c0, j0) = (ProgramCpu.ns, JitCpu.ns)
    graft.Caches.release(spark)
    val ms = (System.nanoTime() - t0) / 1e6
    if (lastOk) {
      val (kind, opCpuMs) = cpuMs.last
      cpuMs(cpuMs.length - 1) = kind -> (opCpuMs + (ProgramCpu.ns - c0) / 1e6)
      jitNs += JitCpu.ns - j0
    }
    recs.lastOption.filter(_.id != null).foreach { r =>
      r.releaseMs = ms
      val mem = spark.sparkContext.getExecutorMemoryStatus.values
      r.storageMbAfter = mem.map { case (max, free) => max - free }.sum / 1048576.0
    }
  }
}

object Harness {
  val LiveEvery = 10
}

/** Per-layer metrics of a traced run, and the spans file. */
object TraceReport {
  val metricNames: Seq[(String, String)] = Seq(
    "endpoint.calls" -> "count", "endpoint.rows" -> "count", "endpoint.ms" -> "ms",
    "pipeline.self_ms" -> "ms", "pin.ms" -> "ms", "pin.rows" -> "count",
    "jdbc.rows_bound" -> "count", "jdbc.batches" -> "count", "jdbc.ms" -> "ms",
    "jdbc.connections" -> "count", "jdbc.metadata_calls" -> "count",
    "jdbc.statements" -> "count", "jdbc.commits" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.sched_delay_ms" -> "ms", "spark.plan_ms" -> "ms", "spark.job_ms" -> "ms",
    "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms",
    "spark.gc_ms" -> "ms", "spark.shuffle_write_bytes" -> "bytes",
    "spark.shuffle_read_bytes" -> "bytes", "spark.input_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.peak_exec_mem_mb" -> "MB",
    "caches.release_ms" -> "ms", "caches.storage_mb_after" -> "MB",
    "stores.tables_written" -> "count", "jvm.gc_ms" -> "ms", "jvm.jit_cpu_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "trace.ops" -> "count", "trace.overhead_pct" -> "%")

  /** Length of the union of `ivs`, clipped to [from, to]. */
  def covered(ivs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Metrics of one traced op. */
  def opMetrics(r: OpRec, st: SparkTrace): Map[String, Double] = {
    val t = st.totalsOf(r.id)
    val spans = Trace.spansOf(r.id)
    def spanMs(layer: String) = spans.filter(_.layer == layer)
      .map(s => (s.endNs - s.startNs) / 1e6).sum
    val jobs = st.jobsOf(r.id)
    val jobIvs = jobs.filter(_.endMs >= 0).map(j => (j.startMs * 1000000L, j.endMs * 1000000L))
    val planIvs = st.phasesIn(r.startNs / 1000000L, r.endNs / 1000000L)
      .map { case (a, b) => (a * 1000000L, b * 1000000L) }
    val driverIvs = spans.filter(_.onDriver).map(s => (s.startNs, s.endNs))
    val child = covered(jobIvs ++ planIvs ++ driverIvs, r.startNs, r.endNs)
    def c(name: String) = Trace.counter(r.id, name).toDouble
    Map(
      "endpoint.calls" -> c("endpoint.calls"), "endpoint.rows" -> c("endpoint.rows"),
      "endpoint.ms" -> spanMs("endpoint"),
      "pipeline.self_ms" -> (r.endNs - r.startNs - child) / 1e6,
      "pin.ms" -> t.pinMs, "pin.rows" -> t.pinRows.toDouble,
      "jdbc.rows_bound" -> c("jdbc.rows_bound"), "jdbc.batches" -> c("jdbc.batches"),
      "jdbc.ms" -> spanMs("jdbc"), "jdbc.connections" -> c("jdbc.connections"),
      "jdbc.metadata_calls" -> c("jdbc.metadata_calls"),
      "jdbc.statements" -> c("jdbc.statements"), "jdbc.commits" -> c("jdbc.commits"),
      "spark.jobs" -> t.jobs.toDouble, "spark.stages" -> t.stages.toDouble,
      "spark.tasks" -> t.tasks.toDouble, "spark.sched_delay_ms" -> t.schedDelayMs,
      "spark.plan_ms" -> planIvs.map { case (a, b) => (b - a) / 1e6 }.sum,
      "spark.job_ms" -> jobIvs.map { case (a, b) => (b - a) / 1e6 }.sum,
      "spark.executor_run_ms" -> t.runMs, "spark.executor_cpu_ms" -> t.cpuMs,
      "spark.gc_ms" -> t.gcMs, "spark.shuffle_write_bytes" -> t.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> t.shuffleRead.toDouble,
      "spark.input_bytes" -> t.inputBytes.toDouble, "spark.spill_bytes" -> t.spill.toDouble,
      "spark.peak_exec_mem_mb" -> t.peakExecMem / 1048576.0,
      "caches.release_ms" -> r.releaseMs, "caches.storage_mb_after" -> r.storageMbAfter,
      "stores.tables_written" -> r.tablesWritten.toDouble,
      "jvm.gc_ms" -> r.gcMs, "jvm.jit_cpu_ms" -> r.jitMs, "jvm.heap_peak_mb" -> r.heapPeakMb)
  }

  /** Tracing overhead in percent: per op kind, median traced minus
    * median untraced op time, summed over kinds, over the untraced sum. */
  def overheadPct(recs: Seq[OpRec]): Double = {
    val pairs = recs.filter(_.ok).groupBy(_.kind).values.flatMap { rs =>
      val (tr, un) = rs.partition(_.id != null)
      if (tr.isEmpty || un.isEmpty) None
      else Some((Stats.median(tr.map(_.ms)), Stats.median(un.map(_.ms))))
    }
    val base = pairs.map(_._2).sum
    if (base <= 0) 0.0 else 100.0 * (pairs.map(_._1).sum - base) / base
  }

  /** Mean per traced op of every per-layer metric; writes the spans,
    * per-op records and Spark jobs to `jsonl`. */
  def report(spark: SparkSession, h: Harness, st: SparkTrace,
             jsonl: String): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val traced = h.recs.filter(r => r.id != null && r.ok).toSeq
    val per = traced.map(r => r -> opMetrics(r, st))
    val w = new java.io.PrintWriter(jsonl, "UTF-8")
    try {
      def line(kvs: (String, Any)*): Unit = w.println(Json.write(ListMap(kvs: _*)))
      per.foreach { case (r, m) =>
        line(Seq("type" -> "op", "op" -> r.id, "kind" -> r.kind, "start_ns" -> r.startNs,
          "end_ns" -> r.endNs, "ms" -> r.ms) ++ m.toSeq.sortBy(_._1): _*)
        st.jobsOf(r.id).foreach(j => line("type" -> "job", "op" -> r.id, "job" -> j.id,
          "start_ms" -> j.startMs, "end_ms" -> j.endMs, "call_site" -> j.callSite))
      }
      Trace.allSpans.foreach(s => line("type" -> "span", "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs, "driver" -> s.onDriver))
      h.recs.filter(_.id == null).foreach(r =>
        line("type" -> "untraced_op", "kind" -> r.kind, "ms" -> r.ms, "ok" -> r.ok))
    } finally w.close()
    val means = metricNames.map(_._1).filterNot(_.startsWith("trace.")).map { n =>
      n -> (if (per.isEmpty) 0.0 else per.map(_._2(n)).sum / per.length)
    }.toMap
    means ++ Map("trace.ops" -> traced.length.toDouble,
      "trace.overhead_pct" -> overheadPct(h.recs.toSeq))
  }
}

/** JSON rendering of the result and the spans file, with the json4s
  * that ships with Spark. */
object Json {
  private implicit val formats: Formats = DefaultFormats
  def write(v: AnyRef): String = org.json4s.jackson.Serialization.write(v)
}
