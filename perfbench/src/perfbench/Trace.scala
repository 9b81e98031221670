package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** One recorded interval at a layer boundary. Times are epoch nanos. */
final case class Span(op: String, layer: String, name: String,
                      startNs: Long, endNs: Long, onDriver: Boolean)

/** In-memory trace of the traced run.
  *
  * An op (one load, one sync round, one query) gets an id of the form
  * `pbop-<n>` and runs under `sc.setJobGroup(id)`, so every Spark job,
  * stage and task it causes carries that id; executor-side JDBC and
  * endpoint calls read it back from the task's local properties, and
  * driver-side calls from [[driverOp]]. Nothing is recorded outside a
  * traced op or while tracing is off. Everything stays in memory until
  * [[TraceReport.report]] writes it at exit.
  */
object Trace {
  @volatile var enabled = false
  @volatile private var driverOp: String = null

  private val GroupKey = "spark.jobGroup.id"
  private val epochBase = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = epochBase + System.nanoTime()

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, ConcurrentHashMap[String, LongAdder]]()

  def currentOp: String = {
    val tc = TaskContext.get()
    val op = if (tc != null) tc.getLocalProperty(GroupKey) else driverOp
    if (op != null && op.startsWith("pbop-")) op else null
  }

  def count(name: String, n: Long = 1): Unit = if (enabled) {
    val op = currentOp
    if (op != null)
      counters.computeIfAbsent(op, _ => new ConcurrentHashMap())
        .computeIfAbsent(name, _ => new LongAdder).add(n)
  }

  def counter(op: String, name: String): Long =
    Option(counters.get(op)).flatMap(m => Option(m.get(name))).map(_.sum).getOrElse(0L)

  def span[A](layer: String, name: String)(f: => A): A =
    if (!enabled) f
    else {
      val op = currentOp
      if (op == null) f
      else {
        val t0 = nowNs
        try f
        finally spans.add(Span(op, layer, name, t0, nowNs, TaskContext.get() == null))
      }
    }

  def spansOf(op: String): Seq[Span] = spans.asScala.filter(_.op == op).toSeq

  /** Runs `f` as op `id` (job group + driver-side attribution). */
  def asOp[A](spark: SparkSession, id: String)(f: => A): A = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, id, interruptOnCancel = false)
    driverOp = id
    try f
    finally { driverOp = null; sc.clearJobGroup() }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq
}

/** Per-op Spark engine totals, fed by [[SparkTrace]]. */
final class EngineTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var schedDelayMs = 0.0; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
  var shuffleWrite = 0L; var shuffleRead = 0L; var inputBytes = 0L; var spill = 0L
  var peakExecMem = 0L
  var pinMs = 0.0; var pinRows = 0L
}

/** Spark listener and query-execution listener for the traced run:
  * jobs, stages and tasks by op (job group), and planning phases by
  * the op whose window contains their start. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  final case class Job(op: String, id: Int, startMs: Long, callSite: String,
                       var endMs: Long = -1L)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, (String, Boolean, Long)]() // op, pin, submitted ms
  private val totals = new ConcurrentHashMap[String, EngineTotals]()
  private val phases = new ConcurrentLinkedQueue[(Long, Long)]() // start, end ms

  private def opOf(props: java.util.Properties): String =
    Option(props).map(_.getProperty("spark.jobGroup.id")).filter(p =>
      p != null && p.startsWith("pbop-")).orNull

  // a stage is named after the user call site that caused its job
  private def isPin(stage: StageInfo): Boolean = stage.name.contains("Pin.scala")

  private def tot(op: String): EngineTotals = totals.computeIfAbsent(op, _ => new EngineTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    if (op != null) {
      val cs = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      jobs.put(e.jobId, Job(op, e.jobId, e.time, cs))
      val t = tot(op); t.synchronized { t.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach { j =>
    j.endMs = e.time
    if (j.callSite.contains("Pin.scala")) {
      val t = tot(j.op); t.synchronized { t.pinMs += e.time - j.startMs }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val op = opOf(e.properties)
    if (op != null) {
      stageOp.put(e.stageInfo.stageId, (op, isPin(e.stageInfo),
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
      val t = tot(op); t.synchronized { t.stages += 1 }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(stageOp.get(e.stageId)).foreach {
    case (op, pin, submitted) =>
      val t = tot(op)
      val i = e.taskInfo
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          val run = m.executorRunTime.toDouble
          val uiDelay = math.max(0.0, i.duration - run - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime)
          t.schedDelayMs += uiDelay + math.max(0L, i.launchTime - submitted)
          t.runMs += run
          t.cpuMs += m.executorCpuTime / 1e6
          t.gcMs += m.jvmGCTime
          t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          t.inputBytes += m.inputMetrics.bytesRead
          t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          t.peakExecMem = math.max(t.peakExecMem, m.peakExecutionMemory)
          if (pin) t.pinRows += m.inputMetrics.recordsRead
        }
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.values.foreach(p => phases.add((p.startTimeMs, p.endTimeMs)))

  def totalsOf(op: String): EngineTotals = totals.getOrDefault(op, new EngineTotals)

  def jobsOf(op: String): Seq[Job] = jobs.values.asScala.filter(_.op == op).toSeq.sortBy(_.id)

  /** Planning phases (start, end ms) starting inside [fromMs, toMs]. */
  def phasesIn(fromMs: Long, toMs: Long): Seq[(Long, Long)] =
    phases.asScala.filter { case (s, _) => s >= fromMs && s <= toMs }.toSeq
}
