package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Benchmark entry point, run inside a fresh working directory:
  *
  * {{{
  * perfbench.Main --workload <bulk_load|trickle_sync|query_mix> --seed <n>
  *   --seconds <s> --trace <0|1> --out <result.json> [--golden <tsv>]
  *   [--spans <jsonl>] [--record <tsv>]
  * }}}
  *
  * Writes one JSON object to `--out`: the output-check verdict, ops
  * attempted and failed, and the end-to-end metrics (`--trace 0`) or
  * the per-layer metrics of the traced ops (`--trace 1`). `--record`
  * instead runs `query_mix` once and writes its (count, hash) lines.
  */
object Main {
  val Cpus = 4
  val BulkCustomers = 2000
  val TrickleBase = 100000
  val TrickleDelta = 500
  val PrepareRepeats = 3

  def session(): SparkSession = {
    val cwd = Paths.get("").toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", math.min(Cpus, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", cwd.resolve("spark-warehouse").toString)
      .config("spark.local.dir", cwd.resolve("tmp").toString)
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(cwd.resolve("checkpoints").toString)
    spark
  }

  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident set size of this process, from /proc. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def loadGolden(path: String, variant: Long): Map[String, (Long, Long)] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
      .collect { case Array(v, name, n, h, _*) if v.toLong == variant =>
        name -> (n.toLong, h.toLong) }.toMap

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val tracing = args.getOrElse("trace", "0") == "1"
    val dataDir = Paths.get("data").toAbsolutePath.toString

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9

    if (args.contains("record")) { record(spark, seed, dataDir, args("record")); spark.stop(); return }

    val w: Workload = workload match {
      case "bulk_load" => new BulkLoad(spark, seed, BulkCustomers)
      case "trickle_sync" => new TrickleSync(spark, seed, TrickleBase, TrickleDelta)
      case "query_mix" =>
        new QueryMix(spark, seed, dataDir, loadGolden(args("golden"),
          java.lang.Math.floorMod(seed, QueryMix.Variants.toLong)))
      case other => sys.error(s"unknown workload $other")
    }
    val st = new SparkTrace
    if (tracing) {
      TracingDriver.register()
      spark.sparkContext.addSparkListener(st)
      spark.listenerManager.register(st)
      Trace.enabled = true
    }

    val prepS = (1 to PrepareRepeats).map(_ => secs(w.prepare()))
    val warmS = secs(w.warmUp())
    val setupS = sessionS + Stats.median(prepS) + warmS

    val h = new Harness(spark, tracing, () => w.quiesce())
    def gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def jitMs = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    def classes = java.lang.management.ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
    def steal = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    val (gc0, jit0, cl0, st0) = (gcMs, jitMs, classes, steal)
    val measureS = secs(w.measure(h, seconds))
    val (gc1, jit1, cl1, st1) = (gcMs, jitMs, classes, steal)
    val gcS = secs(h.sampleLiveHeap())
    w.finish(h)

    val log = h.log
    val times = log.samples
    val correct = w.setupErrors.isEmpty && log.failed == 0 && times.nonEmpty
    (w.setupErrors ++ log.errorLog).foreach(e => println(s"check failed: $e"))
    val tail = Stats.tailQuantile(times.length)
    // per op kind (a query of the mix, or the one kind of a sync
    // workload) first, so every kind weighs the same
    def opMs(perKind: Seq[Double] => Double, across: Seq[Double] => Double): Double =
      across(log.samplesByKind.values.toSeq.map(perKind))
    def perKind(byKind: Map[String, Seq[Double]], f: Seq[Double] => Double): Double =
      if (byKind.isEmpty) Double.NaN else Stats.mean(byKind.values.toSeq.map(f))
    // the median per kind damps the odd op that a concurrent GC cycle
    // or a burst of steal made dearer
    val cpuPerOp = perKind(h.cpuByKind, Stats.median)
    val liveMb = h.liveHeapSamples.max
    val jitPerOp = if (times.isEmpty) Double.NaN else h.jitNs / 1e6 / times.length
    println(f"detail workload=$workload seed=$seed ops=${log.attempted} failed=${log.failed} " +
      f"error_rate=${log.errorRate}%.4f setup_s=$setupS%.3f (session $sessionS%.3f, prepare " +
      prepS.map(s => f"$s%.3f").mkString("/") + f", warm-up $warmS%.3f) measure_s=$measureS%.3f " +
      s"gc_ms=${gc1 - gc0} jit_ms=${jit1 - jit0} classes_loaded=${cl1 - cl0} steal_ticks=${st1 - st0} " +
      f"op_cpu_ms=$cpuPerOp%.2f op_jit_cpu_ms=$jitPerOp%.2f heap_live_mb=$liveMb%.1f (${h.liveHeapSamples.map(m => f"$m%.1f").mkString("/")}) live_heap_s=$gcS%.3f vm_hwm_mb=${peakRssMb()}%.1f " +
      (if (times.isEmpty) "" else f"op_ms_q25=${opMs(Stats.percentile(_, 0.25), Stats.mean)}%.2f " +
        f"op_ms_p50=${opMs(Stats.median, Stats.median)}%.2f " +
        f"op_ms_mean=${opMs(Stats.mean, Stats.mean)}%.2f " +
        tail.filter(_ > 0.5).map(q => f"op_ms_p${(q * 100).toInt}=${Stats.percentile(times, q)}%.2f ").getOrElse("") +
        s"n=${times.length} samples_ms=" + times.map(t => f"$t%.0f").mkString(",")))

    val metrics: Seq[(String, Double, String)] =
      if (tracing) {
        val m = TraceReport.report(spark, h, st, args.getOrElse("spans", "spans.jsonl"))
        TraceReport.metricNames.map { case (n, u) => (n, m(n), u) }
      } else {
        // Wall-time op latency is in the detail line only: on a shared
        // VM its run medians swing with CPU stolen by other tenants by
        // more than any bound the benchmark may set.
        Seq(("setup_s", setupS, "s"), ("op_cpu_ms", cpuPerOp, "ms"),
          ("heap_live_mb", liveMb, "MB"))
      }
    spark.stop()

    val result = ListMap("correct" -> correct, "attempted" -> log.attempted,
      "failed" -> log.failed, "metrics" -> ListMap(metrics.map { case (n, v, u) =>
        n -> ListMap("value" -> v, "unit" -> u) }: _*))
    Files.write(Paths.get(args("out")), (Json.write(result) + "\n").getBytes("UTF-8"))
  }

  /** Writes `variant, query, count, hash` for every query of the mix,
    * and each query's oracle SQL to `oracle/<query>.sql`. */
  private def record(spark: SparkSession, seed: Long, dataDir: String, out: String): Unit = {
    val qm = new QueryMix(spark, seed, dataDir, Map.empty)
    qm.prepare()
    qm.writeData()
    Files.createDirectories(Paths.get("oracle"))
    val lines = QueryMix.Names.map { n =>
      val (c, hash) = qm.run(n)
      graft.Caches.release(spark)
      graft.SparkEntry.oracleSql.get(n).foreach(sql =>
        Files.write(Paths.get("oracle", s"$n.sql"), sql.getBytes("UTF-8")))
      s"${qm.variant}\t$n\t$c\t$hash"
    }
    Files.write(Paths.get(out), lines.asJava)
  }
}
