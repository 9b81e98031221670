package perfbench

/** Order statistics for the reported timings.
  *
  * Percentiles use the nearest-rank rule: the q-quantile of n samples is
  * the sample at rank ceil(q * n). A percentile is only worth reporting
  * when at least [[MinBeyond]] samples lie beyond its rank, otherwise it
  * is the next-to-largest sample under another name.
  */
object Stats {
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "mean of no samples")
    xs.sum / xs.length
  }

  /** Rank (1-based) of the nearest-rank q-quantile among n samples. */
  def rank(n: Int, q: Double): Int =
    math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples strictly beyond the q-quantile's rank. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    xs.sorted.apply(rank(xs.length, q) - 1)
  }

  /** The highest of `candidates` that leaves at least [[MinBeyond]]
    * samples beyond it, if any does. */
  def tailQuantile(n: Int,
                   candidates: Seq[Double] = Seq(0.99, 0.95, 0.9, 0.75, 0.5))
      : Option[Double] =
    candidates.sorted.reverse.find(q => beyond(n, q) >= MinBeyond)
}

/** Outcome accounting for timed operations: an op that throws or fails
  * its output check counts as failed and contributes no time. */
final class OpLog {
  private val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private var tried = 0
  private var bad = 0
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Runs `op`, timing it, then `check` on its result (untimed).
    * Returns the result when both succeed. */
  def run[A](kind: String)(op: => A)(check: A => Option[String]): Option[A] = {
    tried += 1
    val t0 = System.nanoTime()
    val res =
      try Right(op)
      catch { case e: Throwable => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = res.flatMap(a =>
      try check(a).toLeft(a)
      catch { case e: Throwable => Left(s"check threw ${e.getClass.getName}: ${e.getMessage}") })
    verdict match {
      case Right(a) => times += kind -> ms; Some(a)
      case Left(why) => bad += 1; if (errors.length < 20) errors += why; None
    }
  }

  /** Marks `n` already-timed ops as failed after the fact (a check that
    * can only run once the whole sequence is done). */
  def failAll(why: String): Unit = {
    bad = tried
    times.clear()
    errors += why
  }

  def attempted: Int = tried
  def failed: Int = bad
  def samples: Seq[Double] = times.map(_._2).toSeq
  def samplesByKind: Map[String, Seq[Double]] =
    times.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  def errorLog: Seq[String] = errors.toSeq
  def errorRate: Double = if (tried == 0) 0.0 else bad.toDouble / tried
}
