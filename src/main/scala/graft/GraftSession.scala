package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built: `local[cpus]`, UTC
  * session time zone, UI off, [[graft.functions.GraftExtensions]], log
  * level WARN.
  *
  * Shuffle partitions default to min(cpus, 8). They are sized by data,
  * not cores: fixture shuffles are KB–MB, so more than 8 partitions is
  * pure task-scheduling overhead (measured: `local[32]` × 32 partitions
  * ran 1.6× slower than `local[4]` × 4). At cluster scale the partition
  * count follows bytes via AQE, never a fixed core count. The oracle
  * check (Verify), the timed suite (Bench) and the specs share this
  * default, so the plans that are verified are the plans that are
  * timed.
  *
  * Reads no environment variable: a caller that wants another shape
  * passes it explicitly — `shuffle`, and `conf` for anything else
  * (e.g. `spark.sql.adaptive.enabled`). Like every builder, an existing
  * session is returned as is. */
object GraftSession {
  def apply(cpus: Int, shuffle: Option[Int] = None,
            conf: Map[String, String] = Map.empty): SparkSession = {
    val spark = conf.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions",
          shuffle.getOrElse(math.min(cpus, 8)).toLong)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
        b.config(k, v)
      }
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
