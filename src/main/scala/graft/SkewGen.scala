package graft

import org.apache.spark.sql.functions._

/** Skewed-key synthetic for the per-key window growth probe (r17,
  * VERDICT r16 item 6): rewrite a fixture table so ONE key holds
  * 1/`hotDenom` of all rows (deterministic hash of the table's unique
  * key — no RNG), keeping every other column untouched. Timing a
  * per-key window on two sizes of this shape isolates the per-key
  * sort term: if the hot key's single task dominates, the exponent
  * between the sizes approaches 1 regardless of cluster width.
  * `table` is `orders` (hot o_custkey, r17) or `events` (hot user_id,
  * r18 — the zscore/gap_fill key). Usage:
  *   runMain graft.SkewGen <inDir> <outDir> [hotDenom=5] [table=orders]
  */
object SkewGen {
  def main(args: Array[String]): Unit = {
    val in = args(0)
    val out = args(1)
    require(new java.io.File(in).getCanonicalPath !=
      new java.io.File(out).getCanonicalPath,
      "SkewGen: in == out would overwrite the input parquet while " +
        "lazily reading it (ADVICE r17); pick a distinct outDir")
    val hotDenom = args.lift(2).map(_.toInt).getOrElse(5)
    val table = args.lift(3).getOrElse("orders")
    val (key, unique) = table match {
      case "orders" => ("o_custkey", "o_orderkey")
      case "events" => ("user_id", "event_id")
      case other => sys.error(s"SkewGen: unknown table '$other'")
    }
    val spark = GraftSession(32, shuffle = Some(32))
    spark.read.parquet(s"$in/$table.parquet")
      .withColumn(key,
        when(pmod(xxhash64(col(unique)), lit(hotDenom)) === 0,
          lit(1L)).otherwise(col(key)))
      .write.mode("overwrite").parquet(s"$out/$table.parquet")
    // Count the INJECTED rows (hash-selected), not every key==1 —
    // rows whose original key was already 1 would overstate the skew.
    val n = spark.read.parquet(s"$out/$table.parquet")
      .filter(pmod(xxhash64(col(unique)), lit(hotDenom)) === 0)
      .count()
    println(s"skewgen wrote $out/$table: injected hot-key rows=$n " +
      s"(1/$hotDenom of input)")
    spark.stop()
  }
}
