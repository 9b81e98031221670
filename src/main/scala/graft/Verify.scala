package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = subset of query names (local iteration only;
    // the driver always passes exactly sfDir + outDir)
    val only = args.drop(2).toSet
    // the suite's default shape (shuffle = min(cpus, 8)), so the plans
    // checked here are the plans Bench times
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // oracle-pinned-tunable guard flag — see OracleKit.HarnessKey
    spark.conf.set(OracleKit.HarnessKey, "true")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the library's cache contract: operator-persisted intermediates
      // are released by the harness after each query's terminal action
      Caches.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // fixture fingerprint taken at DUMP time: the r8 lesson — the
    // driver regenerated /root/testdata between the local sweep and
    // the round close, and the stale "green" claim shipped.
    // oracle_check.py recomputes this and refuses to report PASS if
    // the fixtures drifted since the dump. CONTENT-based (size + MD5
    // of the last 64 KiB — the parquet footer, whose row counts and
    // column stats change with any material regen), not mtime+size,
    // and recursive, so directory-shaped fixtures are covered too
    // (ADVICE r9: an mtime/size-preserving regen slipped through, and
    // directory fixtures fingerprinted as nothing).
    def fpOf(f: java.io.File): String = {
      val len = f.length
      val n = math.min(65536L, len).toInt
      val buf = new Array[Byte](n)
      val raf = new java.io.RandomAccessFile(f, "r")
      try { raf.seek(len - n); raf.readFully(buf) } finally raf.close()
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(buf).map("%02x".format(_)).mkString
      s"""{"size": $len, "tail_md5": ${q(h)}}"""
    }
    def parquetFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
      else Option(f.listFiles()).toSeq.flatten.sortBy(_.getName)
        .flatMap(parquetFiles)
    val sfRoot = Paths.get(sfDir)
    val entries = parquetFiles(new java.io.File(sfDir))
      .map(f => sfRoot.relativize(f.toPath).toString -> f)
      .sortBy(_._1)
    if (entries.isEmpty) System.err.println(
      s"[verify] WARN: no parquet fixtures found under $sfDir — the " +
        "drift guard has nothing to fingerprint")
    val fp = entries
      .map { case (rel, f) => s"${q(rel)}: ${fpOf(f)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/fixtures_fingerprint.json"), fp)
    spark.stop()
  }
}
