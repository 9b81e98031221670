package perfbench

import graft.Pipeline
import graft.sources.{JdbcCursorStore, JdbcExec}
import graft.sources.v2.SoqlEndpoints
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark workload: a repeatable preparation (input generation),
  * a one-off warm-up, the timed ops, and a final check.
  *
  * `measure` runs a fixed amount of work sized from `seconds` (about that
  * long on a 4-vCPU box), not ops until a deadline: every run then times
  * the same ops, so a slow box shows as slower ops rather than as fewer,
  * earlier (less warmed-up) ones. */
trait Workload {
  def prepare(): Unit
  def warmUp(): Unit
  def measure(h: Harness, seconds: Int): Unit
  def finish(h: Harness): Unit = ()
  /** Brings the workload's target database to a settled state before
    * the live heap is sampled. */
  def quiesce(): Unit = ()
  /** Problems found in set-up; any makes the run incorrect. */
  val setupErrors = scala.collection.mutable.ArrayBuffer.empty[String]
}

object Checks {
  /** Row count and order-independent checksum (sum of row hashes). */
  def digest(rows: Iterable[Seq[Any]]): (Long, Long) =
    (rows.size.toLong, rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.seqHash(r)))

  def modelDigest(live: Seq[Version]): (Long, Long) = digest(live.map(_.row))

  /** Compares the synced target of `spec` (read through
    * `JdbcExec.readTable`) and its committed cursor with the model. */
  def target(spark: SparkSession, url: String, spec: ObjSpec, expected: (Long, Long),
             maxModstamp: Long): Option[String] = {
    val rows = JdbcExec.readTable(spark, url, s"${spec.name}_tgt")
      .select(spec.schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map(_.toSeq)
    val got = digest(rows)
    val cursor = new JdbcCursorStore(url, "graft_sync_state").get(spec.name)
    if (got != expected) Some(s"${spec.name}: target (rows, checksum) $got != model $expected")
    else if (!cursor.contains(maxModstamp))
      Some(s"${spec.name}: committed cursor $cursor != max modstamp $maxModstamp")
    else None
  }

  /** Checkpoints a Derby database: its in-memory transaction log,
    * which grows with every write until the next checkpoint, is
    * truncated, and dropped staging tables are removed. */
  def checkpointDerby(url: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url)
    try c.createStatement().execute("CALL SYSCS_UTIL.SYSCS_CHECKPOINT_DATABASE()")
    finally c.close()
  }

  def dropDerby(url: String): Unit =
    try java.sql.DriverManager.getConnection(url.replace(";create=true", "") + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // a successful drop reports 08006
}

/** Full initial sync of region → nation → customer → orders through
  * `Pipeline.syncAllOnceV2`, into a fresh in-memory Derby database per
  * load. */
final class BulkLoad(spark: SparkSession, seed: Long, customers: Int) extends Workload {
  private var objs: Seq[(ObjSpec, Seq[Version])] = Nil
  private var expected: Map[String, ((Long, Long), Long)] = Map.empty
  private var loads = 0

  private val decl = Seq(SyncGen.region, SyncGen.nation, SyncGen.customer, SyncGen.orders)
    .map(s => Pipeline.V2Object(s.name, Seq(s.pk), "modstamp", "is_deleted"))

  def prepare(): Unit = {
    objs = SyncGen.bulk(seed, customers)
    objs.foreach { case (spec, vs) =>
      SoqlEndpoints.register(spec.name, new IndexedEndpoint(spec.schema, "modstamp", 4, vs.map(_.row)))
    }
    expected = objs.map { case (spec, vs) =>
      spec.name -> (Checks.modelDigest(LatestWins.of(vs).live), vs.map(_.modstamp).max)
    }.toMap
  }

  private def load(traced: Boolean): (String, Seq[(String, Long)]) = {
    loads += 1
    val url = s"jdbc:derby:memory:pb_load_$loads;create=true"
    (url, Pipeline.syncAllOnceV2(spark, if (traced) TracingDriver.traced(url) else url,
      decl, SyncGen.bulkDeps))
  }

  private def check(res: (String, Seq[(String, Long)])): Option[String] = {
    val (url, cursors) = res
    try {
      objs.iterator.map { case (spec, _) =>
        val (digest, maxStamp) = expected(spec.name)
        if (!cursors.contains(spec.name -> maxStamp))
          Some(s"${spec.name}: returned cursors $cursors lack $maxStamp")
        else Checks.target(spark, url, spec, digest, maxStamp)
      }.collectFirst { case Some(e) => e }
    } finally Checks.dropDerby(url)
  }

  /** Two untimed loads, each checked. */
  def warmUp(): Unit = (1 to 2).foreach(_ => check(load(traced = false)).foreach(setupErrors += _))

  /** Loads of ~3 s each. */
  def measure(h: Harness, seconds: Int): Unit =
    (0 until math.max(3, seconds / 4)).foreach(i => h.op("load", traced = i % 2 == 0)(load)(check))
}

/** Closed loop of small incremental syncs: each round appends a delta
  * to the source and runs one `Pipeline.syncOnceV2`. */
final class TrickleSync(spark: SparkSession, seed: Long, base: Int, deltaRows: Int)
    extends Workload {
  private var gen: TrickleGen = _
  private var endpoint: IndexedEndpoint = _
  private var model: LatestWins = _
  private val url = "jdbc:derby:memory:pb_trickle;create=true" // created by the preload
  private val spec = SyncGen.events

  def prepare(): Unit = {
    gen = new TrickleGen(seed, base)
    endpoint = new IndexedEndpoint(spec.schema, "modstamp", 4, gen.initial.map(_.row))
    SoqlEndpoints.register(spec.name, endpoint)
    model = LatestWins.of(gen.initial)
  }

  private def sync(traced: Boolean): Long =
    Pipeline.syncOnceV2(spark, if (traced) TracingDriver.traced(url) else url,
      spec.name, Seq(spec.pk), "modstamp", "is_deleted")

  override def quiesce(): Unit = Checks.checkpointDerby(url)

  private def checkCursor(c: Long): Option[String] =
    if (c == gen.maxModstamp) None else Some(s"round cursor $c != max modstamp ${gen.maxModstamp}")

  private def fullCheck(): Option[String] =
    Checks.target(spark, url, spec, Checks.modelDigest(model.live), gen.maxModstamp)

  private def round(h: Option[Harness], traced: Boolean): Unit = {
    val delta = gen.delta(deltaRows)
    endpoint.append(delta.map(_.row))
    model ++= delta
    h match {
      case Some(hh) => hh.op("round", traced)(sync)(checkCursor)
      case None => checkCursor(sync(false)).foreach(setupErrors += _)
    }
  }

  /** Preload of the base events, then a few untimed rounds. */
  def warmUp(): Unit = {
    checkCursor(sync(false)).orElse(fullCheck()).foreach(setupErrors += _)
    (1 to 10).foreach(_ => round(None, traced = false))
  }

  /** Rounds of ~0.5 s each. */
  def measure(h: Harness, seconds: Int): Unit =
    (0 until 2 * seconds).foreach(i => round(Some(h), traced = i % 2 == 0))

  override def finish(h: Harness): Unit =
    fullCheck().foreach(e => h.log.failAll(s"final target check: $e"))
}

/** Registry queries, each consumed to its full result, against a
  * seeded set of input tables. */
final class QueryMix(spark: SparkSession, seed: Long, dataDir: String,
                     golden: Map[String, (Long, Long)]) extends Workload {
  val variant: Long = java.lang.Math.floorMod(seed, QueryMix.Variants.toLong)
  private val fns = QueryMix.Names.map(n => n -> graft.SparkEntry.queries(n)).toMap

  private var data: Map[String, Seq[org.apache.spark.sql.Row]] = Map.empty

  def prepare(): Unit = data = QueryData.generate(variant)

  def writeData(): Unit = QueryData.write(spark, dataDir, data)

  /** Count and canonical hash of a query's full result. */
  def run(name: String): (Long, Long) = QueryMix.consume(fns(name)(spark, dataDir))

  private def check(name: String)(got: (Long, Long)): Option[String] =
    golden.get(name) match {
      case Some(want) if want == got => None
      case Some(want) => Some(s"$name: (rows, hash) $got != golden $want")
      case None => Some(s"$name: no golden result for variant $variant")
    }

  /** Writes the tables, then one pass over every query. */
  def warmUp(): Unit = {
    writeData()
    QueryMix.Names.foreach { n =>
      try check(n)(run(n)).foreach(setupErrors += _)
      catch { case e: Throwable => setupErrors += s"$n threw ${e.getMessage}" }
      graft.Caches.release(spark)
    }
  }

  /** Passes of ~7 s each. */
  def measure(h: Harness, seconds: Int): Unit =
    (0 until math.max(1, math.round(seconds / 7.0).toInt)).foreach { pass =>
      QueryMix.Names.zipWithIndex.foreach { case (n, i) =>
        h.op(n, traced = (pass + i) % 2 == 0)(_ => run(n))(check(n))
        h.release()
      }
    }
}

object QueryMix {
  val Variants = 3

  /** Bench's fixed headline set, in name order. */
  val Names: Seq[String] = Seq(
    "a_scan_prune_pushdown", "b_filter_compound", "c_join_inner_hash",
    "c_join_multiway_q5", "d_agg_groupby_q1", "e_window_rank",
    "f_topk_limit", "g_union_distinct", "h_string_funcs",
    "i_upsert_latest_wins", "j_sim_cosine_topk", "j_dedup_near_minhash",
    "j_knn_per_vector", "k_window_session", "l_expr_native_cosine").sorted

  /** `count(1), bit_xor(xxhash64(...))` over every column, with
    * floating-point columns rendered to ten significant digits so
    * the hash does not depend on summation order. */
  def consume(df: DataFrame): (Long, Long) = {
    import org.apache.spark.sql.types.{DoubleType, FloatType}
    val cols =
      if (df.columns.distinct.length < df.columns.length) "*"
      else df.schema.fields.map { f =>
        f.dataType match {
          case DoubleType | FloatType => s"format_string('%.9e', `${f.name}`)"
          case _ => s"`${f.name}`"
        }
      }.mkString(", ")
    val r = df.selectExpr("count(1)", s"bit_xor(xxhash64($cols))").head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}
