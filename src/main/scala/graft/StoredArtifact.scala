package graft

import org.apache.spark.sql.SparkSession
import graft.operators.DedupArtifacts

/** The one resolver for stored artifacts: the derived catalog tables
  * (and scratch directories) an operator writes once and then reads on
  * every call. A stored value is a function of a corpus snapshot, the
  * knobs its build reads, and the code that built it; serving it is
  * sound only when the reuse key covers all three. Every store
  * resolves through [[resolve]] under these rules.
  *
  *  - '''Name''': `graft_<kind>_<knob>_..._<corpus slug>`. The slug
  *    ([[DedupArtifacts.corpusSlug]]) fingerprints the files of the
  *    input tables, so a rewritten fixture gets a new name. The knobs
  *    are the confs that change a stored VALUE (the normalize flag, the
  *    substring window `k`, the quality gate); a schema change bumps
  *    the kind (`gramv2`). The bucket count shapes only the layout, so
  *    it stays out of the name: a store found under its name holds what
  *    the direct derivation gives at any bucket count.
  *  - '''Memo key''': (session id, the names of the tables the store
  *    owns). The name is recomputed on every call (file metadata only,
  *    no Spark job), so a changed corpus or knob is a new key in the
  *    same session. The memo holds the resolved value — a name, or a
  *    value read once from the store — so a hit runs no Spark job.
  *  - '''Re-entry''' ([[Reentry]]), declared by each store.
  *  - '''Reset''': before a build every owned table is dropped with
  *    its leftover files ([[DedupArtifacts.reset]]); a scratch
  *    directory is deleted.
  *  - '''Locks''': the map holds one lazy memo per key, and the build
  *    runs under that memo's own lock, never the map's. A build may
  *    therefore resolve another store (the cluster and pair tables
  *    resolve the `inc` store inside theirs), and two threads that
  *    resolve one key build it once. The builder closure is dropped
  *    after the build, so the memo pins no session.
  */
object StoredArtifact {

  /** How a store is found again after its first build. */
  sealed trait Reentry

  /** Found by any later session through `tableExists` over every owned
    * table (metadata only, zero Spark jobs); built only when one is
    * missing. The catalog is in memory, so a new JVM rebuilds. */
  case object Catalog extends Reentry

  /** Rewritten on the first resolution in every session. For stores a
    * session may append to ([[DedupArtifacts.append]],
    * [[graft.operators.AnnIndex.append]]), the tables derived from
    * them, and layouts whose value is their file layout. */
  case object PerSession extends Reentry

  /** A directory `/tmp/<name>` whose first knobs are the application
    * id and the session's id, so two JVMs, or two sessions of one JVM,
    * on one corpus never rewrite each other's files; written on the
    * first resolution in every session. The resolved value is the
    * path. */
  case object Scratch extends Reentry

  private final class Memo(b: () => Any) {
    @volatile private var builder: () => Any = b
    lazy val value: Any = { val v = builder(); builder = null; v }
  }

  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Memo]()

  // a UUID per live session object: System.identityHashCode can
  // collide between two live sessions or be reused after GC; weak keys
  // keep the memo from pinning a session for the JVM lifetime
  private val sessionIds =
    new java.util.WeakHashMap[SparkSession, String]()

  private def sessionId(s: SparkSession): String =
    sessionIds.synchronized {
      sessionIds.computeIfAbsent(
        s, _ => java.util.UUID.randomUUID().toString)
    }

  /** The name a store of `kind` over `inputs` (fixture tables under
    * `d`) has under `knobs` right now. */
  def name(s: SparkSession, d: String, kind: String, inputs: Seq[String],
           knobs: Seq[String] = Nil): String =
    (Seq("graft", kind) ++ knobs :+
      DedupArtifacts.corpusSlug(s, d, inputs)).mkString("_")

  /** Resolve a store whose value is its name (a path for [[Scratch]]):
    * `write` writes the owned tables `name + suffix` for each of
    * `tables`. */
  def apply(s: SparkSession, d: String, kind: String, inputs: Seq[String],
            knobs: Seq[String] = Nil, tables: Seq[String] = Seq(""),
            reentry: Reentry = Catalog)(write: String => Unit): String =
    resolve[String](s, d, kind, inputs, knobs, tables, reentry)(
      n => { write(n); n }, identity)

  /** Resolve a store to a value: `build` writes the owned tables and
    * returns the value; `reuse` derives it from tables a [[Catalog]]
    * store finds already written. */
  def resolve[A](s: SparkSession, d: String, kind: String,
                 inputs: Seq[String], knobs: Seq[String] = Nil,
                 tables: Seq[String] = Seq(""), reentry: Reentry = Catalog)(
                 build: String => A, reuse: String => A): A = {
    val base = reentry match {
      case Scratch =>
        "/tmp/" + name(s, d, kind, inputs, Seq(s.sparkContext.applicationId,
          sessionId(s).take(8)) ++ knobs)
      case _ => name(s, d, kind, inputs, knobs)
    }
    val owned = tables.map(base + _)
    memos.computeIfAbsent((sessionId(s), owned.mkString(",")), _ =>
      new Memo(() =>
        if (reentry == Catalog && owned.forall(s.catalog.tableExists))
          reuse(base)
        else {
          owned.foreach { t =>
            if (reentry == Scratch) {
              val p = new org.apache.hadoop.fs.Path(t)
              p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
            } else DedupArtifacts.reset(s, t)
          }
          build(base)
        })
    ).value.asInstanceOf[A]
  }
}
