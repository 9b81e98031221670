package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Eager materialize-and-pin strategy knob (r16, VERDICT r15 ask 4).
  *
  * Call sites that need a frame pinned as ONE immutable snapshot
  * before several consumers read it (or before a standing table they
  * derive from mutates):
  * [[graft.operators.CorpusPipeline.stages]] / incStages (stage frames
  * feed the next stage AND the audit ledger — an unpinned stage
  * re-plans its whole prefix under AQE on every consumer),
  * [[graft.sources.JdbcExec.syncOnce]], which every cursor-driven
  * sync runs (the rows written, the rows counted and the cursor taken
  * must come from the same rows even if the source mutates; syncOnce
  * reads its pin in ONE action, but a retried shuffle map task or a
  * re-planned AQE stage would re-read an unpinned live source), the iterative min-label CC in LlmOps
  * (per-round label frames — exactly the superstep state a cluster job
  * reliable-checkpoints every N rounds), DedupArtifacts.append and the
  * streaming maintenance loops (lineage must be TRUNCATED before the
  * standing tables the plan reads are themselves mutated).
  *
  * `spark.graft.pin.mode` selects the mechanism:
  *
  *  - `local` (default): eager `localCheckpoint` — materialize NOW
  *    into executor-local block storage and cut lineage. Cheapest
  *    (no DFS write) and a true snapshot (no recompute path exists).
  *    Failure domain at cluster scale: blocks live on the executors
  *    that computed them, so losing an executor AFTER the pin kills
  *    every job still reading the frame — acceptable inside one sync
  *    pass / audit (a driver-level retry replays the idempotent pass),
  *    wrong for state that must outlive the pass.
  *  - `reliable`: `checkpoint` into `spark.graft.pin.dir` (the
  *    SparkContext checkpoint dir; defaults to a /tmp path — point it
  *    at DFS in production). Survives executor loss; costs a full
  *    write + read of the frame through the checkpoint store. The
  *    100 TB posture for pins that later stages resume from.
  *  - `persist`: `persist(MEMORY_AND_DISK)` + a materializing count.
  *    NOT a true snapshot — blocks are evictable and the recompute
  *    path re-reads the (possibly mutated) source, exactly the
  *    r14→r15 syncOnce hazard — offered for the A/B harness
  *    ([[PinScale]]) and for sources known immutable (parquet
  *    fixtures), where it skips the block copy localCheckpoint pays.
  *
  * Measured A/B + the 100 TB recommendation: SCALE.md §r16.2.
  */
object Pin {
  val ModeKey = "spark.graft.pin.mode"
  val DirKey = "spark.graft.pin.dir"

  def mode(s: SparkSession): String = s.conf.get(ModeKey, "local")

  /** Materialize `df` now and return the pinned frame (see modes
    * above). Release with [[unpin]] once every consumer is done. */
  def pin(df: DataFrame): DataFrame = mode(df.sparkSession) match {
    case "local" => df.localCheckpoint(eager = true)
    case "reliable" =>
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(df.sparkSession.conf.get(DirKey,
          s"/tmp/graft_pin_${sc.applicationId}"))
      df.checkpoint(eager = true)
    case "persist" =>
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count() // materialize now; evictable — see the mode caveat
      p
    case other =>
      sys.error(s"$ModeKey: unknown mode '$other' " +
        "(expected local | reliable | persist)")
  }

  /** End-of-scope release of a [[pin]] result — pass the EXACT frame
    * `pin` returned, not one derived from it (a derived frame is a
    * silent no-op for checkpoint modes; see GraftPlanBridge.unpin).
    * After unpinning a
    * checkpointed frame is unreadable (lineage was cut); a persisted
    * frame merely drops back to lazy recompute; a reliable-checkpoint
    * frame also has its checkpoint files deleted (a standing job pins
    * per pass — leaving each pass's full frame copy in the pin dir
    * until application exit would grow it without bound).
    *
    * Dispatch is on the frame's own state, NOT the current value of
    * [[ModeKey]]: a persist-pinned frame is registered in the SQL
    * CacheManager (storageLevel != NONE), checkpoint-pinned frames are
    * not — so flipping the knob between pin and unpin (across a
    * micro-batch, or by A/B harness code like [[PinScale]]) cannot
    * route a frame to the wrong release path and leak its storage. */
  def unpin(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking = false)
    else org.apache.spark.sql.GraftPlanBridge.unpin(df)
}
