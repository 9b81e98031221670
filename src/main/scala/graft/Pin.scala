package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Eager materialize-and-pin strategy knob (r16, VERDICT r15 ask 4).
  *
  * Call sites that need a frame pinned as ONE immutable snapshot
  * before several consumers read it (or before a standing table they
  * derive from mutates):
  * [[graft.operators.CorpusPipeline.stages]] / incStages (stage frames
  * feed the next stage AND the audit ledger — an unpinned stage
  * re-plans its whole prefix under AQE on every consumer),
  * [[graft.sources.JdbcExec.syncOnce]], which every cursor-driven
  * sync runs, pins only a pull that overflows one batch (more than
  * `batchSize` rows): such a pull is a parallel write behind the
  * latest-wins exchange, where a retried shuffle map task or a
  * re-planned AQE stage would re-read an unpinned live source, and the
  * rows written, the rows counted and the cursor taken must come from
  * the same rows (a pull within one batch is read once, by the one task
  * that writes it, and is not pinned), the iterative min-label CC in LlmOps
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
  *
  * Both are true snapshots: no recompute path re-reads the source.
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
    case other =>
      sys.error(s"$ModeKey: unknown mode '$other' (expected local | reliable)")
  }

  /** End-of-scope release of a [[pin]] result — pass the EXACT frame
    * `pin` returned, not one derived from it (a derived frame is a
    * silent no-op; see GraftPlanBridge.unpin). After unpinning, the
    * frame is unreadable (lineage was cut); a reliable-checkpoint
    * frame also has its checkpoint files deleted (a standing job pins
    * per pass — leaving each pass's full frame copy in the pin dir
    * until application exit would grow it without bound).
    *
    * Release reads the frame's own plan, NOT the current value of
    * [[ModeKey]], so flipping the knob between pin and unpin (across a
    * micro-batch) cannot leak the pin's storage. */
  def unpin(df: DataFrame): Unit = org.apache.spark.sql.GraftPlanBridge.unpin(df)
}
