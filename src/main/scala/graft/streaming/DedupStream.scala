package graft.streaming

import graft.operators.{DedupArtifacts, LlmOps}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the stored-artifact incremental dedup (VERDICT r5
  * ask #4): "dedup the crawl as it streams in against the standing
  * corpus." Each micro-batch of delta documents runs the SAME
  * [[LlmOps.incrementalDedup]] the batch entry runs — foreachBatch is
  * exactly Spark's unified-model bridge, so batch and streaming share
  * one code path (as [[graft.Pipeline.streamingSync]] runs the batch
  * syncs' load step per micro-batch) — then appends its survivors' postings so the next
  * micro-batch judges against them. DedupStreamSpec pins parity:
  * streamed micro-batches ≡ the one-shot batch result on the same
  * delta — FOR ID-ORDERED BATCHES (the same scope PipelineStream
  * claims for attribution). Parity is order-conditional in two ways:
  * (a) arrival order decides `dup_of` direction — if a later batch
  * delivers a smaller-id near-dup of an earlier larger-id survivor,
  * the smaller id is judged the duplicate, the opposite of the
  * one-shot min-partner rule over the whole delta; (b) the rare-
  * shingle blocking cutoff is evaluated against base df + THIS
  * batch's df, not the whole-delta df, so on skewed data a shingle
  * can be rare for one batch and hot for the one-shot run, shifting
  * the candidate (and hence dup) set. In production both are
  * acceptable — a standing corpus judges arrivals in arrival order —
  * but they are semantics, not noise: document processing order when
  * reproducibility across replays matters.
  *
  * Exactly-once caveat (same honesty as [[DedupArtifacts.append]]'s
  * scaladoc): the decision write and the artifact append are two
  * non-transactional table appends, so a micro-batch REPLAY after a
  * crash would double-append postings. The id-inequality guard in
  * candidate generation keeps replayed judgments correct, but a
  * production deployment stages each batch's appends under the
  * checkpointed batchId (write staging table, commit = rename/MERGE)
  * to make them idempotent — the standard foreachBatch sink contract.
  */
object DedupStream {

  /** Start the delta-dedup stream over `deltaDocs` (a streaming frame
    * exposing doc_id, text). Duplicate decisions (doc_id, dup_of)
    * append to `resultTable`; survivors' artifacts append to the
    * `prefix` store. */
  def start(deltaDocs: DataFrame, prefix: String, resultTable: String,
            cutoff: Int, tau: Double): StreamingQuery =
    deltaDocs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        runBatch(batch.toDF(), prefix, resultTable, cutoff, tau)
      }
      .start()

  /** One micro-batch = one delta run of the production loop: read the
    * standing artifacts, judge the batch (only the batch is shingled),
    * record decisions, append survivors. The decision frame's lineage
    * is truncated (eager localCheckpoint) before any table mutates —
    * it reads the very tables the append writes. */
  private[graft] def runBatch(batch: DataFrame, prefix: String,
                              resultTable: String, cutoff: Int,
                              tau: Double): Unit = {
    val s = batch.sparkSession
    val docs = batch.select("doc_id", "text")
    val (bp, bs, bd) = DedupArtifacts.read(s, prefix)
    val dups = LlmOps.incrementalDedup(bp, bs, bd, docs, cutoff, tau)
      .transform(graft.Pin.pin)
    dups.write.mode("append").format("parquet").saveAsTable(resultTable)
    DedupArtifacts.append(s, prefix, docs, dups)
    // micro-batch intermediates (the batch's postings/candidates) are
    // batch-scoped — release them so a long-running stream never
    // accumulates cached frames (the Caches contract)
    graft.Caches.release(s)
  }
}
