package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Curation

/** Per-micro-batch data cards: every arriving batch lands its
  * per-source governance summary ([[Curation.dataCard]] — doc/token
  * mass, language mix, mean quality, exact-dup rate) as rows in a
  * metrics table, so corpus composition is monitored AS it is
  * ingested rather than audited after the fact. The batch-local dup
  * rate measures duplication WITHIN the arriving slice (cross-batch
  * dedup is [[DedupStream]]'s job against its persisted index).
  *
  * Replay: [[graft.core.BatchSink]]. Empty batches write nothing. */
object CardStream {

  /** One micro-batch → its per-source card rows. Public so tests and
    * batch backfill audits drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, groupCol: String,
      textCol: String, cardsPath: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(Curation.dataCard(batch, groupCol, textCol), batchId,
        cardsPath)
  }

  def start(docs: DataFrame, groupCol: String, textCol: String,
      cardsPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, groupCol, textCol, cardsPath)
    }
}
