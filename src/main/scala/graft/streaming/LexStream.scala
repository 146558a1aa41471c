package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchCompaction, BatchSink}
import graft.operators.PostingsIndex

/** Continuous document ingestion into the persisted BM25 index — the
  * lexical twin of [[AnnStream]]: each micro-batch of documents is
  * tokenized into postings under the index's frozen partition count
  * and appended to its term-partitioned layout, so the serving path
  * ([[PostingsIndex.query]]) sees new documents one trigger after they
  * arrive while per-query IO stays bounded by the query's term
  * partitions. Per-batch stats rows keep corpus df/avgdl exact without
  * ever rescanning history.
  *
  * Replay safety: postings and stats go through
  * [[graft.core.BatchSink]], so a re-delivered batch (including the
  * build batch) rewrites its own partitions and nothing else. Run [[compactSinks]] on a maintenance
  * cadence to fold old postings partitions; queries collapse
  * duplicates per (term, id), so compaction crash leftovers cannot
  * change results. `stats/` is deliberately NOT compacted: its rows
  * are one per batch and BatchCompaction's full-row collapse would
  * merge two batches that happen to share identical counts —
  * undercounting the corpus. One tiny row per trigger is cheap.
  */
object LexStream {

  /** One micro-batch: build-on-first / append-on-rest — idempotent on
    * `batchId`. Public so tests (and batch replayers) can drive the
    * exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      parts: Int, textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = batch.sparkSession
    if (!PostingsIndex.exists(spark, indexPath))
      PostingsIndex.build(batch, indexPath, parts, textCol, idCol)
    else if (batchId == 0L) // replayed build batch: frozen parts, no rebuild
      PostingsIndex.replayAppend(batch, indexPath, 0L, textCol, idCol)
    else
      PostingsIndex.append(batch, indexPath, batchId, textCol, idCol)
  }

  /** Fold old postings partitions into one compacted segment, keeping
    * the newest `keepRecent` batches live for replay. */
  def compactSinks(spark: SparkSession, indexPath: String,
      keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, s"$indexPath/postings", keepRecent)
    ()
  }

  def start(docs: DataFrame, indexPath: String, checkpointDir: String,
      parts: Int, textCol: String = "text", idCol: String = "doc_id",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, indexPath, parts, textCol, idCol)
    }
}
