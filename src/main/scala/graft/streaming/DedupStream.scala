package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchCompaction, BatchSink}
import graft.operators.{Dedup, LshIndex}

/** Continuous near-dup detection: each micro-batch of documents is
  * signature-indexed once ([[Dedup.buildIndex]]), probed against the
  * accumulated index, and appended to it — history is never
  * re-tokenized or re-paired. This is the 100 TB continuous-ingestion
  * shape twice over: per-batch SHUFFLE is O(|batch| + collisions)
  * (the incremental candidate contract), and since the index lives in
  * [[LshIndex]]'s bucket-partitioned layout, per-batch file IO prunes
  * to the touched bucket partitions instead of scanning the whole
  * accumulated index every trigger.
  *
  * Outputs duplicate pairs (id_a, id_b, jaccard ≥ threshold) to
  * `pairsPath`.
  *
  * Replay safety: all sinks (pairs here, members/grams inside
  * [[LshIndex.append]]) go through [[graft.core.BatchSink]], so the
  * "index accumulates each doc exactly once" invariant survives
  * failure-replay, not just clean runs. (The replayed probe
  * sees its own docs already indexed; the self-pair guard and pair
  * normalization in [[Dedup.incrementalPairs]] make that re-probe emit
  * the same pair set, which the overwrite then replaces in place.)
  *
  * One directory accumulates per micro-batch; run [[compactSinks]] on
  * a maintenance cadence to fold history into one compacted segment
  * per table while keeping recent batches replayable.
  *
  * Note: a partitioned parquet sink materializes no files for an empty
  * batch result, so `pairsPath` becomes readable at the first batch
  * that actually emits a pair (readers should Try/exists-guard it, as
  * GoldContext does for all tables); the index path always
  * materializes — every batch has rows.
  */
object DedupStream {

  /** One micro-batch: index, probe against history, persist both —
    * idempotent on `batchId`. Public so tests (and batch replayers)
    * can drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexPath: String, pairsPath: String,
      threshold: Double, numBuckets: Int = 256): Unit = {
    val spark = batch.sparkSession
    val indexed = LshIndex.exists(spark, indexPath)
    // an existing index fixes the bucket layout: derive it from the
    // meta so a restarted stream (or one started with defaults against
    // a non-default index) appends consistently — the passed value
    // only seeds the very first append
    val nb = if (indexed) LshIndex.readNumBuckets(spark, indexPath)
      else numBuckets
    val newIdx = Dedup.buildIndex(batch, textCol, idCol).cache()
    try {
      val candidates =
        if (indexed)
          LshIndex.probe(newIdx, indexPath)
        else // first batch: only within-batch pairs exist
          Dedup.incrementalCandidates(newIdx, newIdx.limit(0))
      BatchSink.write(candidates.filter(col("jaccard") >= threshold),
        batchId, pairsPath)
      LshIndex.append(newIdx, indexPath, batchId, nb)
    } finally { newIdx.unpersist(); () }
  }

  /** Fold old batch partitions of all three sinks (index members +
    * grams, pairs) into one compacted segment each, keeping the newest
    * `keepRecent` batches live for replay — see
    * [[graft.core.BatchCompaction]] for the exact guarantees. Safe to
    * run between triggers or from a separate maintenance job. */
  def compactSinks(spark: SparkSession, indexPath: String,
      pairsPath: String, keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, s"$indexPath/members", keepRecent)
    BatchCompaction.compact(spark, s"$indexPath/grams", keepRecent)
    BatchCompaction.compact(spark, pairsPath, keepRecent)
    ()
  }

  def start(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, pairsPath: String, checkpointDir: String,
      threshold: Double = 0.8, numBuckets: Int = 256,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, textCol, idCol, indexPath, pairsPath,
        threshold, numBuckets)
    }
}
