package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchCompaction, BatchSink}
import graft.operators.ContainmentIndex

/** Continuous doc-inside-doc detection — [[DedupStream]]'s shape for
  * directional containment: each micro-batch probes the accumulated
  * gram-postings index for documents it is contained in (quote farms,
  * boilerplate-wrapped mirrors, excerpt spam), then appends itself.
  * History is never re-tokenized; per-batch file IO prunes to the
  * batch's touched gram partitions and per-batch shuffle is bounded by
  * the prefix-filter candidate contract (O(prefix · maxDf), never the
  * corpus) — see [[ContainmentIndex]] for the exact-df guarantee that
  * makes the probe replay closed-corpus semantics.
  *
  * Outputs (id_a ∈ batch, id_b, containment ≥ threshold) to
  * `pairsPath`, `__batch_id`-partitioned.
  *
  * Replay safety is the [[DedupStream]] contract verbatim: all sinks
  * (pairs here, postings/docs inside [[ContainmentIndex.append]]) go
  * through [[graft.core.BatchSink]], and the probe's (gram, id)/(id)
  * collapses make a batch that is already indexed count once, so the
  * re-probe emits the same pair set the overwrite then replaces
  * in place (IndexAppendCrashSpec covers the torn two-table state). */
object ContainmentStream {

  /** One micro-batch: probe against history (plus itself), persist the
    * pairs, append the batch — idempotent on `batchId`. Public so tests
    * and batch replayers can drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      idCol: String, indexPath: String, pairsPath: String,
      threshold: Double = 0.9, maxDf: Int = 64, shingleN: Int = 4,
      numBuckets: Int = ContainmentIndex.DefaultNumBuckets): Unit = {
    val spark = batch.sparkSession
    val indexed = ContainmentIndex.exists(spark, indexPath)
    // an existing index fixes the gram space: derive shingleN/numBuckets
    // from its meta so a restarted stream (or one started with defaults
    // against a non-default index) probes AND appends consistently —
    // passed values only seed the very first append
    val (sn, nb) =
      if (indexed) { val (n, s) = ContainmentIndex.readMeta(spark, indexPath); (s, n) }
      else (shingleN, numBuckets)
    val pairs =
      if (indexed)
        ContainmentIndex.probe(batch, textCol, idCol, indexPath,
          threshold, maxDf)
      else {
        // first batch: only within-batch containment exists — the
        // batch operator restricted to itself is exactly that
        graft.operators.Dedup.selfContainmentPairs(batch, textCol, idCol,
          sn, threshold, maxDf)
      }
    BatchSink.write(pairs, batchId, pairsPath)
    ContainmentIndex.append(batch, textCol, idCol, indexPath, batchId,
      sn, nb)
  }

  /** Fold old batch partitions of all three sinks into one compacted
    * segment each, keeping the newest `keepRecent` batches live for
    * replay. Safe between triggers or from a maintenance job. */
  def compactSinks(spark: SparkSession, indexPath: String,
      pairsPath: String, keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, s"$indexPath/postings", keepRecent)
    BatchCompaction.compact(spark, s"$indexPath/docs", keepRecent)
    BatchCompaction.compact(spark, pairsPath, keepRecent)
    ()
  }

  def start(docs: DataFrame, textCol: String, idCol: String,
      indexPath: String, pairsPath: String, checkpointDir: String,
      threshold: Double = 0.9, maxDf: Int = 64, shingleN: Int = 4,
      numBuckets: Int = ContainmentIndex.DefaultNumBuckets,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, textCol, idCol, indexPath, pairsPath,
        threshold, maxDf, shingleN, numBuckets)
    }
}
