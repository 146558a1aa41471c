package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchCompaction, BatchSink}
import graft.operators.{IvfIndex, IvfPqIndex}

/** Continuous embedding ingestion into the persisted ANN index — the
  * similarity-search twin of [[DedupStream]]: each micro-batch of
  * vectors is assigned under the index's frozen centroids and appended
  * to its cell-partitioned layout, so the serving path
  * ([[IvfIndex.query]]) sees new vectors one trigger after they arrive
  * while per-query IO stays nprobe/nlist of the corpus by layout.
  *
  * The FIRST batch trains the index (stride-seeded, optionally
  * k-means-refined centroids) — the standard IVF posture: train on an
  * initial sample, freeze, then stream. If the first real batch is not
  * representative, build the index offline from a sample first and
  * point the stream at it; every later batch is assignment-only either
  * way.
  *
  * Replay safety: appends go through [[graft.core.BatchSink]]; a
  * re-delivered BUILD batch (id 0) re-assigns under the already-frozen
  * centroids instead of re-training ([[IvfIndex.replayAppend]]), so the centroid set — and
  * therefore every earlier batch's cell assignment — never shifts
  * under replay. Run [[compactSinks]] on a maintenance cadence to fold
  * old batch partitions; queries collapse duplicates per vector id, so
  * compaction crash leftovers cannot change results.
  */
object AnnStream {

  /** One micro-batch: train-on-first / assign-on-rest — idempotent on
    * `batchId`. Public so tests (and batch replayers) can drive the
    * exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, indexPath: String,
      nlist: Int, kmeansIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    if (!IvfIndex.exists(spark, indexPath))
      IvfIndex.build(batch, indexPath, nlist, kmeansIters, idCol, vecCol)
    else if (batchId == 0L) // replayed build batch: assign, don't re-train
      IvfIndex.replayAppend(batch, indexPath, 0L, idCol, vecCol)
    else
      IvfIndex.append(batch, indexPath, batchId, idCol, vecCol)
  }

  /** Fold old cell partitions into one compacted segment, keeping the
    * newest `keepRecent` batches live for replay. */
  def compactSinks(spark: SparkSession, indexPath: String,
      keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, s"$indexPath/cells", keepRecent)
    ()
  }

  def start(vectors: DataFrame, indexPath: String, checkpointDir: String,
      nlist: Int, kmeansIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding",
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(vectors, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, indexPath, nlist, kmeansIters,
        idCol, vecCol)
    }

  /** Compressed-index twin: same train-on-first / encode-on-rest
    * contract against [[IvfPqIndex]] — the streamed store is codes-only
    * (m small ints per vector), so continuous ingestion writes the
    * 32×-smaller serving layout directly. Replay discipline is
    * identical ([[graft.core.BatchSink]]; a re-delivered build batch
    * re-encodes under frozen artifacts). */
  def processBatchPq(batch: DataFrame, batchId: Long, indexPath: String,
      nlist: Int, m: Int, ksub: Int, dim: Int, kmeansIters: Int = 0,
      pqIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = batch.sparkSession
    if (!IvfPqIndex.exists(spark, indexPath))
      IvfPqIndex.build(batch, indexPath, nlist, m, ksub, dim,
        kmeansIters, pqIters, idCol, vecCol)
    else if (batchId == 0L)
      IvfPqIndex.replayAppend(batch, indexPath, 0L, idCol, vecCol)
    else
      IvfPqIndex.append(batch, indexPath, batchId, idCol, vecCol)
  }

  /** Fold old code partitions of a streamed [[IvfPqIndex]], keeping
    * the newest `keepRecent` batches live for replay. */
  def compactSinksPq(spark: SparkSession, indexPath: String,
      keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, s"$indexPath/codes", keepRecent)
    ()
  }
}
