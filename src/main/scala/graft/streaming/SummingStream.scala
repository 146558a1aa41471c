package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Summing

/** Streaming counter tables — the continuous feed of a
  * [[graft.operators.Summing]] store, the reference family's
  * Kafka-MV → SummingMergeTree pattern: every micro-batch lands its
  * PARTIAL sums (one aggregated row per key per batch, the cheapest
  * possible write — no read-modify-write, no state store) and readers
  * fold with [[Summing.summedView]] at any time.
  *
  * Replay: [[graft.core.BatchSink]] — the additive table stays
  * exactly-once without any dedup state. Compaction for THIS store is
  * [[graft.core.BatchCompaction]] (it folds batch-id partitions);
  * [[Summing.merge]] does NOT apply here — it requires the
  * [[graft.core.PartitionedWriter]] date-partitioned layout plus a
  * timestamp column, which the batch-id layout deliberately lacks.
  * The summed view is invariant to BatchCompaction folding. */
object SummingStream {

  /** One micro-batch → its per-key partial sums. Public so tests and
    * batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      measureCols: Seq[String], path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(Summing.summedView(batch, keyCols, measureCols),
        batchId, path)
  }

  def start(events: DataFrame, keyCols: Seq[String],
      measureCols: Seq[String], path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, keyCols, measureCols, path)
    }
}
