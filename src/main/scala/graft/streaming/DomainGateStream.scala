package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Curation

/** Streaming domain/source-tier monitor — the continuous feed of the
  * [[graft.operators.Curation.groupGate]] curation gate: every
  * micro-batch of scored documents lands ONE partial moment row per
  * touched group — (group, n_docs, Σ round(score·1e6)) — bounded by
  * the group key space, never by document volume. The read-time tier
  * view folds the partials through [[Curation.groupGateTiers]], so an
  * ingest pipeline watches a domain drift from `keep` into `review`
  * live, without re-scanning scored documents. Because the partials
  * fold by addition and the tier math is all-integer, the streamed
  * tiers are identical to the batch gate over the concatenated log —
  * the stream≡batch contract, pinned in spec.
  *
  * Replay: [[graft.core.BatchSink]]. */
object DomainGateStream {

  /** One micro-batch → its per-group partial moment rows. Public so
    * tests and batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, groupCol: String,
      scoreCol: String, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.select(col(groupCol).as("grp"),
          round(col(scoreCol).cast("double") * 1e6).cast("long").as("u"))
        .filter(col("grp").isNotNull && col("u").isNotNull)
        .groupBy("grp")
        .agg(count(lit(1)).as("n_docs"), sum("u").as("sum_micro")),
        batchId, s"$path/moments")
  }

  def start(docs: DataFrame, groupCol: String, scoreCol: String,
      path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, groupCol, scoreCol, path)
    }

  /** The tier table right now — identical to the tier side of
    * [[Curation.groupGate]] over every document ever streamed. */
  def tierView(spark: SparkSession, path: String,
      minDocs: Long = 3L, dropBelow: Double = 0.3,
      keepAbove: Double = 0.5): DataFrame =
    Curation.groupGateTiers(
      spark.read.parquet(s"$path/moments")
        .select("grp", "n_docs", "sum_micro"),
      "grp", minDocs, dropBelow, keepAbove)
}
