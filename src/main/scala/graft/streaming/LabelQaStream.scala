package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Stats

/** Streaming label-quality monitor — the continuous feed of the
  * [[graft.operators.Stats.fleissKappa]]/[[graft.operators.Stats.ratingDisagreement]]
  * audits: every micro-batch of (item, label) ratings lands its
  * PARTIAL cell counts (one row per (item, label) per batch — bounded
  * by the label space, not the rating volume), and the read-time
  * views fold the partials through the `…Counts` seams. Because both
  * audits sum duplicate cells before computing, the streamed views
  * are integer-identical to the batch operators over the concatenated
  * ratings log — an annotation campaign watches its agreement drop
  * live without ever re-scanning raw ratings.
  *
  * Replay: [[graft.core.BatchSink]]. */
object LabelQaStream {

  /** One micro-batch → its per-(item, label) partial counts. Public
    * so tests and batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, itemCol: String,
      labelCol: String, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(
        batch.groupBy(col(itemCol).as("item"), col(labelCol).as("label"))
          .agg(count(lit(1)).as("n")),
        batchId, path)
  }

  def start(ratings: DataFrame, itemCol: String, labelCol: String,
      path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(ratings, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, itemCol, labelCol, path)
    }

  private def stored(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select("item", "label", "n")

  /** Corpus-level agreement right now — one row, identical to
    * [[Stats.fleissKappa]] over every rating ever streamed. */
  def kappaView(spark: SparkSession, path: String): DataFrame =
    Stats.fleissKappaCounts(stored(spark, path))

  /** The live relabel queue — per-item majority/disagreement, identical
    * to [[Stats.ratingDisagreement]] over the full log. */
  def disagreementView(spark: SparkSession, path: String): DataFrame =
    Stats.ratingDisagreementCounts(stored(spark, path))
}
