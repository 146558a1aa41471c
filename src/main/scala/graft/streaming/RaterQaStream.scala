package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Stats

/** Streaming per-rater quality monitor — the continuous feed of the
  * [[graft.operators.Stats.raterConsensusKappa]] and
  * [[graft.operators.Stats.raterBias]] audits: every micro-batch of
  * (item, rater, label, score) ratings lands TWO partial counter rows
  * per touched key — an (item, rater, label) cell count and a
  * (rater, n, Σscore-micro) moment row — both bounded by the touched
  * key space, never by rating volume. The read-time views fold the
  * partials through the `…Counts` seams, so an annotation campaign
  * watches a drifting annotator's kappa/bias live without re-scanning
  * raw ratings. Because both audits sum duplicate keys before
  * computing, the streamed views are integer-identical to the batch
  * operators over the concatenated log — the stream≡batch contract,
  * pinned in spec.
  *
  * Replay: [[graft.core.BatchSink]]. */
object RaterQaStream {

  /** One micro-batch → its per-(item, rater, label) partial cell
    * counts and per-rater partial score moments. Public so tests and
    * batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, itemCol: String,
      raterCol: String, labelCol: String, scoreCol: String,
      path: String): Unit = {
    if (!batch.isEmpty) {
      BatchSink.write(batch.groupBy(col(itemCol).as("item"),
          col(raterCol).as("rater"), col(labelCol).as("label"))
        .agg(count(lit(1)).as("n")), batchId, s"$path/cells")
      BatchSink.write(batch.select(col(raterCol).as("rater"),
          round(col(scoreCol).cast("double") * 1e6).cast("long").as("u"))
        .filter(col("rater").isNotNull && col("u").isNotNull)
        .groupBy("rater")
        .agg(count(lit(1)).as("n_ratings"), sum("u").as("su")),
        batchId, s"$path/moments")
    }
  }

  def start(ratings: DataFrame, itemCol: String, raterCol: String,
      labelCol: String, scoreCol: String, path: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(ratings, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, itemCol, raterCol, labelCol,
        scoreCol, path)
    }

  /** Per-rater kappa vs consensus right now — identical to
    * [[Stats.raterConsensusKappa]] over every rating ever streamed. */
  def kappaView(spark: SparkSession, path: String): DataFrame =
    Stats.raterConsensusKappaCounts(spark.read.parquet(s"$path/cells")
      .select("item", "rater", "label", "n"))

  /** Per-rater score bias right now — identical to [[Stats.raterBias]]
    * over the full log. */
  def biasView(spark: SparkSession, path: String): DataFrame =
    Stats.raterBiasCounts(spark.read.parquet(s"$path/moments")
      .select("rater", "n_ratings", "su"))

  /** Worker-accuracy-weighted consensus right now — identical to
    * [[Stats.weightedConsensus]] over the full log (the cell partials
    * this stream already lands fold by addition, which is exactly the
    * `…Counts` seam's contract). An annotation campaign watches which
    * items a reliable minority would flip, live. */
  def consensusView(spark: SparkSession, path: String): DataFrame =
    Stats.weightedConsensusCounts(spark.read.parquet(s"$path/cells")
      .select("item", "rater", "label", "n"))
}
