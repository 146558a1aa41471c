package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.GraftColumnBridge.{column => toCol, eagerExpression}
import graft.core.BatchSink
import graft.functions.TopKSketch

/** Streaming heavy hitters — the third member of the counter-store
  * trio ([[SummingStream]] = additive sums, [[UniqStream]] = HLL
  * distincts, this = topK): every micro-batch lands one bounded
  * (item, est) summary per key (≤ k rows regardless of batch size),
  * and [[topKView]] folds the stored summaries per the mergeable-
  * summaries rule — sum matching items' estimates, re-cut to k. The
  * raw item stream never persists; a billion-event batch writes the
  * same ≤ k rows a thousand-event one does.
  *
  * Error composition: each batch summary underestimates by at most
  * its batch mass / (k+1) (Misra-Gries), and the re-cut view keeps
  * the mergeable-summaries bound of W_total/(k+1) — any item above
  * that frequency is guaranteed present in the view.
  *
  * Replay: [[graft.core.BatchSink]]. */
object HeavyHittersStream {

  private def topKAgg(k: Int, c: Column): Column =
    toCol(TopKSketch(k, eagerExpression(c)).toAggregateExpression())

  /** One micro-batch → ≤ k (item, est) rows per key. Public so tests
    * and batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      itemCol: String, k: Int, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.groupBy(keyCols.map(col): _*)
        .agg(topKAgg(k, col(itemCol)).as("__tk"))
        .select(keyCols.map(col) :+ explode(col("__tk")).as("e"): _*)
        .select(keyCols.map(col) :+ col("e.item").as("item") :+
          col("e.est").as("est"): _*), batchId, path)
  }

  def start(events: DataFrame, keyCols: Seq[String], itemCol: String,
      k: Int, path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, keyCols, itemCol, k, path)
    }

  /** Reader fold: sum each item's stored estimates per key, keep the
    * k heaviest (est desc, item asc — deterministic).
    * Output: keyCols :+ (item, est, rank). */
  def topKView(summaries: DataFrame, keyCols: Seq[String],
      k: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col("est").desc, col("item").asc)
    summaries.groupBy(keyCols.map(col) :+ col("item"): _*)
      .agg(sum(col("est")).as("est"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
