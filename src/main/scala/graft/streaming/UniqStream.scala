package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.GraftColumnBridge.{column => toCol, eagerExpression}
import graft.core.BatchSink
import graft.functions.{HllMergeAgg, HllSketchAgg, HllEstimate}

/** Streaming distinct counters — the continuous feed of the HLL
  * state-store pattern ([[graft.functions.Hll]]), the family's
  * Kafka-MV → AggregatingMergeTree(uniqState) shape: every
  * micro-batch lands one 4 KiB sketch per key (bounded regardless of
  * batch size — a billion-event batch writes the same bytes as a
  * thousand-event one), readers merge+estimate at any time with
  * [[uniqView]], and the raw ids never persist anywhere.
  *
  * Replay: [[graft.core.BatchSink]] — and unlike additive counters,
  * HLL merge is IDEMPOTENT (per-register max), so even a duplicated
  * state row cannot inflate the estimate.
  * [[graft.core.BatchCompaction]] folds old batch partitions;
  * [[uniqView]] is invariant to that folding. */
object UniqStream {

  private def sketchAgg(c: Column): Column =
    toCol(HllSketchAgg(eagerExpression(c)).toAggregateExpression())

  private def mergeAgg(c: Column): Column =
    toCol(HllMergeAgg(eagerExpression(c)).toAggregateExpression())

  private def estimate(c: Column): Column =
    toCol(HllEstimate(eagerExpression(c)))

  /** One micro-batch → one sketch state per key. Public so tests and
    * batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      valueCol: String, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.groupBy(keyCols.map(col): _*)
        .agg(sketchAgg(col(valueCol)).as("hll_state")), batchId, path)
  }

  def start(events: DataFrame, keyCols: Seq[String], valueCol: String,
      path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, keyCols, valueCol, path)
    }

  /** Reader fold: merge every stored state per key, estimate once.
    * Output: keyCols :+ `uniq_est`. */
  def uniqView(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(mergeAgg(col("hll_state")).as("__m"))
      .select(keyCols.map(col) :+
        estimate(col("__m")).as("uniq_est"): _*)
}
