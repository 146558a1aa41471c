package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.GraftColumnBridge.{column => toCol, eagerExpression}
import graft.core.BatchSink
import graft.functions.{HistMerge, HistogramSketch}

/** Streaming distribution monitors — the continuous feed of the
  * histogram-state pattern ([[graft.functions.HistogramSketch]]),
  * the family's Kafka-MV → AggregatingMergeTree(histogramState)
  * shape: every micro-batch lands one ≤ nbins-bin sketch per key
  * (bounded regardless of batch size), readers fold the stored
  * states at any time with [[histView]] and read quantiles straight
  * off them ([[graft.functions.HistogramOps.histQuantile]]) — raw
  * measures never persist.
  *
  * Replay: [[graft.core.BatchSink]]. Unlike HLL merge, histogram
  * merge is ADDITIVE (a duplicated state row double-counts), so the
  * sink is the replay guarantee here, exactly as for the Summing
  * counters. [[graft.core.BatchCompaction]] folds old batch
  * partitions; [[histView]] answers are invariant to that folding
  * in the exact regime and remain valid sketches in the compressed
  * one. */
object HistStream {

  private def sketchAgg(nbins: Int, c: Column): Column =
    toCol(HistogramSketch(nbins, eagerExpression(c)).toAggregateExpression())

  private def mergeAgg(nbins: Int, c: Column): Column =
    toCol(HistMerge(nbins, eagerExpression(c)).toAggregateExpression())

  /** One micro-batch → one histogram state per key. Public so tests
    * and batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      valueCol: String, path: String, nbins: Int): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.groupBy(keyCols.map(col): _*)
        .agg(sketchAgg(nbins, col(valueCol)).as("hist_state")), batchId, path)
  }

  def start(events: DataFrame, keyCols: Seq[String], valueCol: String,
      path: String, checkpointDir: String, nbins: Int = 64,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, keyCols, valueCol, path, nbins)
    }

  /** Reader fold: merge every stored state per key. Output:
    * keyCols :+ `hist` (array<struct<centroid, cnt>>). */
  def histView(states: DataFrame, keyCols: Seq[String],
      nbins: Int = 64): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(mergeAgg(nbins, col("hist_state")).as("hist"))
}
