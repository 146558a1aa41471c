package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import org.apache.spark.sql.GraftColumnBridge.{column => toCol, eagerExpression}
import graft.core.BatchSink
import graft.functions.{BitmapAgg, BitmapOrAgg, BitmapAndAgg}

/** Streaming EXACT audience sets — the continuous feed of the bitmap
  * state store ([[graft.functions.BitmapAgg]]), the family's
  * Kafka-MV → AggregatingMergeTree(groupBitmapState) shape and the
  * exact twin of [[UniqStream]]: every micro-batch lands one
  * sorted-distinct id set per key; readers OR-merge for "anyone ever"
  * or AND-merge for "present in every batch window" at any time with
  * [[audienceView]]. Raw event rows never persist — only the per-key
  * distinct ids, which is the floor for an EXACT answer.
  *
  * Replay: [[graft.core.BatchSink]] — and like HLL (and unlike
  * additive counters), set union is IDEMPOTENT, so even a duplicated
  * state row cannot change the audience. [[graft.core
  * .BatchCompaction]] folds old batch partitions; the OR-view is
  * invariant to that folding (union is associative); the AND-view
  * treats each remaining STORED state as one window, which compaction
  * coarsens — documented, the reader that needs per-batch AND
  * granularity reads before compaction. */
object BitmapStream {

  private def stateAgg(c: Column): Column =
    toCol(BitmapAgg(eagerExpression(c)).toAggregateExpression())

  private def orAgg(c: Column): Column =
    toCol(BitmapOrAgg(eagerExpression(c)).toAggregateExpression())

  private def andAgg(c: Column): Column =
    toCol(BitmapAndAgg(eagerExpression(c)).toAggregateExpression())

  /** One micro-batch → one bitmap state per key. Public so tests and
    * batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, keyCols: Seq[String],
      idCol: String, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.groupBy(keyCols.map(col): _*)
        .agg(stateAgg(col(idCol)).as("bitmap_state")), batchId, path)
  }

  def start(events: DataFrame, keyCols: Seq[String], idCol: String,
      path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(events, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, keyCols, idCol, path)
    }

  /** Reader fold: per key, the OR-merged audience (every id ever
    * seen) and the AND-merged core (ids present in EVERY stored
    * state). Output: keyCols :+ (audience, audience_size, core_size). */
  def audienceView(states: DataFrame, keyCols: Seq[String]): DataFrame =
    states.groupBy(keyCols.map(col): _*)
      .agg(orAgg(col("bitmap_state")).as("audience"),
        andAgg(col("bitmap_state")).as("__core"))
      .select(keyCols.map(col) ++ Seq(col("audience"),
        size(col("audience")).as("audience_size"),
        size(col("__core")).as("core_size")): _*)
}
