package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The one micro-batch sink: every streaming twin and every persisted
  * index writes its batches through here.
  *
  * Contract (the Spark twin of the reference's Kafka-engine MV +
  * ReplacingMergeTree "at-least-once in, effectively-once out"): each
  * batch lands in its own `__batch_id=<id>` partition, written with
  * `Overwrite` under the WRITE-level `partitionOverwriteMode=dynamic`
  * option. `foreachBatch` is at-least-once, so a crash after the write
  * but before the checkpoint commit re-runs the same batch id; that
  * replay replaces exactly its own partition and nothing else. The
  * option lives on the write, not in the session, because sessions
  * built without [[GraftSession]]'s conf (static mode) would otherwise
  * truncate the whole table on every batch.
  *
  * Sub-partition columns nest below the batch directory
  * (`__batch_id=3/__pb=17/`), so [[BatchCompaction]] folds any of these
  * tables by batch id alone. Empty-batch policy stays with each caller:
  * a guard here would cost every batch an extra Spark job. */
object BatchSink {

  val BatchCol = "__batch_id"

  /** Tag `df` with `batchId` and replace that batch's partition(s) of
    * the parquet table at `path`. */
  def write(df: DataFrame, batchId: Long, path: String,
      subPartitionCols: String*): Unit =
    df.withColumn(BatchCol, lit(batchId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BatchCol +: subPartitionCols: _*)
      .parquet(path)

  /** Start `stream` with its checkpoint and trigger, running `body` on
    * every micro-batch. */
  def start(stream: DataFrame, checkpointDir: String, trigger: Trigger)(
      body: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch(body)
      .start()
}
