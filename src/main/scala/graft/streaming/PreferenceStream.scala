package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Preference

/** Streaming preference leaderboard — the continuous feed of the
  * [[graft.operators.Preference]] Bradley-Terry fit: every micro-batch
  * of (winner, loser) outcomes lands its PARTIAL pair counts (one row
  * per directed pair per batch — bounded by distinct-items², no matter
  * how many comparisons the batch carried), and [[leaderboard]] folds
  * the stored partials and runs the exact fixed-point MM fit at read
  * time. Because [[Preference.fitCounts]] sums duplicate (i, j) rows
  * before fitting, the leaderboard over N stored batches is
  * INTEGER-IDENTICAL to [[Preference.bradleyTerry]] over the
  * concatenated comparison log — the stream≡batch contract, pinned in
  * spec.
  *
  * Replay: [[graft.core.BatchSink]]. [[graft.core.BatchCompaction]]
  * folds old batch
  * partitions; the summed fold is invariant to it. */
object PreferenceStream {

  /** One micro-batch → its per-pair partial counts. Public so tests
    * and batch backfills drive the exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, winnerCol: String,
      loserCol: String, path: String): Unit = {
    if (!batch.isEmpty)
      BatchSink.write(batch.groupBy(col(winnerCol).cast("string").as("i"),
          col(loserCol).cast("string").as("j"))
        .agg(count(lit(1)).as("n")), batchId, path)
  }

  def start(comparisons: DataFrame, winnerCol: String, loserCol: String,
      path: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(comparisons, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, winnerCol, loserCol, path)
    }

  /** Reader fold + fit: sum the stored partial pair counts and run
    * the exact MM iterations — (item, wins, comparisons, score_ppm),
    * bit-identical to the batch fit over the full comparison log. */
  def leaderboard(spark: SparkSession, path: String,
      iterations: Int = 3): DataFrame =
    Preference.fitCounts(
      spark.read.parquet(path).select("i", "j", "n"), iterations)
}
