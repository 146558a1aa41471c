package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.BatchSink
import graft.operators.Curation

/** Per-micro-batch corpus-drift monitor: each batch's unigram
  * distribution is compared to a FROZEN reference snapshot (its
  * (term, n) table, computed once with [[Curation.unigramCounts]] and
  * persisted) by exact fixed-point Jensen–Shannon divergence — the
  * alert signal when an incoming crawl/feed shifts vocabulary away
  * from the corpus the current model was trained on.
  *
  * One metrics row lands per batch through [[graft.core.BatchSink]].
  * Shuffle shape: the term-keyed full-outer join shuffles
  * vocab-bounded (term, count) pairs — batch text never shuffles — and
  * only the 1-row totals broadcast back (that totals join is what
  * PlanShapeSpec pins; the term join itself is a real exchange, as any
  * join of two unbounded vocabularies must be).
  *
  * An empty micro-batch (no rows, or rows with no tokens) has no
  * distribution to compare: its metrics row is skipped rather than
  * landing a NULL `js_bits` for downstream alerting to trip over.
  */
object DriftStream {

  /** One micro-batch: drift vs the frozen reference → one metrics row.
    * Public so tests and batch backfill audits drive the exact
    * foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, refCounts: DataFrame,
      textCol: String, metricsPath: String): Unit = {
    val metrics = Curation.unigramDriftVsCounts(batch, refCounts, textCol)
      .cache() // one row: evaluated for the guard, reused by the write
    try {
      // a tokenless side makes js_bits NULL (0/0 mass) — skip the row
      val ok = !metrics
        .filter(col("total_a") > 0 && col("total_b") > 0).isEmpty
      if (ok) BatchSink.write(metrics, batchId, metricsPath)
      else
        System.err.println(s"[drift] batch $batchId skipped: empty " +
          "side (no tokens) — no distribution to compare")
    } finally { metrics.unpersist(); () }
  }

  def start(docs: DataFrame, refCounts: DataFrame, textCol: String,
      metricsPath: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, refCounts, textCol, metricsPath)
    }
}
