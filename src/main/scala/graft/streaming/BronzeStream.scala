package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchSink, PartitionedWriter, Runner}
import graft.ingest.Bronze

/** Continuous bronze ingest — the Structured Streaming re-expression of
  * the reference's Kafka-engine + 3-MV fan-out
  * (/root/reference/clickhouse/init/02_kafka_ingest.sql.tmpl):
  * one source stream of raw JSON strings, one `foreachBatch` that routes
  * each micro-batch through the same [[Bronze]] projections used in
  * batch mode and appends them, concurrently, to the three
  * date-partitioned bronze tables ([[fanOut]], also the batch-mode
  * ingest of `tools.RunPipelines`). Like the reference's three MVs on
  * one Kafka insert, the three writes share one cached batch.
  *
  * Delivery: source offsets live in the checkpoint, writes are
  * append-only, and all downstream gold builds dedupe on
  * (event_id, event_ts) — at-least-once ingest + idempotent consumers =
  * effectively-once in gold, exactly the reference's contract
  * (SURVEY.md §2 G4).
  */
object BronzeStream {

  /** Kafka source with the reference's topology (topic `malcolm-logs`,
    * one value column; requires the spark-sql-kafka connector on the
    * cluster classpath). `kafka_skip_broken_messages` ≈ permissive parse
    * + the router's non-empty-hash filter. */
  def kafkaSource(spark: SparkSession, brokers: String,
      topic: String = "malcolm-logs", groupId: String = "graft-bronze"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("kafka.group.id", groupId)
      .option("failOnDataLoss", "false")
      .load()
      .selectExpr("CAST(value AS STRING) AS raw")

  /** File-drop source (one JSON event per line) — same downstream code
    * path; used by tests and local replays. */
  def fileSource(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.format("text")
      .option("maxFilesPerTrigger", "16")
      .load(dir)
      .select(col("value").as("raw"))

  /** Streaming-native dedupe (the G3 alternative path): event-time
    * watermark bounds the state store, dropDuplicates on the reference's
    * dedupe key suppresses redelivered events inside the lateness
    * window. Downstream anti-joins still make the batch path idempotent
    * for data later than the watermark. */
  def withStreamingDedupe(typed: DataFrame,
      lateness: String = "5 minutes"): DataFrame =
    typed.withWatermark("event_ts", lateness)
      .dropDuplicates("event_id", "event_ts")

  /** Streaming gold rollup: tumbling event-time windows with
    * watermark-bounded state — the pure-streaming alternative to the
    * reference's 5-minute-cron batch gold build (SURVEY.md §2 G2). In
    * append mode a window emits exactly once, when the watermark passes
    * its end: the same effectively-once contract the batch path gets
    * from anti-join dedupe, with late events inside `lateness` folded
    * in before emission instead of via window-overlap re-runs (G3). */
  def windowedRollup(typed: DataFrame, keyCols: Seq[String],
      tsCol: String = "event_ts", windowLen: String = "5 minutes",
      lateness: String = "5 minutes"): DataFrame =
    typed.withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), windowLen) +: keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_events"))
      .select((keyCols.map(col) :+
        col("window.start").as("window_start") :+
        col("n_events")): _*)

  /** Start the route-and-append stream: each micro-batch goes through
    * [[fanOut]]. */
  def start(raw: DataFrame, warehouseDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    BatchSink.start(raw, checkpointDir, trigger) { (batch, _) =>
      fanOut(batch, warehouseDir)
      ()
    }

  /** The MV fan-out of one batch of raw JSON: the batch is cached once
    * and its three [[Bronze.route]] projections are appended to
    * `bronze_<source>` (by event_date, sorted for scan locality) at the
    * same time on [[Runner]]: each sort-and-write stage is one task, so
    * one write at a time would leave cores idle. Every write runs to its
    * end; then the first failure in source order is rethrown, which
    * fails the batch. Returns the sources that had rows. */
  def fanOut(raw: DataFrame, warehouseDir: String): Seq[String] = {
    val cached = raw.cache()
    try {
      val writes = Bronze.route(cached).toSeq.map { case (src, df) =>
        Runner.Task(src, Nil, () =>
          if (df.isEmpty) None
          else {
            PartitionedWriter.append(df, s"$warehouseDir/bronze_$src",
              "event_ts", Seq("event_ts", "event_id"))
            Some(src)
          })
      }
      Runner.run(writes, writes.size).flatMap(_.get)
    } finally cached.unpersist()
  }
}
