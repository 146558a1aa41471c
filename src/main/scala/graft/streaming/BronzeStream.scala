package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchSink, PartitionedWriter}
import graft.ingest.Bronze

/** Continuous bronze ingest — the Structured Streaming re-expression of
  * the reference's Kafka-engine + 3-MV fan-out
  * (/root/reference/clickhouse/init/02_kafka_ingest.sql.tmpl):
  * one source stream of raw JSON strings, one `foreachBatch` that routes
  * each micro-batch through the same [[Bronze]] projections used in
  * batch mode, appending to the three date-partitioned bronze tables.
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

  /** Start the route-and-append stream. Each micro-batch fans out to
    * the three bronze tables (single pass per projection; writes are
    * partitioned by event_date and sorted for scan locality). */
  def start(raw: DataFrame, warehouseDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): StreamingQuery =
    BatchSink.start(raw, checkpointDir, trigger) { (batch, _) =>
      val cached = batch.cache()
      try Bronze.route(cached).foreach { case (src, df) =>
        if (!df.isEmpty)
          PartitionedWriter.append(df, s"$warehouseDir/bronze_$src",
            "event_ts", Seq("event_ts", "event_id"))
      } finally cached.unpersist()
      ()
    }
}
