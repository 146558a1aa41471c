package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Operational monitoring (G6) — the Spark counterparts of the
  * reference's monitoring schema
  * (/root/reference/postgres/init/04_monitoring_tables.sql: ingest lag,
  * volume anomalies, schema drift, freshness/SLA thresholds per pipeline,
  * 06_dynamic_dag_metadata.sql:36-37). The reference declares the tables
  * but ships no populating code; here each check is a function over the
  * warehouse, and [[snapshot]] appends one row per table to
  * `_monitoring`.
  */
object Monitoring {

  /** Per-pipeline operational thresholds — the Spark counterpart of the
    * reference's control.pipeline_configs columns
    * (06_dynamic_dag_metadata.sql:36-37: freshness_threshold_minutes
    * DEFAULT 2, sla_minutes DEFAULT 10) plus the volume-anomaly
    * baseline knobs its volume_metrics table implies. */
  case class SlaConfig(
      pipelineId: String,
      table: String,
      freshnessThresholdMinutes: Double = 2.0,
      slaMinutes: Double = 10.0,
      baselineDays: Int = 7,
      volumeDeviation: Double = 0.5)

  /** Minutes since the newest event_ts in a table; None if absent/empty.
    * Compare against the reference's freshness thresholds (default 2 min,
    * seeded 120–720 min). `asOfMillis` pins "now" for deterministic
    * checks/tests. */
  def freshnessMinutes(ctx: GoldContext, table: String,
      asOfMillis: Long = System.currentTimeMillis()): Option[Double] = {
    if (!ctx.exists(table)) return None
    val df = ctx.read(table)
    if (!df.columns.contains("event_ts")) return None
    val row = df.agg(max("event_ts")).collect().head
    Option(row.getTimestamp(0)).map(ts =>
      (asOfMillis - ts.getTime) / 60000.0)
  }

  /** Row volume per event_date partition — feed for volume-anomaly
    * alerting (monitoring.volume_anomalies). */
  def dailyVolume(ctx: GoldContext, table: String): DataFrame = {
    val df = ctx.read(table)
    df.groupBy("event_date").agg(count(lit(1)).as("rows"))
      .orderBy("event_date")
  }

  /** Schema drift: columns that differ between the table on disk and the
    * expected schema (monitoring.schema_drift's expected_columns check).
    * Returns (missing, unexpected, typeChanged). The one check that
    * infers from disk: every other one reads through [[GoldContext.read]],
    * whose schema is resolved once per context. */
  def schemaDrift(ctx: GoldContext, table: String,
      expected: StructType): (Seq[String], Seq[String], Seq[String]) = {
    val actual = ctx.spark.read.parquet(ctx.path(table)).schema
    val exp = expected.fields.map(f => f.name -> f.dataType).toMap
    val act = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = exp.keys.filterNot(act.contains).toSeq.sorted
    val unexpected = act.keys.filterNot(exp.contains).toSeq.sorted
      .filterNot(_ == graft.core.PartitionedWriter.DateCol)
    val changed = exp.keys.filter(k =>
      act.contains(k) && act(k) != exp(k)).toSeq.sorted
    (missing, unexpected, changed)
  }

  case class FileStats(table: String, partition: String, files: Long,
      bytes: Long, avgFileBytes: Long, needsCompaction: Boolean)

  /** Per-partition file census for a date-partitioned table — the
    * observability half of [[graft.core.PartitionedWriter
    * .compactPartitions]]: cadence appends accumulate one file set per
    * run, and this probe names the partitions whose file count crossed
    * `minFiles` while the average file is under half the target size —
    * exactly the partitions a maintenance-cadence `compactTable` will
    * fold. Pure driver-side metadata listing; no data is read. */
  def fileStats(ctx: GoldContext, table: String, minFiles: Int = 8,
      targetFileBytes: Long = 128L << 20): Seq[FileStats] = {
    import org.apache.hadoop.fs.Path
    if (!ctx.exists(table)) return Nil
    val root = new Path(ctx.path(table))
    val fs = root.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.contains("="))
      .map { p =>
        val data = fs.listStatus(p.getPath)
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        val bytes = data.map(_.getLen).sum
        val avg = if (data.isEmpty) 0L else bytes / data.length
        FileStats(table, p.getPath.getName, data.length, bytes, avg,
          data.length >= minFiles && avg < targetFileBytes / 2)
      }
      .sortBy(_.partition)
  }

  /** Append a monitoring snapshot (freshness + row count per table). */
  def snapshot(ctx: GoldContext, tables: Seq[String]): DataFrame = {
    import ctx.spark.implicits._
    val rows = tables.map { t =>
      (t, ctx.count(t), freshnessMinutes(ctx, t).getOrElse(-1.0))
    }.toDF("table", "rows", "freshness_minutes")
      .withColumn("checked_at", current_timestamp())
    rows.write.mode(SaveMode.Append).parquet(ctx.path("_monitoring"))
    rows
  }

  /** One alert row: mirrors monitoring.alerts
    * (04_monitoring_tables.sql: pipeline_id, alert_type, severity,
    * message). */
  case class Alert(pipelineId: String, alertType: String,
      severity: String, message: String)

  /** Latest-partition volume vs the mean of the preceding
    * `baselineDays` partitions (volume_metrics semantics:
    * event_count, baseline_count, status). Status `ok` when no
    * baseline exists yet or the count is inside the deviation band. */
  def volumeStatus(ctx: GoldContext, cfg: SlaConfig): Option[(Long, Option[Long], String)] = {
    if (!ctx.exists(cfg.table)) return None
    // one read: the loaded frame serves both the column check and the
    // per-partition counts (dailyVolume would re-list and re-read)
    val df = ctx.read(cfg.table)
    if (!df.columns.contains(graft.core.PartitionedWriter.DateCol)) return None
    val daily = df.groupBy(graft.core.PartitionedWriter.DateCol)
      .agg(count(lit(1)).as("rows"))
      .orderBy(graft.core.PartitionedWriter.DateCol).collect()
    if (daily.isEmpty) return None
    val latest = daily.last.getLong(1)
    val baseline = daily.dropRight(1).takeRight(cfg.baselineDays)
    if (baseline.isEmpty) return Some((latest, None, "ok"))
    val mean = baseline.map(_.getLong(1)).sum.toDouble / baseline.length
    val status =
      if (latest < mean * (1 - cfg.volumeDeviation)) "low"
      else if (latest > mean * (1 + cfg.volumeDeviation)) "high"
      else "ok"
    Some((latest, Some(math.round(mean)), status))
  }

  /** Evaluate freshness / run-duration SLA / volume-anomaly / schema
    * drift per pipeline config, emit alert rows. Severity: `critical`
    * past 2× the threshold, else `warning` (the reference's alerts
    * table declares severity but seeds no policy; 2× is ours,
    * documented here). Pure driver-side control plane: each check is
    * one tiny agg per table. */
  def checkSla(ctx: GoldContext, configs: Seq[SlaConfig],
      expected: Map[String, StructType] = Map.empty,
      asOfMillis: Long = System.currentTimeMillis()): Seq[Alert] = {
    val ledger =
      if (ctx.exists("_run_ledger"))
        Some(ctx.read("_run_ledger"))
      else None
    configs.flatMap { cfg =>
      val fresh = freshnessMinutes(ctx, cfg.table, asOfMillis).toSeq.collect {
        case m if m > cfg.freshnessThresholdMinutes =>
          val sev = if (m > 2 * cfg.freshnessThresholdMinutes) "critical"
            else "warning"
          Alert(cfg.pipelineId, "freshness", sev,
            f"${cfg.table} is $m%.1f min stale (threshold ${cfg.freshnessThresholdMinutes}%.1f)")
      }
      val sla = ledger.toSeq.flatMap { led =>
        led.filter(col("pipelineId") === cfg.pipelineId)
          .orderBy(col("run_at").desc).limit(1)
          .select(col("durationMs")).collect().toSeq.collect {
            case r if r.getLong(0) > cfg.slaMinutes * 60000 =>
              val mins = r.getLong(0) / 60000.0
              val sev = if (mins > 2 * cfg.slaMinutes) "critical" else "warning"
              Alert(cfg.pipelineId, "sla", sev,
                f"last run took $mins%.1f min (SLA ${cfg.slaMinutes}%.1f)")
          }
      }
      val volume = volumeStatus(ctx, cfg).toSeq.collect {
        case (n, Some(base), status) if status != "ok" =>
          Alert(cfg.pipelineId, "volume", "warning",
            s"latest partition has $n rows vs baseline $base ($status)")
      }
      val drift = expected.get(cfg.table).toSeq.flatMap { exp =>
        val (missing, unexpected, changed) = schemaDrift(ctx, cfg.table, exp)
        (missing.map(c => s"missing:$c") ++ unexpected.map(c => s"unexpected:$c")
          ++ changed.map(c => s"type_changed:$c")) match {
          case Nil => Nil
          case probs => Seq(Alert(cfg.pipelineId, "schema_drift", "critical",
            probs.mkString(", ")))
        }
      }
      fresh ++ sla ++ volume ++ drift
    }
  }

  /** The [[checkSla]] freshness + run-duration policy as COLUMN
    * ALGEBRA over a status frame — the distributed, engine-oracle-able
    * twin of the driver-side loop, so the alert SET (which pipeline,
    * which type, which severity) is pinned by the correctness gate,
    * not just counted in a bench receipt. One row in, ≤2 alert rows
    * out, policy identical to checkSla: breach when value > threshold,
    * `critical` past 2× the threshold else `warning`, all compared as
    * exact millisecond longs (checkSla's minute doubles are the same
    * ms quantities divided by a constant, so the flag sets agree).
    *
    * `status` carries one row per pipeline:
    *  - pipeline_id;
    *  - newest_ts (TIMESTAMP, newest event) + freshness_threshold_min
    *    (LONG minutes) — the freshness check against `asOfEpochS`;
    *  - last_run_ms (LONG, nullable — null = no ledger row) +
    *    sla_min (LONG minutes) — the run-duration SLA check.
    *
    * Output: (pipeline_id, alert_type, severity, value_ms,
    * threshold_ms), one row per breach. Map-side only — no shuffle
    * beyond whatever produced `status`. */
  def slaAlertRows(status: DataFrame, asOfEpochS: Column): DataFrame = {
    val fresh = status.select(col("pipeline_id"),
      lit("freshness").as("alert_type"),
      ((asOfEpochS - unix_timestamp(col("newest_ts"))) * 1000L)
        .as("value_ms"),
      (col("freshness_threshold_min") * 60000L).as("threshold_ms"))
    val sla = status.filter(col("last_run_ms").isNotNull)
      .select(col("pipeline_id"), lit("sla").as("alert_type"),
        col("last_run_ms").as("value_ms"),
        (col("sla_min") * 60000L).as("threshold_ms"))
    fresh.unionByName(sla)
      .filter(col("value_ms") > col("threshold_ms"))
      .withColumn("severity",
        when(col("value_ms") > lit(2L) * col("threshold_ms"), "critical")
          .otherwise("warning"))
      .select(col("pipeline_id"), col("alert_type"), col("severity"),
        col("value_ms"), col("threshold_ms"))
  }

  /** Run [[checkSla]] and append any alerts to the `_alerts` table
    * (monitoring.alerts). Returns the alerts emitted. */
  def emitAlerts(ctx: GoldContext, configs: Seq[SlaConfig],
      expected: Map[String, StructType] = Map.empty,
      asOfMillis: Long = System.currentTimeMillis()): Seq[Alert] = {
    val alerts = checkSla(ctx, configs, expected, asOfMillis)
    if (alerts.nonEmpty) {
      // persisted column names follow monitoring.alerts (snake_case),
      // not the case-class field names
      ctx.spark.createDataFrame(alerts)
        .select(col("pipelineId").as("pipeline_id"),
          col("alertType").as("alert_type"), col("severity"), col("message"))
        .withColumn("alert_ts", current_timestamp())
        .write.mode(SaveMode.Append).parquet(ctx.path("_alerts"))
    }
    alerts
  }

  /** Data-quality gate (gold.dq_results): named boolean checks over a
    * table, persisted as one row per run with a JSON result blob. */
  def dqCheck(ctx: GoldContext, pipelineId: String, table: String,
      checks: Seq[(String, DataFrame => Boolean)]): (String, Seq[(String, Boolean)]) = {
    val df = ctx.read(table)
    val results = checks.map { case (name, fn) => name -> fn(df) }
    val status = if (results.forall(_._2)) "pass" else "fail"
    // check names are caller-supplied free text: Jackson escapes them
    val json = new com.fasterxml.jackson.databind.ObjectMapper().createObjectNode()
    results.foreach { case (n, ok) => json.put(n, ok) }
    import ctx.spark.implicits._
    Seq((pipelineId, status, json.toString))
      .toDF("pipeline_id", "status", "results_json")
      .withColumn("run_ts", current_timestamp())
      .write.mode(SaveMode.Append).parquet(ctx.path("_dq_results"))
    (status, results)
  }
}
