package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.Bronze
import graft.operators.Replacing
import graft.pipelines.GoldContext

/** The BI read surface (A8): registers every gold table as a temp view,
  * applying the ReplacingMergeTree dedupe-on-read discipline where the
  * table carries an `updated_at` version column — the canonical read the
  * reference's Superset connection sees (SURVEY.md §2 A5/A8). An
  * external BI tool attaches to these views over the Thrift server /
  * Spark Connect; in-process, `spark.sql` hits them directly.
  */
object GoldViews {

  /** table -> (dedupe keys, version col); facts/bridges dedupe on their
    * idempotency key, dims on their surrogate. */
  private val replacingKeys: Map[String, (Seq[String], String)] = Map(
    "fact_suricata_events" -> (Seq("event_id", "event_ts") -> "updated_at"),
    "fact_wazuh_events" -> (Seq("event_id", "event_ts") -> "updated_at"),
    "fact_zeek_events" -> (Seq("event_id", "event_ts") -> "updated_at"),
    "bridge_suricata_event_tag" -> (Seq("event_id", "event_ts", "tag_key") -> "updated_at"),
    "bridge_wazuh_event_tag" -> (Seq("event_id", "event_ts", "tag_key") -> "updated_at"),
    "bridge_zeek_event_tag" -> (Seq("event_id", "event_ts", "tag_key") -> "updated_at"),
    "dim_date" -> (Seq("date_key") -> "updated_at"),
    "dim_time" -> (Seq("time_key") -> "updated_at"),
    "dim_event" -> (Seq("event_key") -> "updated_at"),
    "dim_sensor" -> (Seq("sensor_key") -> "updated_at"),
    "dim_protocol" -> (Seq("protocol_key") -> "updated_at"),
    "dim_signature" -> (Seq("signature_key") -> "updated_at"),
    "dim_tag" -> (Seq("tag_key") -> "updated_at"))

  val scd2Tables: Seq[String] = Seq("dim_agent", "dim_host", "dim_rule")

  /** Register all existing gold tables (+ bronze) as views, read through
    * `ctx`'s schema resolver: tables the context already read cost no
    * schema inference. */
  def registerAll(ctx: GoldContext): Seq[String] = {
    val gold = replacingKeys.keys.toSeq ++ scd2Tables
    val bronze = Bronze.Sources.map(s => s"bronze_$s")
    (gold ++ bronze).filter(ctx.exists).map { table =>
      val raw = ctx.read(table)
      val canonical = replacingKeys.get(table) match {
        case Some((keys, version)) => Replacing.latestByKey(raw, keys, version)
        case None => raw // SCD2 dims: every version row is meaningful
      }
      canonical.createOrReplaceTempView(table)
      table
    }
  }

  /** The reference's three Superset example queries + its examples file
    * (scripts/superset_sql_examples.sql, clickhouse_examples.sql),
    * runnable after [[registerAll]]. */
  val acceptance: Map[String, String] = Map(
    "five_minute_severity" ->
      """SELECT CAST(floor(unix_timestamp(event_ts) / 300) * 300 AS LONG)
        |  AS window_start, severity, count(*) AS alert_count
        |FROM fact_suricata_events
        |GROUP BY window_start, severity
        |ORDER BY window_start DESC LIMIT 50""".stripMargin,
    "daily_top_signatures" ->
      """SELECT to_date(event_ts) AS event_date, d.signature AS signature,
        |  count(*) AS alert_count
        |FROM fact_suricata_events f
        |LEFT JOIN dim_signature d ON f.signature_key = d.signature_key
        |GROUP BY to_date(event_ts), signature
        |ORDER BY event_date DESC, alert_count DESC LIMIT 20""".stripMargin,
    "protocol_share_of_day" ->
      """SELECT to_date(event_ts) AS event_date, p.protocol AS protocol,
        |  count(*) / sum(count(*)) OVER (PARTITION BY to_date(event_ts))
        |    AS pct_of_total
        |FROM fact_suricata_events f
        |LEFT JOIN dim_protocol p ON f.protocol_key = p.protocol_key
        |GROUP BY to_date(event_ts), protocol
        |ORDER BY event_date DESC, pct_of_total DESC""".stripMargin,
    "severity_topk" ->
      """SELECT severity, count(*) AS event_count
        |FROM fact_suricata_events GROUP BY severity
        |ORDER BY event_count DESC LIMIT 10""".stripMargin,
    "wazuh_daily_counts" ->
      """SELECT to_date(event_ts) AS event_date, count(*) AS event_count
        |FROM fact_wazuh_events GROUP BY to_date(event_ts)
        |ORDER BY event_date DESC LIMIT 7""".stripMargin)

  /** Runs every acceptance query whose source tables exist in this
    * warehouse (a wazuh-only deployment skips the suricata boards). */
  def runAcceptance(ctx: GoldContext): Map[String, DataFrame] = {
    val registered = registerAll(ctx).toSet
    acceptance
      .filter { case (_, sql) =>
        (replacingKeys.keys ++ scd2Tables).filter(sql.contains)
          .forall(registered.contains)
      }
      .map { case (name, sql) => name -> ctx.spark.sql(sql) }
  }
}
