package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}

import graft.functions.IpNorm

/** JSON → typed bronze projections: the Spark re-expression of the three
  * ClickHouse Kafka materialized views
  * (/root/reference/clickhouse/init/02_kafka_ingest.sql.tmpl:13-262).
  *
  * Each projection is a pure `DataFrame => DataFrame` over a single
  * string column `raw`, so the exact same code runs under a static read
  * (tests, backfill) and under `readStream` + `foreachBatch` (live
  * ingest). All extracts are null-on-failure (`...OrNull` semantics):
  * missing JSON paths yield null, failed casts yield null, and rows
  * without a non-empty `$.event.hash` are dropped by the router — the
  * Spark equivalent of `kafka_skip_broken_messages`.
  *
  * Parsing strategy: each projection extracts 20–40 fields from the
  * same payload, and a `get_json_object` per field re-parses the JSON
  * string per field per row — O(fields) parses of a multi-KB document
  * on the 100 TB ingest hot path. The default strategy therefore
  * parses ONCE per row: the field chains (written once, against the
  * [[Ex]] extraction interface) are replayed against a recorder to
  * derive the minimal nested schema they touch, and the projection
  * becomes `from_json(raw, schema)` + pure struct-field reads — one
  * JsonToStructs per row (PlanShapeSpec asserts the plan shape).
  * `singleParse = false` runs the identical chains through per-path
  * `get_json_object` instead; BronzeSpec asserts the two produce
  * byte-identical output on the reference fixtures. The routing
  * predicates stay single-path probes on the raw string — they gate
  * the parse itself.
  *
  * Known semantic edge of the schema'd parse, stated precisely: a
  * payload whose field TYPE contradicts the derived schema (e.g.
  * `tags` as a scalar where the chain reads an array) nulls the whole
  * parsed struct (from_json PERMISSIVE is record-granular), where the
  * per-path chain nulled only the offending field. Fields that are
  * merely absent, null, empty, or scalar-where-string behave
  * identically — Spark's Jackson parser raw-copies any scalar into a
  * StringType leaf exactly like `get_json_object` renders it.
  *
  * Timestamps parse to instants (TimestampType); the reference's
  * `toTimeZone(…, 'Asia/Jakarta')` only changes rendering, not the
  * stored instant, so wall-clock derivations (date_key/time_key) take
  * the zone explicitly downstream (SURVEY.md §1.4).
  */
object Bronze {

  val Raw = "raw"

  // ---- extraction interface ------------------------------------------

  /** One set of field chains, two execution strategies: every
    * projection is written against this interface; [[StructEx]] reads
    * a single parsed struct, [[LegacyEx]] probes the raw string
    * per path, [[Recorder]] derives the parse schema. Paths use
    * dotted segments with an optional trailing `[0]` (first element
    * of a string-array field). */
  private sealed trait Ex {
    /** String value at path, '' normalized to null (jsonb ->> semantics). */
    def s(path: String): Column
    /** array<string> value at path. */
    def arr(path: String): Column
    /** Raw JSON text of the subtree at path (objects re-serialize). */
    def rawText(path: String): Column

    final def firstOf(paths: String*): Column = coalesce(paths.map(s): _*)
    final def int(path: String): Column = s(path).try_cast("int")
    final def longOf(paths: String*): Column =
      coalesce(paths.map(p => s(p).try_cast("long")): _*)
    final def doubleOf(paths: String*): Column =
      coalesce(paths.map(p => s(p).try_cast("double")): _*)
    /** parseDateTime64BestEffortOrNull over the formats observed in the
      * fixtures: ISO-8601 with 'T'/space, optional fractional seconds
      * and zone. Spark's permissive timestamp cast covers all of them. */
    final def ts(paths: String*): Column =
      coalesce(paths.map(p => s(p).try_cast("timestamp")): _*)
    /** fromUnixTimestamp64Milli(toInt64OrNull(x)). */
    final def epochMs(path: String): Column =
      timestamp_millis(s(path).try_cast("long"))
    final def tagsOf(paths: String*): Column =
      coalesce((paths.map(arr) :+ array().cast("array<string>")): _*)
    final def ip(path: String): Column = IpNorm.normalizeIp(s(path))

    final def sensorName: Column = firstOf("agent.name", "host.name", "node")
    final def protocolCol: Column = firstOf("network.application",
      "network.transport[0]", "network.protocol[0]", "protocol[0]")
  }

  private def splitPath(path: String): (Seq[String], Boolean) =
    if (path.endsWith("[0]"))
      (path.dropRight(3).split('.').toSeq, true)
    else (path.split('.').toSeq, false)

  /** Per-path probes on the raw string — one JSON parse per field. */
  private object LegacyEx extends Ex {
    def s(path: String): Column =
      nullif(get_json_object(col(Raw), "$." + path), lit(""))
    def arr(path: String): Column =
      from_json(get_json_object(col(Raw), "$." + path),
        ArrayType(StringType))
    def rawText(path: String): Column =
      get_json_object(col(Raw), "$." + path)
  }

  /** Field reads over one parsed struct column. */
  private final class StructEx(parsed: Column) extends Ex {
    private def navigate(path: String): Column = {
      val (segs, item0) = splitPath(path)
      val base = segs.foldLeft(parsed)((c, f) => c.getField(f))
      if (item0) base.getItem(0) else base
    }
    def s(path: String): Column = nullif(navigate(path), lit(""))
    def arr(path: String): Column = navigate(path)
    def rawText(path: String): Column = navigate(path)
  }

  /** Collects every (path, leaf type) a chain touches. */
  private final class Recorder extends Ex {
    val leaves =
      scala.collection.mutable.LinkedHashMap.empty[Seq[String], DataType]
    private def record(path: String, whole: DataType): Column = {
      val (segs, item0) = splitPath(path)
      val t = if (item0) ArrayType(StringType) else whole
      leaves.get(segs) match {
        case Some(prev) => require(prev == t,
          s"conflicting leaf types for ${segs.mkString(".")}: $prev vs $t")
        case None => leaves(segs) = t
      }
      lit(null).cast(t)
    }
    def s(path: String): Column = record(path, StringType)
    def arr(path: String): Column = record(path, ArrayType(StringType))
    def rawText(path: String): Column = record(path, StringType)
  }

  /** Minimal nested schema covering the recorded leaves. A scalar
    * arriving where StringType is declared raw-copies to its JSON
    * text, matching get_json_object's rendering. */
  private def buildSchema(
      leaves: Seq[(Seq[String], DataType)]): StructType = {
    val byHead = leaves.groupBy(_._1.head).toSeq.sortBy(_._1)
    StructType(byHead.map { case (name, entries) =>
      val (terminal, deeper) = entries.partition(_._1.size == 1)
      require(terminal.isEmpty || deeper.isEmpty,
        s"path $name is both a leaf and a branch")
      if (deeper.isEmpty) StructField(name, terminal.head._2)
      else StructField(name,
        buildSchema(deeper.map { case (segs, t) => (segs.tail, t) }))
    })
  }

  /** Apply one chain set to a routed frame under the chosen strategy.
    * Single-parse stages the struct behind an alias in its own
    * projection: the alias is referenced many times and JsonToStructs
    * is not cheap, so CollapseProject keeps it — ONE parse per row
    * survives optimization. */
  private def project(df: DataFrame, chains: Ex => Seq[Column],
      singleParse: Boolean): DataFrame =
    if (!singleParse) df.select(chains(LegacyEx): _*)
    else {
      val rec = new Recorder
      chains(rec)
      val schema = buildSchema(rec.leaves.toSeq)
      df.select(col(Raw), from_json(col(Raw), schema).as("__p"))
        .select(chains(new StructEx(col("__p"))): _*)
    }

  // ---- routing predicates (02_kafka_ingest.sql.tmpl:83-84,128-129,261-262)

  val hasHash: Column =
    nullif(get_json_object(col(Raw), "$.event.hash"), lit("")).isNotNull
  val isSuricata: Column = get_json_object(col(Raw), "$.suricata").isNotNull && hasHash
  val isWazuh: Column =
    nullif(get_json_object(col(Raw), "$.event.provider"), lit("")) === "wazuh" && hasHash
  val isZeek: Column = get_json_object(col(Raw), "$.zeek").isNotNull && hasHash

  // ---- projections ---------------------------------------------------

  /** suricata MV (02_kafka_ingest.sql.tmpl:16-82). */
  def suricata(raw: DataFrame, singleParse: Boolean = true): DataFrame =
    project(raw.filter(isSuricata), x => Seq(
      x.s("event.hash").as("event_id"),
      x.ts("@timestamp", "suricata.timestamp").as("event_ts"),
      x.firstOf("event.provider", "event.module").as("sensor_type"),
      x.sensorName.as("sensor_name"),
      x.firstOf("event.dataset", "event.kind").as("event_type"),
      x.firstOf("suricata.alert.severity", "event.severity").as("severity"),
      x.ip("source.ip").as("src_ip"),
      x.ip("destination.ip").as("dest_ip"),
      x.int("source.port").as("src_port"),
      x.int("destination.port").as("dest_port"),
      x.protocolCol.as("protocol"),
      x.longOf("totDataBytes", "network.bytes", "client.bytes", "server.bytes").as("bytes"),
      x.longOf("network.packets", "client.packets", "server.packets").as("packets"),
      x.s("suricata.flow_id").as("flow_id"),
      x.firstOf("rule.name", "suricata.alert.signature").as("signature"),
      x.int("rule.id").as("signature_id"),
      x.s("rule.category[0]").as("category"),
      x.s("suricata.alert.action").as("alert_action"),
      x.s("suricata.http.url").as("http_url"),
      x.tagsOf("tags", "event.severity_tags").as("tags"),
      x.firstOf("message", "event.original", "rule.name").as("message"),
      col(Raw).as("raw_data")), singleParse)

  /** wazuh MV (02_kafka_ingest.sql.tmpl:86-129). */
  def wazuh(raw: DataFrame, singleParse: Boolean = true): DataFrame =
    project(raw.filter(isWazuh), x => Seq(
      x.s("event.hash").as("event_id"),
      coalesce(x.ts("@timestamp", "event.ingested"),
        x.epochMs("event.start"), x.epochMs("event.end")).as("event_ts"),
      x.ts("event.ingested").as("event_ingested_ts"),
      x.epochMs("event.start").as("event_start_ts"),
      x.epochMs("event.end").as("event_end_ts"),
      x.s("event.dataset").as("event_dataset"),
      x.s("event.kind").as("event_kind"),
      x.s("event.module").as("event_module"),
      x.s("event.provider").as("event_provider"),
      x.s("agent.name").as("agent_name"),
      x.ip("agent.ip").as("agent_ip"),
      x.s("host.name").as("host_name"),
      x.ip("host.ip").as("host_ip"),
      x.s("rule.id").as("rule_id"),
      x.int("rule.level").as("rule_level"),
      x.s("rule.name").as("rule_name"),
      x.rawText("rule.ruleset").as("rule_ruleset"),
      x.tagsOf("tags").as("tags"),
      x.firstOf("message", "rule.name").as("message"),
      col(Raw).as("raw_data")), singleParse)

  /** zeek MV (02_kafka_ingest.sql.tmpl:131-262). All zeek.conn numerics
    * arrive as strings — every extract goes through the try-cast path. */
  def zeek(raw: DataFrame, singleParse: Boolean = true): DataFrame =
    project(raw.filter(isZeek), x => Seq(
      x.s("event.hash").as("event_id"),
      coalesce(x.ts("@timestamp", "zeek.ts", "event.ingested"),
        x.epochMs("event.start")).as("event_ts"),
      x.ts("event.ingested").as("event_ingested_ts"),
      x.epochMs("event.start").as("event_start_ts"),
      x.epochMs("event.end").as("event_end_ts"),
      x.s("event.dataset").as("event_dataset"),
      x.s("event.kind").as("event_kind"),
      x.s("event.module").as("event_module"),
      x.s("event.provider").as("event_provider"),
      x.firstOf("zeek.uid", "event.id[0]").as("zeek_uid"),
      x.sensorName.as("sensor_name"),
      x.ip("source.ip").as("src_ip"),
      x.ip("destination.ip").as("dest_ip"),
      x.int("source.port").as("src_port"),
      x.int("destination.port").as("dest_port"),
      x.doubleOf("source.geo.location.lat", "source.geo.latitude",
        "destination.geo.location.lat", "destination.geo.latitude").as("geo_latitude"),
      x.doubleOf("source.geo.location.lon", "source.geo.longitude",
        "destination.geo.location.lon", "destination.geo.longitude").as("geo_longitude"),
      x.firstOf("source.geo.country_name", "source.geo.country_iso_code",
        "source.geo.country_code2", "source.geo.country_code3",
        "destination.geo.country_name", "destination.geo.country_iso_code",
        "destination.geo.country_code2", "destination.geo.country_code3").as("geo_country"),
      x.firstOf("source.geo.city_name", "destination.geo.city_name").as("geo_city_name"),
      x.firstOf("source.mac[0]", "destination.mac[0]").as("mac_address"),
      x.protocolCol.as("protocol"),
      x.s("network.application").as("application"),
      x.s("network.type").as("network_type"),
      x.s("network.direction").as("direction"),
      x.s("network.community_id").as("community_id"),
      x.longOf("totDataBytes", "network.bytes", "source.bytes", "destination.bytes").as("bytes"),
      x.longOf("network.packets", "source.packets", "destination.packets").as("packets"),
      x.longOf("zeek.conn.orig_bytes", "zeek.conn.orig_ip_bytes").as("orig_bytes"),
      x.longOf("zeek.conn.resp_bytes", "zeek.conn.resp_ip_bytes").as("resp_bytes"),
      x.longOf("zeek.conn.orig_pkts").as("orig_pkts"),
      x.longOf("zeek.conn.resp_pkts").as("resp_pkts"),
      x.s("zeek.conn.conn_state").as("conn_state"),
      x.s("zeek.conn.conn_state_description").as("conn_state_description"),
      x.doubleOf("zeek.conn.duration").as("duration"),
      x.s("zeek.conn.history").as("history"),
      x.firstOf("zeek.conn.vlan", "network.vlan.id[0]").as("vlan_id"),
      x.tagsOf("tags", "event.category", "event.severity_tags").as("tags"),
      x.firstOf("message", "event.original", "zeek.conn.conn_state_description").as("message"),
      col(Raw).as("raw_data")), singleParse)

  /** The bronze sources, in routing order. */
  val Sources: Seq[String] = Seq("suricata", "wazuh", "zeek")

  /** One source's projection of a raw stream. */
  def projection(source: String, raw: DataFrame): DataFrame = source match {
    case "suricata" => suricata(raw)
    case "wazuh" => wazuh(raw)
    case "zeek" => zeek(raw)
  }

  /** Route one raw stream into the three typed bronze frames — the MV
    * fan-out (one source, three filtered projections). */
  def route(raw: DataFrame): Map[String, DataFrame] =
    Sources.map(s => s -> projection(s, raw)).toMap
}
