package graft.queries

import graft.SparkSpec
import graft.core.PartitionedWriter
import graft.ingest.{Bronze, Fixtures}
import graft.pipelines.{GoldContext, Monitoring, Registry, TimeWindow}
import org.apache.spark.sql.functions._

/** End-to-end: reference fixture events → full gold build → the
  * reference's own Superset/example queries over the registered views,
  * plus monitoring checks. */
class GoldViewsSpec extends SparkSpec {

  private lazy val ctx: GoldContext = {
    val dir = java.nio.file.Files.createTempDirectory("graft_views").toString
    val c = new GoldContext(spark, dir)
    import spark.implicits._
    // suricata fixture + synthesized variants across two days/severities
    val payload = Fixtures.payload("suricata")
    val variants = (0 until 20).map { i =>
      // Bronze.suricata reads @timestamp first; suricata.timestamp is its
      // fallback, so both get the variant's hour
      val ts = f"2026-01-0${7 + i % 2}%dT$i%02d:00:00.000"
      payload
        .replace("cl4Acqi82vNwpWOVC15Hkg", s"ev$i")
        .replace(""""@timestamp":"2026-01-07T02:43:59.077Z"""", s""""@timestamp":"${ts}Z"""")
        .replace("2026-01-07T02:43:59.077361+0000", s"$ts+0000")
        .replace("\"severity\":3}", s""""severity":${i % 3}}""")
    }
    val wazuh = (0 until 3).map { i =>
      s"""{"event":{"hash":"wz$i","provider":"wazuh","dataset":"alert","kind":"alert"},
          "@timestamp":"2026-01-07T0$i:00:00.000Z","agent":{"name":"a1","ip":"10.0.0.1"},
          "rule":{"id":"7","level":5,"name":"r7"},"tags":["t"],"message":"m"}"""
        .replaceAll("\n\\s*", "")
    }
    val routed = Bronze.route((variants ++ wazuh).toDF("raw"))
    PartitionedWriter.append(routed("suricata"), c.path("bronze_suricata"),
      "event_ts", Seq("event_ts", "event_id"))
    PartitionedWriter.append(routed("wazuh"), c.path("bronze_wazuh"),
      "event_ts", Seq("event_ts", "event_id"))
    Registry.run(c, TimeWindow.of("2026-01-01", "2026-01-31"))
    c
  }

  test("reference acceptance queries run over registered gold views") {
    val results = GoldViews.runAcceptance(ctx)
    val fiveMin = results("five_minute_severity").collect()
    assert(fiveMin.nonEmpty)
    val topSig = results("daily_top_signatures").collect()
    assert(topSig.nonEmpty && topSig.head.getAs[Long]("alert_count") > 0)
    val share = results("protocol_share_of_day").collect()
    // share-of-total sums to 1 per day
    val byDay = share.groupBy(_.getDate(0)).view
      .mapValues(_.map(_.getDouble(2)).sum)
    byDay.foreach { case (_, s) => assert(math.abs(s - 1.0) < 1e-9) }
    assert(results("severity_topk").count() == 3) // severities 0,1,2
  }

  test("monitoring: freshness, volume, schema drift") {
    assert(Monitoring.freshnessMinutes(ctx, "fact_suricata_events").exists(_ > 0))
    val vol = Monitoring.dailyVolume(ctx, "fact_suricata_events").collect()
    assert(vol.map(_.getAs[Long]("rows")).sum == 20)
    val (missing, unexpected, changed) = Monitoring.schemaDrift(
      ctx, "dim_sensor", graft.pipelines.Dims.schemas.dimSensor)
    assert(missing.isEmpty && unexpected.isEmpty && changed.isEmpty)
    val snap = Monitoring.snapshot(ctx,
      Seq("fact_suricata_events", "dim_sensor"))
    assert(snap.count() == 2)
    assert(ctx.exists("_monitoring"))
  }
  test("file census flags fragmented partitions; compaction clears the flag") {
    import spark.implicits._
    // a table built by many per-row appends: one file set per append
    (0 until 10).foreach { i =>
      PartitionedWriter.append(
        Seq((s"frag$i", java.sql.Timestamp.valueOf(f"2026-02-01 10:$i%02d:00"), 1.0))
          .toDF("event_id", "event_ts", "v"),
        ctx.path("frag_table"), "event_ts", Seq("event_ts", "event_id"))
    }
    val before = Monitoring.fileStats(ctx, "frag_table", minFiles = 8)
    assert(before.size == 1 && before.head.files >= 10)
    assert(before.head.needsCompaction)

    val stats = ctx.compactTable("frag_table", minFiles = 8)
    assert(stats.nonEmpty)
    val after = Monitoring.fileStats(ctx, "frag_table", minFiles = 8)
    assert(after.size == 1 && !after.head.needsCompaction)
    assert(after.head.files < before.head.files)
    // content survived the fold
    assert(spark.read.parquet(ctx.path("frag_table")).count() == 10)
    // absent table: empty census, not an error
    assert(Monitoring.fileStats(ctx, "no_such_table").isEmpty)
  }

  test("slaAlertRows: the columnar twin replays checkSla's policy exactly") {
    import graft.pipelines.Monitoring.SlaConfig
    import spark.implicits._
    val asOfS = 1700000000L
    def tsAt(secAgo: Long) = new java.sql.Timestamp((asOfS - secAgo) * 1000L)
    // every policy cell incl. both 2x boundaries (strict >): no alert,
    // warning AT exactly 2x, critical just past it, null ledger row
    val status = Seq(
      ("p_fresh", tsAt(60), 5L, Some(60000L), 10L),
      ("p_warn_2x", tsAt(600), 5L, None, 10L),
      ("p_crit", tsAt(601), 5L, None, 10L),
      ("p_sla_warn", tsAt(0), 5L, Some(720000L), 10L),
      ("p_sla_crit", tsAt(0), 5L, Some(1200001L), 10L),
      ("p_no_ledger", tsAt(0), 5L, Option.empty[Long], 0L))
      .toDF("pipeline_id", "newest_ts", "freshness_threshold_min",
        "last_run_ms", "sla_min")
    val got = Monitoring.slaAlertRows(status, lit(asOfS))
      .select("pipeline_id", "alert_type", "severity")
      .as[(String, String, String)].collect().toSet
    assert(got == Set(
      ("p_warn_2x", "freshness", "warning"),
      ("p_crit", "freshness", "critical"),
      ("p_sla_warn", "sla", "warning"),
      ("p_sla_crit", "sla", "critical")), got.toString)

    // equivalence against the driver-side loop on the REAL warehouse:
    // same table, same as-of, same thresholds -> same alert set
    val maxTs = spark.read.parquet(ctx.path("fact_suricata_events"))
      .agg(max("event_ts")).collect().head.getTimestamp(0).getTime
    val asOf = maxTs + 3 * 3600 * 1000
    val driverSide = Monitoring.checkSla(ctx,
        Seq(SlaConfig("fact_suricata_events", "fact_suricata_events")),
        asOfMillis = asOf)
      .filter(a => a.alertType == "freshness" || a.alertType == "sla")
      .map(a => (a.pipelineId, a.alertType, a.severity)).toSet
    val twinStatus = Seq(("fact_suricata_events",
        new java.sql.Timestamp(maxTs), 2L, Option.empty[Long], 10L))
      .toDF("pipeline_id", "newest_ts", "freshness_threshold_min",
        "last_run_ms", "sla_min")
    val twin = Monitoring.slaAlertRows(twinStatus, lit(asOf / 1000))
      .select("pipeline_id", "alert_type", "severity")
      .as[(String, String, String)].collect().toSet
    assert(twin == driverSide, s"twin $twin != checkSla $driverSide")
  }

  test("SLA thresholds: stale table, blown run SLA, volume drop, drift -> alert rows") {
    import graft.pipelines.Monitoring.SlaConfig
    val maxTs = spark.read.parquet(ctx.path("fact_suricata_events"))
      .agg(max("event_ts")).collect().head.getTimestamp(0).getTime
    val cfg = SlaConfig("fact_suricata_events", "fact_suricata_events")

    // fresh as-of just after the newest event: no alerts at all
    assert(Monitoring.checkSla(ctx, Seq(cfg), asOfMillis = maxTs + 60000).isEmpty)

    // 3 hours stale against a 2-minute threshold: critical freshness
    val stale = Monitoring.checkSla(ctx, Seq(cfg),
      asOfMillis = maxTs + 3 * 3600 * 1000)
    assert(stale.map(a => (a.alertType, a.severity)) == Seq(("freshness", "critical")))

    // blown run SLA (threshold 0): the ledger's last run must trip it
    val sla = Monitoring.checkSla(ctx,
      Seq(cfg.copy(slaMinutes = 0.0)), asOfMillis = maxTs + 60000)
    assert(sla.exists(_.alertType == "sla"))

    // volume drop: 10,10,1 rows across three partitions -> 'low'
    import spark.implicits._
    val rows = (0 until 21).map { i =>
      val day = if (i < 10) "01" else if (i < 20) "02" else "03"
      (s"v$i", java.sql.Timestamp.valueOf(s"2026-02-$day 10:00:00"))
    }.toDF("event_id", "event_ts")
    PartitionedWriter.append(rows, ctx.path("vol_probe"), "event_ts")
    val volCfg = SlaConfig("vol_probe", "vol_probe")
    assert(Monitoring.volumeStatus(ctx, volCfg)
      .exists { case (n, b, s) => n == 1 && b.contains(10L) && s == "low" })
    val vol = Monitoring.checkSla(ctx, Seq(volCfg), asOfMillis = maxTs + 60000)
      .filter(_.alertType == "volume")
    assert(vol.nonEmpty && vol.head.message.contains("low"))

    // schema drift: expecting a column the table doesn't have -> critical
    val exp = org.apache.spark.sql.types.StructType(
      graft.pipelines.Dims.schemas.dimSensor.fields :+
        org.apache.spark.sql.types.StructField("not_there",
          org.apache.spark.sql.types.StringType))
    val drift = Monitoring.checkSla(ctx,
      Seq(SlaConfig("dim_sensor", "dim_sensor")),
      expected = Map("dim_sensor" -> exp), asOfMillis = maxTs + 60000)
    assert(drift.map(_.alertType) == Seq("schema_drift"))
    assert(drift.head.message.contains("missing:not_there"))

    // emission persists to _alerts
    val emitted = Monitoring.emitAlerts(ctx, Seq(cfg),
      asOfMillis = maxTs + 3 * 3600 * 1000)
    assert(emitted.nonEmpty && ctx.exists("_alerts"))
    assert(spark.read.parquet(ctx.path("_alerts"))
      .filter(col("alert_type") === "freshness").count() >= 1)

    // DQ gate: pass + fail both persist to _dq_results
    val (ok, _) = Monitoring.dqCheck(ctx, "fact_suricata_events",
      "fact_suricata_events", Seq(
        "has_rows" -> (df => df.count() > 0),
        "keys_not_null" -> (df => df.filter(col("event_id").isNull).count() == 0)))
    assert(ok == "pass")
    val (bad, results) = Monitoring.dqCheck(ctx, "fact_suricata_events",
      "fact_suricata_events", Seq(""""impossible" check""" -> (df => df.count() < 0)))
    assert(bad == "fail" && results.map(_._2) == Seq(false))
    val dq = spark.read.parquet(ctx.path("_dq_results"))
    assert(dq.count() == 2)
    // persisted blobs stay valid JSON even with quoted check names
    dq.select("results_json").collect().foreach { r =>
      assert(spark.sql(s"SELECT from_json('${r.getString(0).replace("'", "''")
        .replace("\\", "\\\\")}', 'map<string,boolean>') IS NOT NULL")
        .collect().head.getBoolean(0))
    }
  }

  test("dedupe-on-read view collapses doubled appends") {
    // duplicate a fact row by raw append, bypassing the idempotent writer
    val fact = spark.read.parquet(ctx.path("fact_suricata_events"))
    val before = fact.count()
    fact.limit(1).drop("event_date").write.mode("append")
      .parquet(ctx.path("fact_suricata_events") + "/event_date=2026-01-07")
    GoldViews.registerAll(ctx)
    assert(spark.table("fact_suricata_events").count() == before)
  }

}
