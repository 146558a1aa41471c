package graft.pipelines

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Metadata-driven pipeline registry + dependency-driven runner — the
  * Spark re-expression of the reference's Airflow DAG generator
  * (/root/reference/airflow/dags/generator/gold_pipeline.py,
  * gold_pipelines.yml, postgres/init/10_metadata.sql): pipelines are
  * data (id, dependsOn, run-function), the runner resolves the window,
  * starts each pipeline as soon as its dependencies have finished, with
  * at most [[MaxInFlight]] running at once (the DAG's `max_active_tasks`
  * 8, BASELINE.md:19), and writes a run ledger with before/after row
  * counts (the reference's monitoring probes, gold_pipeline.py:221-280).
  */
object Registry {

  case class PipelineSpec(
      id: String,
      target: String,
      dependsOn: Seq[String],
      run: (GoldContext, TimeWindow) => Long)

  /** One `_run_ledger` row. `cpuMs`/`gcMs` are process-wide deltas over
    * this pipeline's own wall interval; pipelines run concurrently, so
    * the intervals, and these deltas, overlap between pipelines (as does
    * the per-pipeline `util` that graft.Bench derives from them). */
  case class RunStats(pipelineId: String, target: String,
      windowStart: String, windowEnd: String,
      rowsBefore: Long, rowsAppended: Long, rowsAfter: Long, durationMs: Long,
      cpuMs: Long = 0L, gcMs: Long = 0L)

  /** All 16 pipelines, dependency edges per gold_pipelines.yml:13-137. */
  val all: Seq[PipelineSpec] = Seq(
    PipelineSpec("dim_date", "dim_date", Nil, (ctx, w) => {
      val wins = Seq("wazuh", "suricata", "zeek").map(ctx.bronzeWindow(_, w))
      ctx.appendDim("dim_date",
        Dims.dimDate(wins, ctx.gold("dim_date", Dims.schemas.dimDate), ctx.tz))
    }),
    PipelineSpec("dim_time", "dim_time", Nil, (ctx, w) => {
      val wins = Seq("wazuh", "suricata", "zeek").map(ctx.bronzeWindow(_, w))
      ctx.appendDim("dim_time",
        Dims.dimTime(wins, ctx.gold("dim_time", Dims.schemas.dimTime), ctx.tz))
    }),
    PipelineSpec("dim_event", "dim_event", Nil, (ctx, w) =>
      ctx.appendDim("dim_event", Dims.dimEvent(
        ctx.bronzeWindow("wazuh", w), ctx.bronzeWindow("zeek", w),
        ctx.gold("dim_event", Dims.schemas.dimEvent)))),
    PipelineSpec("dim_sensor", "dim_sensor", Nil, (ctx, w) =>
      ctx.appendDim("dim_sensor", Dims.dimSensor(
        ctx.bronzeWindow("suricata", w), ctx.bronzeWindow("zeek", w),
        ctx.gold("dim_sensor", Dims.schemas.dimSensor)))),
    PipelineSpec("dim_protocol", "dim_protocol", Nil, (ctx, w) =>
      ctx.appendDim("dim_protocol", Dims.dimProtocol(
        ctx.bronzeWindow("suricata", w), ctx.bronzeWindow("zeek", w),
        ctx.gold("dim_protocol", Dims.schemas.dimProtocol)))),
    PipelineSpec("dim_signature", "dim_signature", Nil, (ctx, w) =>
      ctx.appendDim("dim_signature", Dims.dimSignature(
        ctx.bronzeWindow("suricata", w),
        ctx.gold("dim_signature", Dims.schemas.dimSignature)))),
    PipelineSpec("dim_tag", "dim_tag", Nil, (ctx, w) => {
      val wins = Seq("wazuh", "suricata", "zeek").map(ctx.bronzeWindow(_, w))
      ctx.appendDim("dim_tag",
        Dims.dimTag(wins, ctx.gold("dim_tag", Dims.schemas.dimTag)))
    }),
    PipelineSpec("dim_agent_scd2", "dim_agent", Nil, (ctx, w) =>
      runScd2(ctx, w, "dim_agent", Dims.schemas.dimAgent, Dims.agentSpec)),
    PipelineSpec("dim_host_scd2", "dim_host", Nil, (ctx, w) =>
      runScd2(ctx, w, "dim_host", Dims.schemas.dimHost, Dims.hostSpec)),
    PipelineSpec("dim_rule_scd2", "dim_rule", Nil, (ctx, w) =>
      runScd2(ctx, w, "dim_rule", Dims.schemas.dimRule, Dims.ruleSpec)),
    PipelineSpec("fact_wazuh_events", "fact_wazuh_events",
      Seq("dim_date", "dim_time", "dim_agent_scd2", "dim_host_scd2",
        "dim_rule_scd2", "dim_event"), (ctx, w) => {
        val rows = Facts.wazuh(ctx.bronzeWindow("wazuh", w),
          ctx.gold("dim_agent", Dims.schemas.dimAgent),
          ctx.gold("dim_host", Dims.schemas.dimHost),
          ctx.gold("dim_rule", Dims.schemas.dimRule),
          ctx.gold("dim_event", Dims.schemas.dimEvent), ctx.tz)
        ctx.appendFact("fact_wazuh_events", rows, "event_ts",
          Seq("event_id", "event_ts"))
      }),
    PipelineSpec("fact_suricata_events", "fact_suricata_events",
      Seq("dim_date", "dim_time", "dim_sensor", "dim_signature", "dim_protocol"),
      (ctx, w) => {
        val rows = Facts.suricata(ctx.bronzeWindow("suricata", w),
          ctx.gold("dim_sensor", Dims.schemas.dimSensor),
          ctx.gold("dim_signature", Dims.schemas.dimSignature),
          ctx.gold("dim_protocol", Dims.schemas.dimProtocol), ctx.tz)
        ctx.appendFact("fact_suricata_events", rows, "event_ts",
          Seq("event_id", "event_ts"))
      }),
    PipelineSpec("fact_zeek_events", "fact_zeek_events",
      Seq("dim_date", "dim_time", "dim_sensor", "dim_protocol", "dim_event"),
      (ctx, w) => {
        val rows = Facts.zeek(ctx.bronzeWindow("zeek", w),
          ctx.gold("dim_sensor", Dims.schemas.dimSensor),
          ctx.gold("dim_protocol", Dims.schemas.dimProtocol),
          ctx.gold("dim_event", Dims.schemas.dimEvent), ctx.tz)
        ctx.appendFact("fact_zeek_events", rows, "event_ts",
          Seq("event_id", "event_ts"))
      }),
    PipelineSpec("bridge_wazuh_event_tag", "bridge_wazuh_event_tag",
      Seq("dim_tag", "fact_wazuh_events"), (ctx, w) =>
        runBridge(ctx, w, "wazuh", "bridge_wazuh_event_tag")),
    PipelineSpec("bridge_suricata_event_tag", "bridge_suricata_event_tag",
      Seq("dim_tag", "fact_suricata_events"), (ctx, w) =>
        runBridge(ctx, w, "suricata", "bridge_suricata_event_tag")),
    PipelineSpec("bridge_zeek_event_tag", "bridge_zeek_event_tag",
      Seq("dim_tag", "fact_zeek_events"), (ctx, w) =>
        runBridge(ctx, w, "zeek", "bridge_zeek_event_tag"))
  )

  private def runScd2(ctx: GoldContext, w: TimeWindow, table: String,
      schema: org.apache.spark.sql.types.StructType,
      spec: Dims.Scd2Spec): Long = {
    val dim = ctx.gold(table, schema)
    // rewriteDim returns the FULL rebuilt table count; the ledger's
    // rowsAppended must be the new-version delta, or every re-run
    // reports the whole dim as "appended" and the idempotency receipt
    // (zero rows on an identical window) can never read zero
    val before = dim.count()
    val next = Dims.scd2Apply(dim, ctx.bronzeWindow("wazuh", w), spec)
    val total = ctx.rewriteDim(table, next)
    math.max(0L, total - before)
  }

  private def runBridge(ctx: GoldContext, w: TimeWindow, source: String,
      table: String): Long = {
    val rows = Facts.tagBridge(ctx.bronzeWindow(source, w),
      ctx.gold("dim_tag", Dims.schemas.dimTag))
    ctx.appendFact(table, rows, "event_ts", Seq("event_id", "event_ts", "tag_key"))
  }

  /** Runtime metadata overlay for one pipeline — the knobs the reference
    * hot-reloads from its metadata store every 10 minutes
    * (airflow/dags/metadata_updater.py:38-56 re-exports per-pipeline
    * `enabled`, `depends_on`, `window_minutes`; the DAG regenerates from
    * the refreshed file without redeploy). Pipeline *code* stays compiled
    * Scala; only the wiring is data.
    */
  case class Overlay(
      pipelineId: String,
      enabled: Boolean = true,
      dependsOn: Option[Seq[String]] = None,
      windowMinutes: Option[Int] = None)

  /** Parse an overlay file: `{"pipelines": [{"pipeline_id": ...,
    * "enabled": ..., "depends_on": [...], "window_minutes": ...}, ...]}`
    * (field names per metadata_updater.py:41-52). Read fresh on every
    * [[run]] so edits take effect on the next cadence tick, no redeploy —
    * the file is tiny, so re-parsing beats mtime caching for simplicity.
    */
  def loadOverlays(path: String): Seq[Overlay] = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    val arr = root.path("pipelines")
    require(arr.isArray, s"metadata file $path needs a 'pipelines' array")
    arr.elements().asScala.map { n =>
      val id = n.path("pipeline_id").asText("")
      require(id.nonEmpty, s"metadata file $path: entry missing pipeline_id")
      Overlay(
        pipelineId = id,
        enabled = !n.has("enabled") || n.get("enabled").asBoolean(),
        dependsOn =
          if (!n.has("depends_on")) None
          else Some(n.get("depends_on").elements().asScala.map(_.asText()).toSeq),
        windowMinutes =
          if (!n.has("window_minutes")) None else Some(n.get("window_minutes").asInt()))
    }.toSeq
  }

  /** Overlay runtime metadata onto the compiled specs: drop disabled
    * pipelines, replace dependency edges, and widen the run window to the
    * per-pipeline `window_minutes` lookback (a late-data pipeline can read
    * a longer window than the cadence tick, 10_metadata.sql:53 semantics).
    * Unknown ids and enabled→disabled dependencies are errors, not silent
    * drops — a typo in the metadata file must not quietly skip a pipeline.
    */
  def applyOverlays(specs: Seq[PipelineSpec], overlays: Seq[Overlay]): Seq[PipelineSpec] = {
    val byId = overlays.map(o => o.pipelineId -> o).toMap
    require(byId.size == overlays.size, "duplicate pipeline_id in metadata")
    val unknown = byId.keySet -- specs.map(_.id).toSet
    require(unknown.isEmpty, s"metadata names unknown pipelines: ${unknown.mkString(", ")}")
    val enabled = specs.flatMap { s =>
      val o = byId.get(s.id)
      if (!o.forall(_.enabled)) None
      else {
        val deps = o.flatMap(_.dependsOn).getOrElse(s.dependsOn)
        val runFn = o.flatMap(_.windowMinutes) match {
          case Some(m) => (ctx: GoldContext, w: TimeWindow) => s.run(ctx,
            TimeWindow(new java.sql.Timestamp(w.end.getTime - m * 60000L), w.end))
          case None => s.run
        }
        Some(s.copy(dependsOn = deps, run = runFn))
      }
    }
    val ids = enabled.map(_.id).toSet
    for (s <- enabled; d <- s.dependsOn) require(ids(d),
      s"pipeline ${s.id} depends on '$d' which is disabled or unknown")
    enabled
  }

  /** Kahn topo order, stable by declaration order. */
  def topoOrder(specs: Seq[PipelineSpec] = all): Seq[PipelineSpec] = {
    val byId = specs.map(s => s.id -> s).toMap
    val done = scala.collection.mutable.LinkedHashSet.empty[String]
    def visit(s: PipelineSpec, stack: Set[String]): Unit = {
      require(!stack(s.id), s"dependency cycle at ${s.id}")
      if (!done(s.id)) {
        s.dependsOn.flatMap(byId.get).foreach(visit(_, stack + s.id))
        done += s.id
      }
    }
    specs.foreach(visit(_, Set.empty))
    done.toSeq.map(byId)
  }

  /** Most pipelines running at once: the reference DAG's
    * `max_active_tasks` (BASELINE.md:19). */
  val MaxInFlight = 8

  /** Run pipelines for a window (all, or the named subset plus nothing
    * else — the dag_run.conf pipeline filter, gold_pipeline.py:170-174);
    * appends RunStats to the `_run_ledger` table. When `metadataPath` is
    * set, the overlay file is re-read on THIS call — edit it between
    * cadence ticks and the next run picks it up (metadata_updater.py's
    * 10-minute refresh, without the Airflow side). */
  def run(ctx: GoldContext, w: TimeWindow,
      only: Option[Set[String]] = None,
      metadataPath: Option[String] = None): Seq[RunStats] = {
    val specs = metadataPath
      .map(p => applyOverlays(all, loadOverlays(p))).getOrElse(all)
    runSpecs(ctx, w, specs, only)
  }

  /** The runner behind [[run]], over any specs. A pipeline starts once
    * all of its selected dependencies have finished; a dependency left
    * out by `only` does not gate. If a pipeline fails, its transitive
    * dependents never start, every other pipeline still runs to the
    * end, the finished ones' ledger rows are appended, and then the
    * first failure in topo order is rethrown. Stats and ledger rows
    * come in topo order, whatever order the pipelines finish in. */
  private[pipelines] def runSpecs(ctx: GoldContext, w: TimeWindow,
      specs: Seq[PipelineSpec], only: Option[Set[String]]): Seq[RunStats] = {
    val selected = topoOrder(specs).filter(s => only.forall(_.contains(s.id)))
    val ids = selected.map(_.id).toSet
    val deps = selected.map(s => s.id -> s.dependsOn.filter(ids)).toMap
    // formatted here, once: SimpleDateFormat is not thread-safe
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss.SSS")
    val (start, end) = (fmt.format(w.start), fmt.format(w.end))
    def runOne(s: PipelineSpec): RunStats = {
      val before = ctx.count(s.target)
      // per-pipeline run condition in the ledger itself: one slow
      // cadence tick must be attributable from the artifact (which
      // pipeline, and was it plan time, box load, or GC) without a
      // rerun — wall alone cannot say
      val cpu0 = graft.core.JvmStats.procCpuSec
      val gc0 = graft.core.JvmStats.gcSec
      val t0 = System.nanoTime()
      val appended = s.run(ctx, w)
      val after = ctx.count(s.target)
      RunStats(s.id, s.target, start, end,
        before, appended, after, (System.nanoTime() - t0) / 1000000L,
        ((graft.core.JvmStats.procCpuSec - cpu0) * 1000).toLong,
        ((graft.core.JvmStats.gcSec - gc0) * 1000).toLong)
    }

    // a pool per call, its threads started from this one: they inherit
    // the caller's Spark local properties (job group, description)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(MaxInFlight)
    val completions = new java.util.concurrent.ExecutorCompletionService[(String, Try[RunStats])](pool)
    val results = mutable.Map.empty[String, Try[RunStats]]
    val blocked = mutable.Set.empty[String]
    try {
      var waiting = selected
      var running = 0
      while (waiting.nonEmpty || running > 0) {
        // ready: every selected dependency has finished or is blocked;
        // a failed or blocked dependency blocks its dependents in turn
        val (ready, rest) = waiting.partition(s =>
          deps(s.id).forall(d => results.contains(d) || blocked(d)))
        ready.foreach { s =>
          if (deps(s.id).exists(d => blocked(d) || results(d).isFailure)) blocked += s.id
          else {
            completions.submit(() => (s.id, Try(runOne(s))))
            running += 1
          }
        }
        waiting = rest
        if (running > 0) {
          val (id, r) = completions.take().get()
          results(id) = r
          running -= 1
        }
      }
    } finally pool.shutdown()

    val outcomes = selected.flatMap(s => results.get(s.id))
    val stats = outcomes.collect { case Success(st) => st }
    val ledger = ctx.spark.createDataFrame(stats)
      .withColumn("run_at", current_timestamp())
    ledger.write.mode(SaveMode.Append).parquet(ctx.path("_run_ledger"))
    outcomes.collectFirst { case Failure(e) => throw e }
    stats
  }
}
