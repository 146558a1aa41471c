package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.pipelines.{GoldContext, Registry, TimeWindow}
import graft.queries.GoldViews
import graft.streaming.BronzeStream

/** `cadence`: one gold tick from a fresh process, then a dashboard
  * user on its answers.
  *
  * Set-up generates the tick's JSON-lines file. The measured tick drops
  * it at its due time, ingests it with `Trigger.AvailableNow` on the
  * run's checkpoint, runs all 16 gold pipelines over the 10-minute
  * window, registers the BI views and probes for the tick's events.
  * Freshness runs from the due time to the probe's answer. The JVM and
  * the warehouse start cold, as after a restart: a warm-up tick costs as
  * much as the measured one, which the run's time budget does not
  * allow. Then one BI client sends fresh SQL back to back for the run's
  * seconds, after one untimed deck of requests (timed into set-up),
  * and its answers are checked against the generator.
  */
final class Cadence(spark: SparkSession, trace: Trace, work: Path, seed: Long) {
  import Cadence._

  private val gen = new Gen(seed, EventsPerTick)
  private val ctx = new GoldContext(spark, work.resolve("warehouse").toString)
  private val stage = Files.createDirectories(work.resolve("stage"))
  private val drop = Files.createDirectories(work.resolve("drop"))
  private val checkpoint = work.resolve("checkpoint").toString
  private val notes = mutable.ArrayBuffer.empty[String]
  private var expect: Gen.Expect = _

  def setup(): Unit = {
    Files.write(stage.resolve(TickFile), gen.tick().asJava)
    expect = gen.expectation()
  }

  def measure(seconds: Int): Outcome = {
    val due = System.nanoTime()
    Files.move(stage.resolve(TickFile), drop.resolve(TickFile), StandardCopyOption.ATOMIC_MOVE)
    val query = trace.span("streaming", "ingest") {
      val q = BronzeStream.start(BronzeStream.fileSource(spark, drop.toString),
        ctx.root, checkpoint, Trigger.AvailableNow())
      trace.adopt(q.runId.toString, "streaming")
      q.awaitTermination()
      q
    }
    val t1 = System.nanoTime()
    val cpu0 = graft.core.JvmStats.procCpuSec
    val stats = trace.span("pipelines", "Registry.run")(Registry.run(ctx, Window))
    val t2 = System.nanoTime()
    val cpu = graft.core.JvmStats.procCpuSec - cpu0
    trace.span("queries", "registerAll")(GoldViews.registerAll(ctx))
    val t3 = System.nanoTime()
    // the BI probe: the tick's wazuh events are answerable
    val seen = trace.span("queries", "probe") {
      spark.sql(s"SELECT count(*) FROM fact_wazuh_events WHERE event_ts >= TIMESTAMP '${Bi.ts(Gen.T0)}' " +
        s"AND event_ts < TIMESTAMP '${Bi.ts(Gen.T0 + Gen.TickMs)}'").collect()(0).getLong(0)
    }
    val freshness = (System.nanoTime() - due) / 1e9
    System.err.println(f"[perfbench] tick: ingest ${(t1 - due) / 1e9}%.2f pipelines ${(t2 - t1) / 1e9}%.2f " +
      f"register ${(t3 - t2) / 1e9}%.2f freshness $freshness%.2f s")
    val tickOk = check(seen, stats)

    val rnd = new scala.util.Random(seed)
    val w0 = System.nanoTime()
    Bi.warmUp(spark, rnd)
    val warmUpS = (System.nanoTime() - w0) / 1e9
    val bi = Bi.session(spark, trace, gen, rnd, seconds)
    val files = Seq(ctx.root, checkpoint).flatMap(d => Files.walk(Path.of(d)).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq)
    val bytes = files.map(Files.size).sum
    // idempotency: running the fact pipelines again over the same window
    // appends nothing
    val facts = Registry.all.map(_.id).filter(_.startsWith("fact_")).toSet
    val rerun = Registry.run(ctx, Window, only = Some(facts)).map(_.rowsAppended).sum
    if (rerun != 0) notes += s"re-running the fact pipelines appended $rerun rows"
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    val ingested = progress.map(_.numInputRows).sum
    val e2e = Seq(
      Metric("freshness_s", freshness, "s", 1),
      Metric("ingest_eps", ingested / ((t1 - due) / 1e9), "1/s", 1),
      Metric("bi_s.p50", Stats.quantile(bi.latency, 0.5), "s", bi.latency.size),
      Metric("bi_s.p90", Stats.quantile(bi.latency, 0.9), "s", bi.latency.size),
      Metric("bytes_per_event", bytes.toDouble / ingested, "B", ingested.toInt))
    Outcome(
      setupS = warmUpS,
      // the tick, the re-run and the BI requests
      attempted = 2 + bi.attempted,
      failed = (if (tickOk) 0 else 1) + (if (rerun != 0) 1 else 0) + bi.failed,
      e2e = e2e,
      layers = streamingMetrics(progress) ++ pipelineMetrics(stats, (t2 - t1) / 1e9, cpu) ++ Seq(
        Metric("core.files", files.size, "count", 1),
        Metric("core.bytes", bytes.toDouble, "B", 1),
        Metric("queries.register_s", (t3 - t2) / 1e9, "s", 1)) ++ bi.layers,
      notes = notes.toSeq ++ bi.errors)
  }

  /** The probe saw every wazuh event of the tick; the facts appended
    * at least one row per event and at most one per line; the BI read of
    * each fact table holds exactly the distinct events emitted; the
    * current `dim_agent` IPs and version counts follow the generator.
    * Facts are counted through the views: like the reference's
    * ReplacingMergeTree, a fact table may keep a redelivered event twice
    * and collapses it on read. */
  private def check(seen: Long, stats: Seq[Registry.RunStats]): Boolean = {
    val before = notes.size
    if (seen != expect.wazuhInTick) notes += s"probe saw $seen wazuh events of ${expect.wazuhInTick}"
    val appended = stats.filter(_.pipelineId.startsWith("fact_")).map(_.rowsAppended).sum
    if (appended < expect.distinct.values.sum || appended > expect.lines)
      notes += s"facts appended $appended rows, not between ${expect.distinct.values.sum} events and ${expect.lines} lines"
    for (src <- Gen.SourceNames) {
      val n = spark.sql(s"SELECT count(*) FROM fact_${src}_events").collect()(0).getLong(0)
      if (n != expect.distinct(src)) notes += s"fact_${src}_events reads $n events, expected ${expect.distinct(src)}"
    }
    val dim = spark.read.parquet(ctx.path("dim_agent")).collect()
    val versions = dim.groupBy(_.getAs[String]("agent_name")).map { case (a, rs) =>
      a -> (rs.find(_.getAs[Int]("is_current") == 1).map(_.getAs[String]("agent_ip")).orNull, rs.length)
    }
    if (versions != expect.agents)
      notes += "dim_agent differs from the generator " +
        s"(${(versions.toSet diff expect.agents.toSet).take(3).mkString(", ")})"
    notes.size == before
  }

  private def streamingMetrics(progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Seq[Metric] = {
    val n = progress.size
    def dur(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)).sum / 1e3
    Seq(
      Metric("streaming.batch_s", dur("triggerExecution"), "s", n),
      Metric("streaming.sink_s", dur("addBatch"), "s", n),
      Metric("streaming.bookkeeping_s", dur("triggerExecution") - dur("addBatch"), "s", n),
      Metric("streaming.batches", n, "count", n),
      Metric("streaming.rows", progress.map(_.numInputRows).sum.toDouble, "count", n))
  }

  private def pipelineMetrics(stats: Seq[Registry.RunStats], wall: Double, cpu: Double): Seq[Metric] = {
    def sum(p: Registry.RunStats => Boolean) = stats.filter(p).map(_.durationMs).sum / 1e3
    def isScd2(s: Registry.RunStats) = s.pipelineId.endsWith("_scd2")
    def isFact(s: Registry.RunStats) = s.pipelineId.startsWith("fact_")
    def isBridge(s: Registry.RunStats) = s.pipelineId.startsWith("bridge_")
    Seq(
      Metric("pipelines.dims_s", sum(s => !isScd2(s) && !isFact(s) && !isBridge(s)), "s", 1),
      Metric("pipelines.scd2_s", sum(isScd2), "s", 1),
      Metric("pipelines.facts_s", sum(isFact), "s", 1),
      Metric("pipelines.bridges_s", sum(isBridge), "s", 1),
      Metric("pipelines.runner_s", wall - sum(_ => true), "s", 1),
      Metric("pipelines.util", cpu / (wall * Runtime.getRuntime.availableProcessors), "ratio", 1),
      Metric("pipelines.append_ratio", stats.filter(isFact).map(_.rowsAppended).sum.toDouble / expect.lines, "ratio", 1)) ++
      stats.map(s => Metric(s"pipelines.${s.pipelineId}_s", s.durationMs / 1e3, "s", 1))
  }
}

object Cadence {
  /** Events in the tick, ⅓ per source: the reference's 333 events per
    * second over its 5-minute cadence. */
  val EventsPerTick = 100000
  private val TickFile = "tick-0000.json"
  /** The tick's gold window: the reference's 10 minutes, ending with the
    * tick's 5 minutes. */
  val Window: TimeWindow = TimeWindow(
    new Timestamp(Gen.T0 + Gen.TickMs - 600000L), new Timestamp(Gen.T0 + Gen.TickMs))
}
