package graft.pipelines

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.core.PartitionedWriter
import graft.ingest.{Bronze, Fixtures}
import org.apache.spark.sql.functions._

/** Golden end-to-end tests: fixture JSON → bronze → all 16 pipelines →
  * gold star schema; SCD2 change sequences; idempotent re-runs;
  * Jakarta-midnight calendar keys (FIXTURES.md §3 scenarios). */
class PipelineRunSpec extends SparkSpec {

  private def wazuhEvent(hash: String, ts: String, agent: String,
      ip: String, ruleId: String = "100", level: Int = 3,
      tags: Seq[String] = Seq("t1", "t2")): String = {
    val tagsJson = tags.map(t => "\"" + t + "\"").mkString("[", ",", "]")
    s"""{"event":{"hash":"$hash","provider":"wazuh","dataset":"alert","kind":"alert","module":"audit"},
        "@timestamp":"$ts","agent":{"name":"$agent","ip":"$ip"},
        "host":{"name":"$agent","ip":"$ip"},
        "rule":{"id":"$ruleId","level":$level,"name":"rule-$ruleId","ruleset":["a"]},
        "tags":$tagsJson,"message":"m-$hash"}""".replaceAll("\n\\s*", "")
  }

  private def suricataEvent(hash: String, ts: String): String =
    s"""{"suricata":{"flow_id":7,"alert":{"severity":"2","signature":"ET SCAN"}},
        "event":{"hash":"$hash","provider":"suricata","dataset":"alert"},
        "@timestamp":"$ts","agent":{"name":"sensor-s"},
        "rule":{"id":5,"name":"ET SCAN","category":["scan"]},
        "network":{"transport":["tcp"]},"source":{"ip":"10.1.0.1","port":1234},
        "destination":{"ip":"10.1.0.2","port":80},"tags":["s1"]}""".replaceAll("\n\\s*", "")

  private def zeekEvent(hash: String, ts: String): String =
    s"""{"zeek":{"uid":"u-$hash","ts":"$ts","conn":{"orig_bytes":"12"}},
        "event":{"hash":"$hash","provider":"zeek","dataset":"conn","category":["network"]},
        "@timestamp":"$ts","agent":{"name":"sensor-z"},"network":{"transport":["udp"]},
        "source":{"ip":"10.2.0.1","port":"53"},"tags":["z1"]}""".replaceAll("\n\\s*", "")

  private def freshCtx(): GoldContext = {
    val dir = java.nio.file.Files.createTempDirectory("graft_gold").toString
    new GoldContext(spark, dir, "Asia/Jakarta")
  }

  private def ingest(ctx: GoldContext, events: Seq[String]): Unit = {
    import spark.implicits._
    graft.streaming.BronzeStream.fanOut(events.toDF("raw"), ctx.root)
  }

  /** A cold warehouse: every source ingested, no gold table yet. */
  private def allSourcesIngested(): GoldContext = {
    val ctx = freshCtx()
    ingest(ctx, Seq(
      wazuhEvent("ev1", "2026-01-08T01:00:00.000Z", "agentA", "10.0.0.1"),
      wazuhEvent("ev2", "2026-01-08T02:00:00.000Z", "agentB", "10.0.0.2"),
      suricataEvent("su1", "2026-01-08T03:00:00.000Z"),
      zeekEvent("ze1", "2026-01-08T04:00:00.000Z")))
    ctx
  }

  /** A warehouse where every bronze and gold table exists, built by one
    * `Registry.run` on `ctx`. */
  private def runAllSources(): GoldContext = {
    val ctx = allSourcesIngested()
    Registry.run(ctx, w1)
    ctx
  }

  private val allTables: Seq[String] =
    Bronze.Sources.map(s => s"bronze_$s") ++ Registry.all.map(_.target).distinct

  private val w1 = TimeWindow.of("2026-01-08 00:00:00", "2026-01-08 12:00:00")
  private val w2 = TimeWindow.of("2026-01-08 12:00:00", "2026-01-09 00:00:00")

  test("full run over the reference fixtures + synthetic wazuh events") {
    val ctx = freshCtx()
    ingest(ctx, Seq(
      wazuhEvent("ev1", "2026-01-08T01:00:00.000Z", "agentA", "10.0.0.1"),
      wazuhEvent("ev2", "2026-01-08T02:00:00.000Z", "agentB", "10.0.0.2",
        ruleId = "200", level = 7, tags = Seq("t2", "t3"))))
    val stats = Registry.run(ctx, w1)
    assert(stats.size == 16)
    val byId = stats.map(s => s.pipelineId -> s).toMap
    assert(byId("dim_date").rowsAfter == 1)
    assert(byId("dim_time").rowsAfter == 2)
    assert(byId("dim_agent_scd2").rowsAfter == 2)
    assert(byId("dim_rule_scd2").rowsAfter == 2)
    assert(byId("dim_tag").rowsAfter == 3)
    assert(byId("fact_wazuh_events").rowsAfter == 2)
    assert(byId("bridge_wazuh_event_tag").rowsAfter == 4)

    // facts resolved their SCD2 dims
    val fact = spark.read.parquet(ctx.path("fact_wazuh_events"))
    assert(fact.filter(col("agent_key").isNotNull).count() == 2)
    assert(fact.filter(col("rule_key").isNotNull).count() == 2)
    assert(fact.filter(col("event_key").isNotNull).count() == 2)

    // idempotency: re-running the same window appends nothing
    val stats2 = Registry.run(ctx, w1)
    val by2 = stats2.map(s => s.pipelineId -> s).toMap
    assert(by2("fact_wazuh_events").rowsAppended == 0)
    assert(by2("dim_date").rowsAppended == 0)
    assert(by2("bridge_wazuh_event_tag").rowsAppended == 0)
    assert(by2("dim_agent_scd2").rowsAfter == 2) // SCD2 rewrite stable
    // the idempotency receipt must read zero EVERYWHERE — the SCD2
    // rewrite reports its new-version delta, not the rebuilt table size
    assert(stats2.map(_.rowsAppended).sum == 0,
      stats2.filter(_.rowsAppended != 0).map(s =>
        s"${s.pipelineId}=${s.rowsAppended}").mkString(", "))

    // run ledger recorded both runs
    assert(spark.read.parquet(ctx.path("_run_ledger")).count() == 32)
  }

  test("rewriteDim: two-step swap, debris-free, crash-recoverable, sized files") {
    import spark.implicits._
    val ctx = freshCtx()
    val fs = new org.apache.hadoop.fs.Path(ctx.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(ctx.path(s))

    assert(ctx.rewriteDim("dim_x", Seq((1L, "a"), (2L, "b")).toDF("k", "v")) == 2)
    assert(ctx.rewriteDim("dim_x", Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("k", "v")) == 3)
    assert(spark.read.parquet(ctx.path("dim_x")).count() == 3)
    // no swap debris and a small dim compacts to exactly one data file
    assert(!fs.exists(p("dim_x__tmp")) && !fs.exists(p("dim_x__bak"))
      && !fs.exists(p("dim_x__tmpraw")))
    assert(fs.listStatus(p("dim_x")).count(
      _.getPath.getName.endsWith(".parquet")) == 1)

    // crash between the two renames: live was moved to .bak, new never
    // landed — the next rewrite must restore and proceed
    fs.rename(p("dim_x"), p("dim_x__bak"))
    assert(!fs.exists(p("dim_x")))
    assert(ctx.rewriteDim("dim_x", Seq((9L, "z")).toDF("k", "v")) == 1)
    assert(spark.read.parquet(ctx.path("dim_x")).select("v")
      .collect().map(_.getString(0)).toSeq == Seq("z"))
    assert(!fs.exists(p("dim_x__bak")))

    // empty rewrite keeps a readable schema-bearing table
    assert(ctx.rewriteDim("dim_x", Seq.empty[(Long, String)].toDF("k", "v")) == 0)
    assert(spark.read.parquet(ctx.path("dim_x")).columns.toSeq == Seq("k", "v"))
  }

  test("the run ledger's row counts equal the tables' counts on disk") {
    val targets = Registry.all.map(_.target).distinct
    def disk(ctx: GoldContext): Map[String, Long] = targets.map(t => t ->
      (if (ctx.exists(t)) spark.read.parquet(ctx.path(t)).count() else 0L)).toMap
    /** Run `w` on `ctx` and check its ledger rows against the disk
      * counts taken just before and just after the run. */
    def checked(ctx: GoldContext, w: TimeWindow): Seq[Registry.RunStats] = {
      val before = disk(ctx)
      val stats = Registry.run(ctx, w)
      val after = disk(ctx)
      val ledger = spark.read.parquet(ctx.path("_run_ledger"))
      val last = ledger.filter(col("run_at") === ledger.agg(max("run_at")).head().get(0))
        .select("target", "rowsBefore", "rowsAfter").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(last.size == 16)
      assert(last == Registry.all.map(p => (p.target, before(p.target), after(p.target))).toSet)
      stats
    }
    val ctx = freshCtx()
    ingest(ctx, Seq(
      wazuhEvent("l1", "2026-01-08T01:00:00.000Z", "agentA", "10.0.0.1"),
      suricataEvent("ls1", "2026-01-08T03:00:00.000Z"),
      zeekEvent("lz1", "2026-01-08T04:00:00.000Z")))
    checked(ctx, w1) // cold
    ingest(ctx, Seq(
      wazuhEvent("l2", "2026-01-08T05:00:00.000Z", "agentA", "10.0.0.7", ruleId = "300"),
      wazuhEvent("l3", "2026-01-08T06:00:00.000Z", "agentC", "10.0.0.3", tags = Seq("t9")),
      suricataEvent("ls2", "2026-01-08T07:00:00.000Z")))
    assert(checked(ctx, w1).map(_.rowsAppended).sum > 0) // a second ingest
    val rerun = checked(ctx, w1)
    assert(rerun.forall(s => s.rowsAppended == 0 && s.rowsBefore == s.rowsAfter),
      rerun.mkString("\n"))
    val fresh = new GoldContext(spark, ctx.root, ctx.tz)
    ingest(fresh, Seq(
      wazuhEvent("l4", "2026-01-08T13:00:00.000Z", "agentA", "10.0.0.8"),
      zeekEvent("lz2", "2026-01-08T14:00:00.000Z")))
    assert(checked(fresh, w2).map(_.rowsAppended).sum > 0)
  }

  test("a zero-row write leaves the table as it was") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val ctx = freshCtx()
    val fs = new Path(ctx.root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(t: String): Set[(String, Long)] = {
      val it = fs.listFiles(new Path(ctx.path(t)), true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toUri.getPath, f.getLen)).toSet
    }
    def dim(rows: (Long, String)*) = rows.toDF("k", "v")
    def fact(ids: String*) = ids.map(i =>
      (i, java.sql.Timestamp.valueOf("2026-01-08 01:00:00"))).toDF("event_id", "event_ts")
    val keys = Seq("event_id", "event_ts")

    ctx.appendDim("dim_x", dim((1L, "a")))
    ctx.appendFact("fact_x", fact("e1"), "event_ts", keys)
    val (dimFiles, factFiles) = (listing("dim_x"), listing("fact_x"))
    assert(ctx.appendDim("dim_x", dim()) == 0)
    assert(listing("dim_x") == dimFiles)
    assert(ctx.appendFact("fact_x", fact(), "event_ts", keys) == 0)
    assert(ctx.appendFact("fact_x", fact("e1"), "event_ts", keys) == 0) // all present
    assert(PartitionedWriter.appendIfAbsent(fact("e1"), ctx.path("fact_x"), "event_ts", keys) == 0)
    assert(listing("fact_x") == factFiles)
    assert(ctx.rows("dim_x") == 1 && ctx.rows("fact_x") == 1)

    // into an absent table: no root is made
    assert(ctx.appendDim("dim_y", dim()) == 0)
    assert(ctx.appendFact("fact_y", fact(), "event_ts", keys) == 0)
    assert(PartitionedWriter.appendIfAbsent(fact(), ctx.path("fact_z"), "event_ts", keys) == 0)
    assert(Seq("dim_y", "fact_y", "fact_z").filter(ctx.exists).isEmpty)
    assert(ctx.rows("dim_y") == 0 && ctx.rows("fact_y") == 0)

    // an empty rewrite, of an existing and of an absent dim: one
    // readable, schema-bearing file
    for (t <- Seq("dim_x", "dim_w")) {
      assert(ctx.rewriteDim(t, dim()) == 0, t)
      assert(listing(t).count(_._1.endsWith(".parquet")) == 1, listing(t))
      val back = spark.read.parquet(ctx.path(t))
      assert(back.columns.toSeq == Seq("k", "v") && back.count() == 0, t)
      assert(ctx.rows(t) == 0, t)
    }
  }

  test("SCD2 change sequence: close old version, open new, asof resolves both") {
    val ctx = freshCtx()
    // window 1: agentA @ ip .1 ; window 2: agentA moved to ip .9
    ingest(ctx, Seq(
      wazuhEvent("e1", "2026-01-08T01:00:00.000Z", "agentA", "10.0.0.1"),
      wazuhEvent("e2", "2026-01-08T13:00:00.000Z", "agentA", "10.0.0.9"),
      wazuhEvent("e3", "2026-01-08T14:00:00.000Z", "agentA", "10.0.0.9")))
    Registry.run(ctx, w1)
    Registry.run(ctx, w2)

    val dim = spark.read.parquet(ctx.path("dim_agent")).orderBy("effective_from")
    val rows = dim.collect()
    assert(rows.length == 2)
    val (old, cur) = (rows(0), rows(1))
    assert(old.getAs[Int]("is_current") == 0)
    assert(cur.getAs[Int]("is_current") == 1)
    // old closed exactly at the new version's effective_from
    assert(old.getAs[java.sql.Timestamp]("effective_to")
      == cur.getAs[java.sql.Timestamp]("effective_from"))
    assert(cur.getAs[String]("agent_ip") == "::ffff:10.0.0.9")

    // asof: e1 -> old version, e2/e3 -> new version
    val fact = spark.read.parquet(ctx.path("fact_wazuh_events"))
    val byEvent = fact.select("event_id", "agent_key").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byEvent("e1") == old.getAs[Long]("agent_key"))
    assert(byEvent("e2") == cur.getAs[Long]("agent_key"))
    assert(byEvent("e3") == cur.getAs[Long]("agent_key"))

    // SCD2 invariants: exactly one current row per key; no overlap
    assert(dim.filter(col("is_current") === 1).count() == 1)
  }

  test("SCD2 multi-change window + re-run stability (no version oscillation)") {
    val ctx = freshCtx()
    // two ip changes inside ONE window + an unchanged repeat
    ingest(ctx, Seq(
      wazuhEvent("m1", "2026-01-08T01:00:00.000Z", "agentZ", "10.0.0.1"),
      wazuhEvent("m2", "2026-01-08T02:00:00.000Z", "agentZ", "10.0.0.2"),
      wazuhEvent("m3", "2026-01-08T03:00:00.000Z", "agentZ", "10.0.0.2"),
      wazuhEvent("m4", "2026-01-08T04:00:00.000Z", "agentZ", "10.0.0.3")))
    Registry.run(ctx, w1, Some(Set("dim_agent_scd2")))
    val v1 = spark.read.parquet(ctx.path("dim_agent"))
      .orderBy("effective_from").collect()
    assert(v1.length == 3) // .1 -> .2 -> .3 (m3 collapses into m2's version)
    assert(v1.map(_.getAs[Int]("is_current")).toSeq == Seq(0, 0, 1))
    assert(v1(0).getAs[java.sql.Timestamp]("effective_to")
      == v1(1).getAs[java.sql.Timestamp]("effective_from"))
    // re-run: identical chain, stable surrogate keys
    Registry.run(ctx, w1, Some(Set("dim_agent_scd2")))
    val v2 = spark.read.parquet(ctx.path("dim_agent"))
      .orderBy("effective_from").collect()
    assert(v2.map(_.toSeq).toSeq == v1.map(_.toSeq).toSeq)
  }

  test("Jakarta midnight boundary: date_key/time_key from UTC+7 wall clock") {
    val ctx = freshCtx()
    // 2026-01-08T18:30:00Z = 2026-01-09 01:30:00 Jakarta
    ingest(ctx, Seq(wazuhEvent("mid", "2026-01-08T18:30:00.000Z", "aX", "10.0.0.5")))
    Registry.run(ctx, TimeWindow.of("2026-01-08 12:00:00", "2026-01-09 00:00:00"))
    val fact = spark.read.parquet(ctx.path("fact_wazuh_events")).collect().head
    assert(fact.getAs[Int]("date_key") == 20260109)
    assert(fact.getAs[Int]("time_key") == 13000)
    val dimDate = spark.read.parquet(ctx.path("dim_date")).collect().head
    assert(dimDate.getAs[Int]("date_key") == 20260109)
  }

  test("ctx.read serves every bronze and gold table as spark.read.parquet does") {
    val ctx = runAllSources()
    assert(allTables.filterNot(ctx.exists).isEmpty, allTables.filterNot(ctx.exists))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    for (t <- allTables) {
      val disk = spark.read.parquet(ctx.path(t))
      assert(ctx.read(t).schema == disk.schema, t)
      assert(rows(ctx.read(t)) == rows(disk), t)
    }
  }

  /** One job `body` launched: its stage names, and whether it ran inside
    * a SQL execution (a schema inference runs outside any). */
  private case class Job(stages: Seq[String], inSql: Boolean)

  /** Every job `body` launches, on any thread it starts. */
  private def jobsDuring(body: => Unit): Seq[Job] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val Phase = "graft.spec.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Job)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach(p => Option(p.getProperty(Phase)).foreach(ph =>
          jobs.add(ph -> Job(e.stageInfos.map(_.name),
            p.getProperty("spark.sql.execution.id") != null))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Phase, "body")
      body
      // a marker job after it: listener events arrive in order
      sc.setLocalProperty(Phase, "done")
      spark.range(1).count()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(jobs.asScala.exists(_._1 == "done"))
      }
    } finally {
      sc.setLocalProperty(Phase, null)
      sc.removeSparkListener(listener)
    }
    jobs.asScala.toSeq.collect { case ("body", job) => job }
  }

  /** Names of the stages of every job `body` launches that infers a
    * parquet schema (stage name `parquet at ...`). */
  private def schemaJobsDuring(body: => Unit): Seq[Seq[String]] =
    jobsDuring(body).map(_.stages).filter(_.exists(_.startsWith("parquet at")))

  test("Registry.run counts rows only inside its writes and infers only bronze schemas") {
    val ctx = allSourcesIngested()
    val jobs = jobsDuring(Registry.run(ctx, w1))
    val counts = jobs.filter(_.stages.exists(_.startsWith("count at")))
    assert(counts.isEmpty, counts)
    // writes are `parquet at ...` too, but run inside a SQL execution
    val inference = jobs.filterNot(_.inSql)
    assert(inference.size <= Bronze.Sources.size, inference)
  }

  test("GoldViews.registerAll after Registry.run infers no table schema") {
    val ctx = runAllSources()
    val schemaJobs = schemaJobsDuring {
      assert(graft.queries.GoldViews.registerAll(ctx).size == 19)
    }
    assert(schemaJobs.isEmpty, schemaJobs)
  }

  test("Monitoring.checkSla infers no table schema once ctx has read the tables") {
    val ctx = runAllSources()
    (allTables :+ "_run_ledger").foreach(ctx.read)
    val cfgs = Registry.all.map(sp => Monitoring.SlaConfig(sp.id, sp.target))
    val schemaJobs = schemaJobsDuring {
      // a day after the window: every fact is stale, so every check runs
      assert(Monitoring.checkSla(ctx, cfgs,
        asOfMillis = w1.end.getTime + 86400000L).nonEmpty)
    }
    assert(schemaJobs.isEmpty, schemaJobs)
  }

  test("the schema-drift check sees a column added on disk after ctx cached the schema") {
    import spark.implicits._
    val ctx = freshCtx()
    ctx.appendDim("dim_x", Seq((1L, "a")).toDF("k", "v"))
    val cached = ctx.read("dim_x").schema
    // another writer replaces the table with a wider schema
    Seq((2L, "b", 7)).toDF("k", "v", "extra")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(ctx.path("dim_x"))
    // the context keeps serving the schema it resolved ...
    assert(ctx.read("dim_x").schema == cached)
    // ... and the drift check reads the one on disk
    assert(Monitoring.schemaDrift(ctx, "dim_x", cached) == ((Nil, Seq("extra"), Nil)))
  }

  test("suricata + zeek fixtures flow through their facts and bridges") {
    val ctx = freshCtx()
    import spark.implicits._
    val payloads = Seq("suricata", "zeek").map(Fixtures.payload)
    ingest(ctx, payloads)
    // fixtures are at 2026-01-07 / 2026-01-09 UTC
    Registry.run(ctx, TimeWindow.of("2026-01-01 00:00:00", "2026-01-31 00:00:00"))
    assert(spark.read.parquet(ctx.path("fact_suricata_events")).count() == 1)
    assert(spark.read.parquet(ctx.path("fact_zeek_events")).count() == 1)
    val suriFact = spark.read.parquet(ctx.path("fact_suricata_events")).collect().head
    assert(suriFact.getAs[Long]("sensor_key") != 0)
    assert(suriFact.getAs[Long]("signature_key") != 0)
    // suricata fixture has 1 tag -> 1 bridge row joined to dim_tag
    assert(spark.read.parquet(ctx.path("bridge_suricata_event_tag")).count() == 1)
    val sensors = spark.read.parquet(ctx.path("dim_sensor"))
    assert(sensors.filter(col("sensor_type") === "zeek").count() == 1)
  }
}
