package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.JvmStats.{Receipt, receiptOf, rounded}

/** Benchmark main: runs the full query suite against
  * SPARK_GRAFT_SF_DIR (default sf0.1), fully materializing each result
  * through the noop sink (count() alone lets Catalyst skip most of the
  * work), then the blocks the end-to-end numbers come from:
  *  - `index_build_sec`: every persisted index/projection root, built
  *    and receipted before the timed reps;
  *  - `e2e`: raw events → checkpointed bronze stream → 16 gold
  *    pipelines (plus an idempotent re-run and a fresh-warehouse
  *    rebuild) → SLA evaluation → a BI query over JDBC;
  *  - `e2e_stream`: the streaming curation, LM-gated curation, drift
  *    and preference twins, drained through checkpointed sources;
  *  - `retime_aged_jvm` and `receipts`: the heavy tail re-timed at the
  *    end of the suite, and its per-rep {wall, cpu, gc} receipts.
  *
  * The full artifact is one Jackson tree ([[artifact]]) written to
  * BENCH_FULL.json; stdout gets one [[compactLine]] for the bench capture.
  *
  * Load-robust protocol: each query runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) and reports the per-query MEDIAN — a single co-tenant
  * spike on the box inflates one rep, not the recorded number (round-1
  * recordings were 2.6× off from exactly this).
  */
object Bench {

  private[graft] val mapper = new ObjectMapper()

  private def obj(): ObjectNode = mapper.createObjectNode()

  /** {wall, cpu, gc} of one receipt, 3 decimals each. */
  private def wallCpuGc(rc: Receipt): ObjectNode =
    obj().put("wall", rounded(rc.wall)).put("cpu", rounded(rc.cpu))
      .put("gc", rounded(rc.gc))

  /** One optional block: a failure is logged and the block left out of
    * the artifact, never fatal to the run. */
  private def block(name: String)(body: => ObjectNode): Option[ObjectNode] =
    try Some(body) catch { case e: Throwable =>
      System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      None
    }

  /** Run `body` with a temp-dir maker, then delete every dir it made,
    * however `body` ends. */
  private def withTmpDirs[T](body: (String => String) => T): T = {
    val made = scala.collection.mutable.Buffer.empty[java.io.File]
    try body { prefix =>
      val d = java.nio.file.Files.createTempDirectory(prefix).toFile
      made += d
      d.toString
    } finally made.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nCpu = core.GraftSession.defaultCpus
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = core.GraftSession.local(nCpu)

    // one warm-up action so JVM/codegen startup isn't billed to query 1.
    // A FIXED cheap query (not Map hash order, which could hand back a
    // broken or trivial one and let query 1 re-absorb codegen startup).
    SparkEntry.queries.get("d1_distinct_dim")
      .orElse(SparkEntry.queries.headOption.map(_._2))
      .foreach { fn =>
        try fn(spark, sfDir).limit(1).collect() catch { case _: Throwable => () }
      }

    // ---- run-condition receipts (the bench-credibility instrument) --
    // Per-rep process-CPU and GC deltas separate "the plan is slow"
    // from "the box/JVM was busy": co-tenant load shows as wall ≫
    // cpu/cores with flat gc; heap aging shows as gc growing with suite
    // position. Recorded per query for the heavy tail, plus an env
    // block (load averages) and an end-of-suite aged-JVM re-time.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    // (name, receipt) per successful rep
    val repReceipts = scala.collection.mutable.ArrayBuffer[(String, Receipt)]()

    // None = the rep failed: a failed rep's near-zero wall time must not
    // enter the median (it would make a broken query look FAST), and a
    // query whose reps all fail must surface in the JSON, not vanish
    def timeOnce(name: String,
        fn: (SparkSession, String) => DataFrame): Option[Double] = {
      // operators cache intermediates (LSH tables etc.); drop them so
      // rep N+1 / query N+1 isn't taxed by earlier blocks
      spark.catalog.clearCache()
      try {
        val (_, rc) = receiptOf(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        repReceipts += (name -> rc)
        Some(rc.wall)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    val only = args.headOption // substring filter for isolated timing
    // debug knob: SPARK_GRAFT_SUITE=0 skips the query suite so the e2e
    // blocks can be exercised in isolation (recorded runs never set it;
    // a suite-less run writes no BENCH_FULL)
    val suiteOn = !sys.env.get("SPARK_GRAFT_SUITE").contains("0")
    // stage every persisted index/projection root BEFORE the timed
    // reps, receipted per root (round-10 finding 3: l110's rep 1
    // silently carried two LSH index builds — build cost must be its
    // own number, and rep 1 should retime ≈ reps 2-3)
    val staging: Option[ObjectNode] =
      if (!suiteOn) None
      else block("root staging") {
        val builds = graft.queries.Suite.stagePersistedRoots(spark, sfDir)
        System.err.println("[bench] staged persisted roots: " + builds
          .map { case (n, s) => f"$n $s%.2f s" }.mkString(", "))
        val node = obj()
        builds.foreach { case (n, s) => node.put(n, rounded(s)) }
        node
      }
    var sincePurge = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_ => suiteOn)
      .filter { case (n, _) => only.forall(n.contains) }
      .map { case (name, fn) =>
        // suite hygiene: Spark's ContextCleaner reclaims broadcast/
        // shuffle state via WEAK references, so a 700-rep suite in one
        // JVM can outrun it and tax late queries with earlier queries'
        // garbage (the aged-JVM heavy-tail suspect). A periodic forced
        // GC enqueues the refs so the cleaner actually runs; receipts
        // record whether it mattered.
        sincePurge += 1
        if (sincePurge >= 40) { sincePurge = 0; System.gc() }
        val times = (1 to reps).map(_ => timeOnce(name, fn))
        val ok = times.flatten
        val med = if (ok.nonEmpty) Some(median(ok)) else None
        System.err.println(f"[bench] $name%-28s median ${med.getOrElse(Double.NaN)}%8.2f s  " +
          times.map(t => t.map(v => f"$v%.2f").getOrElse("FAIL"))
            .mkString("(", " ", ")"))
        (name, med, times.count(_.isEmpty))
      }

    // end-to-end gold SLA rehearsal — the reference's REAL operating
    // target (BASELINE.md): ingest ≥333 ev/s, then all 16 pipelines
    // over a 10-min window inside the 5-min cadence. Skipped in
    // isolated-timing runs or with SPARK_GRAFT_E2E_EVENTS=0.
    val e2eEvents =
      sys.env.getOrElse("SPARK_GRAFT_E2E_EVENTS", "200000").toLong
    val e2e: Option[ObjectNode] =
      if (only.isDefined || e2eEvents <= 0) None
      else block("e2e")(withTmpDirs(e2eBlock(spark, e2eEvents, nCpu, _)))

    // streaming curation + drift throughput: the batch-twin oracles
    // prove WHAT the streaming operators compute; this records how
    // fast the streaming machinery itself moves documents
    val e2eStream: Option[ObjectNode] =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_E2E_STREAM").contains("0")) None
      else block("e2e_stream")(withTmpDirs(e2eStreamBlock(spark, sfDir, _)))

    // end-of-suite AGED-JVM re-time of the heavy tail: if these match
    // the in-suite medians, suite position / JVM aging does not explain
    // a slow recorded run (points at box load); if they are faster,
    // the JVM aged. Either way the artifact answers it. Tail = top 8
    // by median UNION everything over 2 s — round 8's unexplained
    // l67/l66 inflation sat exactly in the >2 s band the fixed top-8
    // could miss, so the band itself is now the contract.
    val heavyMedians = results.collect { case (k, Some(v), _) => (k, v) }
      .sortBy(-_._2)
    val retime: Option[ObjectNode] =
      if (only.isDefined) None
      else {
        val node = obj()
        (heavyMedians.take(8) ++ heavyMedians.filter(_._2 > 2.0))
          .map(_._1).distinct.foreach { nm =>
            SparkEntry.queries.get(nm).flatMap(fn => timeOnce(s"retime:$nm", fn))
              .foreach(t => node.put(nm, rounded(t)))
          }
        Some(node).filter(_.size > 0)
      }

    // per-query receipts for the heavy tail: the rep closest to the
    // recorded median (top-level keys), PLUS every individual rep —
    // round-7's l19 finding was only diagnosable per-rep (rep 1 warm-up
    // burning 3x the CPU of reps 2-3 is invisible in a median receipt).
    // util = cpu / (wall × cores): low util with flat gc = the box was
    // busy, not the plan. Coverage contract: top 12 UNION every query
    // over 2 s, so the artifact can adjudicate ANY heavy-tail outlier
    // from its own reps instead of storing one bare float (round 8's
    // l67/l66 gap was un-adjudicable for exactly that reason).
    val receipts = obj()
    (heavyMedians.take(12) ++ heavyMedians.filter(_._2 > 2.0)).distinct
      .foreach { case (nm, med) =>
        val repsOf = repReceipts.collect { case (`nm`, rc) => rc }.toSeq
        repsOf.minByOption(rc => math.abs(rc.wall - med)).foreach { rc =>
          val entry = wallCpuGc(rc).put("util", rounded(rc.util(nCpu)))
          val all = entry.putArray("reps")
          repsOf.foreach(r => all.add(wallCpuGc(r)))
          receipts.set[JsonNode](nm, entry)
        }
      }
    val env = obj().put("cpus", nCpu)
      .put("load_avg_start", rounded(loadStart, 2))
      .put("load_avg_end", rounded(loadAvg, 2))
      .put("gc_total_sec", rounded(core.JvmStats.gcSec, 1))
      .put("heap_max_gb", rounded(Runtime.getRuntime.maxMemory / 1e9, 1))
    // the full artifact also records the session confs the suite ran
    // under; the compact line stays within its 1800-char bound
    val fullEnv = env.deepCopy()
    val confs = fullEnv.putObject("session_confs")
    core.GraftSession.confs.foreach { case (k, v) => confs.put(k, v) }

    val full = artifact(sfDir, reps, results, Seq(
      "index_build_sec" -> staging, "e2e" -> e2e, "e2e_stream" -> e2eStream,
      "retime_aged_jvm" -> retime,
      "receipts" -> Some(receipts).filter(_.size > 0)), fullEnv)
    val fullJson = mapper.writeValueAsString(full)
    // The driver's bench capture keeps only the LAST ~2000 chars of stdout;
    // a 7 KB line gets its head truncated and can never parse (rounds 1-5
    // recorded parsed:null). Full artifact goes to a file + stderr; stdout
    // gets a compact line sized to survive the capture window intact.
    // filtered runs (isolated timing) must not clobber the committed
    // full-suite artifact README points at
    if (only.isEmpty && suiteOn)
      try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable => System.err.println(s"[bench] BENCH_FULL write failed: $e") }
    System.err.println(fullJson)
    println(compactLine(full.get("value").doubleValue, sfDir, reps,
      results.size, results.count(_._2.nonEmpty),
      mapper.writeValueAsString(full.get("failed")),
      full.get("failed_reps").intValue, heavyMedians.take(12),
      e2e.map(b => fragment("e2e", twin(b, E2eTwin))).getOrElse(""),
      e2eStream.map(b => fragment("e2e_stream", twin(b, E2eStreamTwin))).getOrElse(""),
      fragment("env", env)))
    if (results.exists(_._2.isEmpty)) { spark.stop(); sys.exit(1) }
    spark.stop()
  }

  /** The full BENCH_FULL.json artifact: the suite header (total of the
    * query medians, each median, the queries whose every rep failed),
    * then each block that ran, in the given order, then `env`. */
  private[graft] def artifact(sfDir: String, reps: Int,
      results: Seq[(String, Option[Double], Int)],
      blocks: Seq[(String, Option[JsonNode])], env: JsonNode): ObjectNode = {
    val root = obj().put("metric", "suite_total")
      .put("value", rounded(results.flatMap(_._2).sum)).put("unit", "sec")
    val queries = root.putObject("queries")
    val failed = root.putArray("failed")
    results.foreach {
      case (k, Some(v), _) => queries.put(k, rounded(v))
      case (k, None, _) => failed.add(k)
    }
    root.put("failed_reps", results.map(_._3).sum).put("sf", sfDir).put("reps", reps)
    blocks.foreach { case (k, b) => b.foreach(root.set[JsonNode](k, _)) }
    root.set[JsonNode]("env", env)
    root
  }

  /** The e2e block: one timed pass of raw parse → bronze (through the
    * checkpointed stream), gold build, idempotent re-run, a
    * fresh-warehouse rebuild, SLA evaluation and a BI round-trip. */
  private def e2eBlock(spark: SparkSession, events: Long, nCpu: Int,
      tmpDir: String => String): ObjectNode = {
    import graft.pipelines.{GoldContext, Monitoring, Registry, TimeWindow}
    val rawDir = tmpDir("graft_e2e_raw")
    sources.SyntheticEvents.materialize(spark, rawDir, events)
    val wh = tmpDir("graft_e2e_wh")
    val ctx = new GoldContext(spark, wh, "Asia/Jakarta")
    // ingest THROUGH the checkpointed stream (foreachBatch route +
    // append), not the batch Bronze.route shortcut: the recorded
    // ev/s covers offset tracking, micro-batch scheduling and the
    // per-batch idempotent appends — the machinery a continuous
    // deployment actually runs (the reference's Kafka-engine MVs
    // are continuous). AvailableNow drains the directory in
    // bounded micro-batches, then stops.
    val t0 = System.nanoTime()
    val ingestQ = streaming.BronzeStream.start(
      spark.readStream.schema("raw STRING")
        .option("maxFilesPerTrigger", "8").parquet(rawDir),
      wh, s"$wh/_ckpt_bronze",
      org.apache.spark.sql.streaming.Trigger.AvailableNow())
    ingestQ.awaitTermination()
    val ingestSec = (System.nanoTime() - t0) / 1e9
    val nBatches = ingestQ.recentProgress.length
    val w = TimeWindow.of("2026-01-08 00:00:00", "2026-01-08 00:10:00")
    // per-pipeline {wall,cpu,gc,util,rows} receipts from the run ledger
    // itself (round-9 finding: the gold block emitted ONE float, so
    // a 4x recorded-run outlier could not be attributed to a pipeline,
    // box load, or JVM aging from the artifact alone)
    def pipelines(sts: Seq[Registry.RunStats]): ObjectNode = {
      val node = obj()
      sts.foreach { st =>
        val rc = Receipt(st.durationMs / 1000.0, st.cpuMs / 1000.0, st.gcMs / 1000.0)
        node.set[JsonNode](st.pipelineId, wallCpuGc(rc)
          .put("util", rounded(rc.util(nCpu))).put("rows", st.rowsAppended))
      }
      node
    }
    val (goldStats, rcGold) = receiptOf(Registry.run(ctx, w))
    val (rerunStats, rcRerun) = receiptOf(Registry.run(ctx, w))
    // the delivery-guarantee receipt: a full re-run of the same
    // window must append zero rows anywhere (anti-join dedupe)
    val rerunAppended = rerunStats.map(_.rowsAppended).sum
    System.err.println(
      f"[bench] e2e: $events events streamed in $ingestSec%.1f s " +
        f"($nBatches micro-batches, ${events / ingestSec}%.0f ev/s " +
        f"vs 333 target); 16 pipelines ${rcGold.wall}%.1f s (cadence 300 s); " +
        f"idempotent re-run ${rcRerun.wall}%.1f s appended $rerunAppended rows")
    val e2e = obj().put("events", events)
      .put("ingest_mode", "checkpointed_stream").put("ingest_batches", nBatches)
      .put("ingest_sec", rounded(ingestSec))
      .put("ingest_events_per_sec", math.round(events / ingestSec))
      .put("gold_16_pipelines_sec", rounded(rcGold.wall))
      .put("gold_rerun_sec", rounded(rcRerun.wall))
      .put("rerun_appended", rerunAppended)
    val gold = rcGold.putInto(e2e.putObject("gold"), "total", nCpu)
    gold.set[JsonNode]("pipelines", pipelines(goldStats))
    rcRerun.putInto(gold, "rerun", nCpu, withWall = false)

    // fresh-WAREHOUSE rebuild in the same aged JVM: the rerun above
    // appends zero rows, so it cannot re-time first-build
    // semantics. Copying bronze into a clean root and rebuilding
    // isolates the two remaining explanations for a slow first
    // build — JVM state (fresh ≈ first ⇒ aging/codegen is not it)
    // vs box load at the time of the first build (receipts differ)
    block("e2e.gold fresh rebuild") {
      val hc = spark.sessionState.newHadoopConf()
      val whPath = new org.apache.hadoop.fs.Path(wh)
      val fsys = whPath.getFileSystem(hc)
      val wh2 = tmpDir("graft_e2e_wh2")
      fsys.listStatus(whPath)
        .filter(_.getPath.getName.startsWith("bronze_"))
        .foreach(st => org.apache.hadoop.fs.FileUtil.copy(
          fsys, st.getPath, fsys,
          new org.apache.hadoop.fs.Path(wh2, st.getPath.getName),
          false, hc))
      val ctx2 = new GoldContext(spark, wh2, "Asia/Jakarta")
      val (freshStats, rcFresh) = receiptOf(Registry.run(ctx2, w))
      System.err.println(
        f"[bench] e2e.gold fresh-warehouse rebuild ${rcFresh.wall}%.1f s " +
          f"(first build ${rcGold.wall}%.1f s)")
      rcFresh.putInto(obj(), "total", nCpu)
        .set[ObjectNode]("pipelines", pipelines(freshStats))
    }.foreach(e2e.set[JsonNode]("gold_fresh_rebuild", _))

    // SLA evaluation against the freshly built warehouse: healthy
    // "now" = newest event_ts + 1 min (all 16 pipelines inside the
    // 15-min freshness budget), lagged "now" = +45 min (past 2×
    // threshold → critical). 0 criticals healthy / ≥1 lagged is
    // the monitoring contract, recorded not assumed. Runs BEFORE
    // the BI server (whose thrift stack flips datetime.java8API,
    // which would break freshness's getTimestamp reads).
    val slaCfgs = Registry.all.map(sp => Monitoring.SlaConfig(
      sp.id, sp.target, freshnessThresholdMinutes = 15.0))
    val newestMillis = slaCfgs.flatMap(c =>
      Monitoring.freshnessMinutes(ctx, c.table, 0L)
        .map(m => -(m * 60000.0).toLong)) match {
      case Nil => sources.SyntheticEvents.windowStartMs + 600000L
      case xs => xs.max
    }
    val healthy = Monitoring.checkSla(ctx, slaCfgs,
      asOfMillis = newestMillis + 60000L)
    val lagged = Monitoring.checkSla(ctx, slaCfgs,
      asOfMillis = newestMillis + 45L * 60000L)
    val hCrit = healthy.count(_.severity == "critical")
    val lCrit = lagged.count(_.severity == "critical")
    System.err.println(
      s"[bench] e2e.sla: healthy ${healthy.size} alerts ($hCrit critical); " +
        s"lagged +45min ${lagged.size} alerts ($lCrit critical)")
    e2e.putObject("sla").put("healthy_alerts", healthy.size)
      .put("healthy_critical", hCrit).put("lagged_alerts", lagged.size)
      .put("lagged_critical", lCrit)

    // BI surface round-trip: gold views through the Thrift
    // endpoint, a real Hive JDBC client, one acceptance-shaped
    // dim-join aggregate — connect and query latencies recorded.
    val java8Before = spark.conf
      .getOption("spark.sql.datetime.java8API.enabled").getOrElse("false")
    try block("e2e.bi") {
      val biPort = {
        val s = new java.net.ServerSocket(0)
        try s.getLocalPort finally s.close()
      }
      val server = queries.BiServer.serve(ctx, biPort)
      try {
        Class.forName("org.apache.hive.jdbc.HiveDriver")
        val tc0 = System.nanoTime()
        var conn: java.sql.Connection = null
        var attempts = 0
        while (conn == null) {
          try conn = java.sql.DriverManager.getConnection(
            s"jdbc:hive2://localhost:$biPort/default", "", "")
          catch { case e: Exception =>
            attempts += 1
            if (attempts > 30) throw e
            Thread.sleep(1000)
          }
        }
        val connectSec = (System.nanoTime() - tc0) / 1e9
        try {
          val st = conn.createStatement()
          val tq0 = System.nanoTime()
          val rs = st.executeQuery(
            """SELECT d.rule_name, count(*) AS n
              |FROM fact_wazuh_events f
              |JOIN dim_rule d ON f.rule_key = d.rule_key
              |GROUP BY d.rule_name""".stripMargin)
          var groups = 0L
          var events = 0L
          while (rs.next()) { groups += 1; events += rs.getLong(2) }
          val querySec = (System.nanoTime() - tq0) / 1e9
          System.err.println(
            f"[bench] e2e.bi: JDBC connect $connectSec%.2f s, dim-join " +
              f"aggregate $querySec%.2f s ($groups groups / $events events)")
          obj().put("connect_sec", rounded(connectSec))
            .put("query_sec", rounded(querySec))
            .put("groups", groups).put("events", events)
        } finally conn.close()
      } finally server.stop()
    }.foreach(e2e.set[JsonNode]("bi", _))
    finally spark.conf.set("spark.sql.datetime.java8API.enabled", java8Before)
    e2e
  }

  /** The e2e_stream block: curation (langid/quality/gopher/redact, two
    * idempotent sinks), its LM-gated twin, the per-batch drift monitor
    * and the preference leaderboard, each drained via AvailableNow
    * micro-batches over a checkpointed source. */
  private def e2eStreamBlock(spark: SparkSession, sfDir: String,
      tmpDir: String => String): ObjectNode = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = core.Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val nDocs = docs.count()
    val srcDir = tmpDir("graft_es_src")
    docs.repartition(8).write.mode("overwrite").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    def src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(srcDir)
    val base = tmpDir("graft_es")
    val t0 = System.nanoTime()
    val cq = streaming.CurationStream.start(src, "text",
      s"$base/acc", s"$base/rej", s"$base/ckpt_cur",
      trigger = Trigger.AvailableNow())
    cq.awaitTermination()
    val curSec = (System.nanoTime() - t0) / 1e9
    val curBatches = cq.recentProgress.length
    val accepted = spark.read.parquet(s"$base/acc").count()
    val rejected = spark.read.parquet(s"$base/rej").count()
    val refCounts = operators.Curation.unigramCounts(docs).cache()
    refCounts.count() // freeze the reference OUTSIDE the timed loop
    val t1 = System.nanoTime()
    val dq = streaming.DriftStream.start(src, refCounts, "text",
      s"$base/metrics", s"$base/ckpt_drift",
      trigger = Trigger.AvailableNow())
    dq.awaitTermination()
    val driftSec = (System.nanoTime() - t1) / 1e9
    val driftRows = spark.read.parquet(s"$base/metrics").count()
    refCounts.unpersist()
    // LM-gated twin: the FULL CCNet shape per micro-batch (rule
    // gates + frozen-LM perplexity cut). The model trains once
    // OUTSIDE the timed loop — exactly the production posture —
    // and is timed separately so the base number stays
    // round-over-round comparable. Only the TRAINING half is
    // tokenized and cached (the scoring side tokenizes per batch,
    // as the stream does in production); unpersist is
    // exception-safe so a failed stream can't pin the cache for
    // the rest of the bench JVM.
    val tkLm = operators.NgramLm
      .tokenize(docs.filter(col("doc_id") % 2 === 0)).cache()
    val lm = operators.NgramLm.train(tkLm).cache()
    val (curLmSec, acceptedLm) = try {
      lm.count()
      val t2 = System.nanoTime()
      val lq = streaming.CurationStream.start(src, "text",
        s"$base/acc_lm", s"$base/rej_lm", s"$base/ckpt_cur_lm",
        lm = Some(lm), maxNllBits = 4.9,
        trigger = Trigger.AvailableNow())
      lq.awaitTermination()
      ((System.nanoTime() - t2) / 1e9,
        spark.read.parquet(s"$base/acc_lm").count())
    } finally {
      lm.unpersist()
      tkLm.unpersist()
      ()
    }
    System.err.println(
      f"[bench] e2e_stream: $nDocs docs curated in $curSec%.1f s " +
        f"($curBatches batches, ${nDocs / curSec}%.0f docs/s; " +
        f"$accepted accepted / $rejected rejected); LM-gated " +
        f"$curLmSec%.1f s (${nDocs / curLmSec}%.0f docs/s, " +
        f"$acceptedLm accepted); drift " +
        f"$driftSec%.1f s, $driftRows metric rows")
    val out = obj().put("docs", nDocs).put("curation_sec", rounded(curSec))
      .put("curation_docs_per_sec", math.round(nDocs / curSec))
      .put("curation_batches", curBatches)
      .put("accepted", accepted).put("rejected", rejected)
      .put("curation_lm_sec", rounded(curLmSec))
      .put("curation_lm_docs_per_sec", math.round(nDocs / curLmSec))
      .put("accepted_lm", acceptedLm).put("drift_sec", rounded(driftSec))
      .put("drift_metric_rows", driftRows)

    // preference-leaderboard twin (round-10 stretch 6): a derived
    // (winner, loser) comparison log streams through
    // PreferenceStream's partial-pair-count store, then the read-
    // time fold+fit must be INTEGER-IDENTICAL to the batch
    // Bradley-Terry over the same log — throughput AND the
    // stream≡batch contract, receipted from a live checkpointed run
    block("e2e_stream.preference") {
      val types = array(lit("view"), lit("click"), lit("purchase"),
        lit("signup"), lit("error"))
      val cmp = core.Tables.load(spark, sfDir, "events")
        .select(col("event_type").as("winner"),
          element_at(types,
            (pmod(hash(col("event_id") * 17L), lit(5)) + 1).cast("int"))
            .as("loser"))
        .filter(col("winner") =!= col("loser"))
      val nCmp = cmp.count()
      val prefSrc = tmpDir("graft_es_pref")
      cmp.repartition(8).write.mode("overwrite").parquet(prefSrc)
      val prefSchema = spark.read.parquet(prefSrc).schema
      val t2 = System.nanoTime()
      val pq = streaming.PreferenceStream.start(
        spark.readStream.schema(prefSchema)
          .option("maxFilesPerTrigger", "2").parquet(prefSrc),
        "winner", "loser", s"$base/pref", s"$base/ckpt_pref",
        trigger = Trigger.AvailableNow())
      pq.awaitTermination()
      val prefSec = (System.nanoTime() - t2) / 1e9
      val prefBatches = pq.recentProgress.length
      val streamFit = streaming.PreferenceStream
        .leaderboard(spark, s"$base/pref").collect().toSet
      val batchFit = operators.Preference.bradleyTerry(cmp)
        .collect().toSet
      val fitEqual = streamFit == batchFit
      System.err.println(
        f"[bench] e2e_stream.preference: $nCmp comparisons in " +
          f"$prefSec%.1f s ($prefBatches batches, " +
          f"${nCmp / prefSec}%.0f cmp/s; stream fit " +
          f"${if (fitEqual) "==" else "!="} batch fit, " +
          f"${streamFit.size} items)")
      obj().put("comparisons", nCmp).put("sec", rounded(prefSec))
        .put("comparisons_per_sec", math.round(nCmp / prefSec))
        .put("batches", prefBatches).put("items", streamFit.size)
        .put("fit_equal", fitEqual)
    }.foreach(out.set[JsonNode]("preference", _))
    out
  }

  // Scalar-only headline twins for the compact stdout line, as
  // (twin key, JSON pointer into the full block). Round 10 embedded the
  // FULL e2e block (with per-pipeline receipts) in the compact line; it
  // grew past the ~2000-char stdout capture window and BENCH_r10.json
  // recorded parsed:null. Per-pipeline receipts belong ONLY in
  // BENCH_FULL.json / stderr; stdout carries fixed-size scalars.
  private val E2eTwin = Seq(
    "ingest_events_per_sec" -> "/ingest_events_per_sec",
    "gold_sec" -> "/gold_16_pipelines_sec",
    "gold_fresh_sec" -> "/gold_fresh_rebuild/total",
    "rerun_appended" -> "/rerun_appended",
    "sla_healthy_critical" -> "/sla/healthy_critical",
    "sla_lagged_critical" -> "/sla/lagged_critical",
    "bi_connect_sec" -> "/bi/connect_sec",
    "bi_query_sec" -> "/bi/query_sec")
  private val E2eStreamTwin = Seq(
    "curation_docs_per_sec" -> "/curation_docs_per_sec",
    "curation_lm_docs_per_sec" -> "/curation_lm_docs_per_sec",
    "drift_sec" -> "/drift_sec")

  /** The twin keys whose pointers resolve in `full`. */
  private def twin(full: JsonNode, keys: Seq[(String, String)]): ObjectNode = {
    val out = obj()
    keys.foreach { case (k, ptr) =>
      val v = full.at(ptr)
      if (!v.isMissingNode) out.set[JsonNode](k, v)
    }
    out
  }

  /** `,"key":value`, both rendered by the mapper — the shape of
    * [[compactLine]]'s fragment arguments. */
  private def fragment(key: String, value: JsonNode): String =
    "," + mapper.writeValueAsString(key) + ":" + mapper.writeValueAsString(value)

  /** Compact one-line stdout artifact for the driver's ~2000-char tail
    * capture window. Carries ONLY fixed-size scalars: suite totals, the
    * heaviest query medians, the scalar e2e / e2e_stream headline twins,
    * and env. Per-query reps and per-pipeline gold receipts live in
    * BENCH_FULL.json / stderr — round 10 embedded the full e2e block
    * here and re-triggered the rounds-1-5 parsed:null head truncation.
    * Over the 1800-char bound it sheds the lightest heavy queries first,
    * then trailing `failed` names (recording `failed_truncated_to`).
    * CompactLineSpec asserts the bound against a worst-case block set so
    * the regression cannot recur silently.
    */
  def compactLine(total: Double, sfDir: String, reps: Int, nQueries: Int,
      nOk: Int, failed: String, failedReps: Int,
      heavy0: Seq[(String, Double)], e2eCompact: String,
      e2eStreamCompact: String, envJson: String): String = {
    val allFailed = mapper.readTree(failed)
    var heavy = heavy0
    var nFailed = allFailed.size
    def compact: String = {
      val hq = heavy.map { case (k, v) => mapper.writeValueAsString(k) + f":$v%.3f" }
        .mkString("{", ",", "}")
      val failedJson =
        if (nFailed == allFailed.size) failed
        else {
          val kept = mapper.createArrayNode()
          (0 until nFailed).foreach(i => kept.add(allFailed.get(i)))
          mapper.writeValueAsString(kept) + s""","failed_truncated_to":$nFailed"""
        }
      f"""{"metric":"suite_total","value":$total%.3f,"unit":"sec","sf":${mapper.writeValueAsString(sfDir)},"reps":$reps,"n_queries":$nQueries,"n_ok":$nOk,"failed":$failedJson,"failed_reps":$failedReps,"queries":$hq,"queries_truncated_to_heaviest":${heavy.size},"detail":"BENCH_FULL.json"$e2eCompact$e2eStreamCompact$envJson}"""
    }
    while (compact.length > 1800 && heavy.nonEmpty) heavy = heavy.dropRight(1)
    while (compact.length > 1800 && nFailed > 0) nFailed -= 1
    compact
  }
}
