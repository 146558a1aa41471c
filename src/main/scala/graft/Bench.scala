package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Benchmark main: runs the full query suite against
  * SPARK_GRAFT_SF_DIR (default sf0.1), fully materializing each result
  * through the noop sink (count() alone lets Catalyst skip most of the
  * work), and prints one JSON line for the driver.
  *
  * Load-robust protocol: each query runs SPARK_GRAFT_BENCH_REPS times
  * (default 3) and reports the per-query MEDIAN — a single co-tenant
  * spike on the box inflates one rep, not the recorded number (round-1
  * recordings were 2.6× off from exactly this).
  */
object Bench {

  // ---- run-condition receipt plumbing, shared by the suite loop and
  // every rehearsal block (round-7 finding: the suite's receipts
  // closed its credibility gap, the synth blocks had none and the
  // artifact of record carried an unexplainable 14x LPM outlier) ----
  private def procCpuSec: Double = core.JvmStats.procCpuSec

  private def gcSecNow: Double = core.JvmStats.gcSec

  /** One timed block's run condition: wall clock, this JVM's
    * process-CPU delta, GC-time delta. util = cpu/(wall·cores) — low
    * util with flat gc reads "the box was busy", cpu ≫ wall·cores is
    * impossible, cpu ≈ wall·cores is a genuinely hot plan. */
  private[graft] case class Receipt(wall: Double, cpu: Double, gc: Double) {
    def util(cpus: Int): Double = if (wall > 0) cpu / (wall * cpus) else 0.0
    /** The {cpu, gc, util} keys alone, prefixed — for entries whose
      * wall-time key already exists in another shape. */
    def metaJson(prefix: String, cpus: Int): String =
      f""""${prefix}_cpu":$cpu%.3f,"${prefix}_gc":$gc%.3f,"${prefix}_util":${util(cpus)}%.3f"""
    /** Flat JSON keys `<p>`, `<p>_cpu`, `<p>_gc`, `<p>_util` — flat so
      * existing per-entry keys (base/grown/…) keep their shape. */
    def flatJson(prefix: String, cpus: Int): String =
      f""""$prefix":$wall%.3f,""" + metaJson(prefix, cpus)
  }

  private def receiptOf[T](fn: => T): (T, Receipt) = {
    val c0 = procCpuSec
    val g0 = gcSecNow
    val t0 = System.nanoTime()
    val r = fn
    (r, Receipt((System.nanoTime() - t0) / 1e9, procCpuSec - c0,
      gcSecNow - g0))
  }

  /** Salted-skew-join rehearsal under REAL skew (c12's reason to
    * exist): a synthetic big side with 90% of its mass on one hot key
    * joins a 1000-key dim, broadcast and AQE skew-mitigation OFF so
    * the raw shuffle-join straggler is visible, then the same join
    * through [[graft.operators.Skew.saltedJoin]]. Max/median task time
    * shows the straggler collapse; equality is checked on an
    * order-independent CONTENT checksum (sum of per-row hashes), not
    * just the row count. Returns the `,"c12g_skew":{…}` JSON
    * fragment. */
  private[graft] def skewRehearsal(spark: SparkSession, skewRows: Long,
      cpus: Int): String = {
    val keys = 1000L
    val dir = java.nio.file.Files.createTempDirectory("graft_skew").toString
    spark.range(skewRows).select(
      col("id").as("row_id"),
      when(pmod(col("id"), lit(10L)) < 9L, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(keys))).as("k"),
      (col("id") % 1000L).as("v"))
      .write.mode("overwrite").parquet(s"$dir/big.parquet")
    spark.range(keys).select(col("id").as("k"),
      concat(lit("dim_"), col("id")).as("name"))
      .write.mode("overwrite").parquet(s"$dir/small.parquet")
    val bigDf = spark.read.parquet(s"$dir/big.parquet")
    val smallDf = spark.read.parquet(s"$dir/small.parquet")
    val taskMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val tl = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) taskMs.add(te.taskInfo.duration)
    }
    def timedTasks[T](fn: => T): (T, Receipt, Double, Double) = {
      taskMs.clear()
      spark.sparkContext.addSparkListener(tl)
      val (n, rc) = receiptOf(fn)
      // listener bus is async: wait until the count stabilizes
      var last = -1
      var size = taskMs.size
      while (size != last) { last = size; Thread.sleep(200); size = taskMs.size }
      spark.sparkContext.removeSparkListener(tl)
      val ds = taskMs.asScala.map(_.toLong).toSeq.sorted
      val mx = ds.lastOption.getOrElse(0L) / 1000.0
      val md = if (ds.isEmpty) 0.0 else ds(ds.size / 2) / 1000.0
      (n, rc, mx, md)
    }
    val prevB = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevS = spark.conf
      .getOption("spark.sql.adaptive.skewJoin.enabled").getOrElse("true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    try {
      // (rows, order-independent content checksum) in one action —
      // equal counts alone could mask a drop+duplicate bug
      def summarize(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        // per-row hash reduced mod a prime before the sum: full-range
        // longs would ANSI-overflow the aggregate at these row counts
        val r = df.select(col("k"), col("row_id"), col("v"), col("name"))
          .agg(count(lit(1)).as("n"),
            sum(pmod(xxhash64(col("k"), col("row_id"), col("v"),
              col("name")), lit(1000000007L))).as("chk"))
          .collect().head
        (r.getLong(0), r.getLong(1))
      }
      val (statsPlain, rcPlain, maxP, medP) =
        timedTasks(summarize(bigDf.join(smallDf, "k")))
      // third leg: Spark's OWN mitigation (AQE skew-join splitting) on
      // the same shuffle join — the measured answer to "when is the
      // salted operator worth it vs just turning AQE on": AQE splits
      // oversized post-shuffle partitions of sort-merge joins, the
      // salted rewrite also collapses the hash-aggregate pressure of a
      // hot KEY; both legs recorded so the trade reads from the artifact
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      val (statsAqe, rcAqe, maxA, medA) =
        timedTasks(summarize(bigDf.join(smallDf, "k")))
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
      val (statsSalt, rcSalt, maxS, medS) = timedTasks(summarize(
        operators.Skew.saltedJoin(bigDf, smallDf, "k", "row_id",
          replicas = cpus, hotThreshold = skewRows / 100)))
      val (nPlain, nSalt) = (statsPlain._1, statsSalt._1)
      System.err.println(
        f"[bench] c12g skew x$skewRows%d rows: plain ${rcPlain.wall}%.2f s " +
          f"(max task $maxP%.2f s / median $medP%.2f s, cpu ${rcPlain.cpu}%.1f s) " +
          f"-> aqe ${rcAqe.wall}%.2f s (max $maxA%.2f s) " +
          f"-> salted ${rcSalt.wall}%.2f s (max $maxS%.2f s / median $medS%.2f s, " +
          f"cpu ${rcSalt.cpu}%.1f s); " +
          f"rows $nPlain%d==$nSalt%d checksum match ${statsPlain == statsSalt}%b")
      require(statsPlain == statsSalt,
        s"salted join changed the result: $statsPlain vs $statsSalt")
      require(statsPlain == statsAqe,
        s"aqe join changed the result: $statsPlain vs $statsAqe")
      f""","c12g_skew":{"rows":$skewRows,${rcPlain.flatJson("plain_sec", cpus)},"plain_max_task_sec":$maxP%.3f,"plain_median_task_sec":$medP%.3f,${rcAqe.flatJson("aqe_sec", cpus)},"aqe_max_task_sec":$maxA%.3f,"aqe_median_task_sec":$medA%.3f,${rcSalt.flatJson("salted_sec", cpus)},"salted_max_task_sec":$maxS%.3f,"salted_median_task_sec":$medS%.3f,"join_rows":$nPlain}"""
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevB)
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevS)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
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
    // cpu/32 with flat gc; heap aging shows as gc growing with suite
    // position. Recorded per query for the heavy tail, plus an env
    // block (load averages) and an end-of-suite aged-JVM re-time.
    def loadAvg: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg
    // (name, wall, cpuDelta, gcDelta) per successful rep
    val repReceipts =
      scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double)]()

    // None = the rep failed: a failed rep's near-zero wall time must not
    // enter the median (it would make a broken query look FAST), and a
    // query whose reps all fail must surface in the JSON, not vanish
    def timeOnce(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        dir: String = sfDir): Option[Double] = {
      // operators cache intermediates (LSH tables etc.); drop them so
      // rep N+1 / query N+1 isn't taxed by earlier blocks
      spark.catalog.clearCache()
      try {
        val (_, rc) = receiptOf(
          fn(spark, dir).write.format("noop").mode("overwrite").save())
        repReceipts.synchronized {
          repReceipts += ((name, rc.wall, rc.cpu, rc.gc))
        }
        Some(rc.wall)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    }

    /** The latest recorded receipt for a [[timeOnce]] label — how the
      * rehearsal blocks attach {cpu, gc, util} to their entries. */
    def receiptFor(name: String): Option[Receipt] =
      repReceipts.synchronized {
        repReceipts.reverseIterator.find(_._1 == name)
          .map { case (_, w, c, g) => Receipt(w, c, g) }
      }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

    val only = args.headOption // substring filter for isolated timing
    // debug knob: SPARK_GRAFT_SUITE=0 skips the query suite so the
    // rehearsal/e2e blocks can be exercised in isolation (the driver
    // never sets it; a suite-less run writes no BENCH_FULL)
    val suiteOn = !sys.env.get("SPARK_GRAFT_SUITE").contains("0")
    // stage every persisted index/projection root BEFORE the timed
    // reps, receipted per root (round-10 finding 3: l110's rep 1
    // silently carried two LSH index builds — build cost must be its
    // own number, and rep 1 should retime ≈ reps 2-3)
    val stagingJson: String =
      if (!suiteOn) ""
      else try {
        val builds = graft.queries.Suite.stagePersistedRoots(spark, sfDir)
        System.err.println("[bench] staged persisted roots: " + builds
          .map { case (n, s) => f"$n $s%.2f s" }.mkString(", "))
        s""","index_build_sec":{${builds
          .map { case (n, s) => "\"" + n + f"\":$s%.3f" }.mkString(",")}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] root staging FAILED: ${e.getMessage}")
        ""
      }
    var sincePurge = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case _ => suiteOn }
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
    val qs = results.collect { case (k, Some(v), _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, None, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val failedReps = results.map(_._3).sum
    val total = results.flatMap(_._2).sum

    // non-gating scale rehearsal: inflate documents ~10× (deterministic,
    // SyntheticDocs) and record the dedupe/components pipelines at both
    // scales — evidence for the SCALING CURVE, not just the sf0.1
    // point. One rep each, excluded from suite_total; skipped when a
    // name filter is active (isolated timing runs) or factor <= 1.
    // the synth dir materializes inflated documents AND embeddings.
    // l35/l47 are absent deliberately: their suite entries pin nlist
    // for the oracle, and SemDeDup/kNN-graph at fixed nlist are
    // O(n²/nlist) by design — a real deployment grows nlist with the
    // corpus, so a fixed-nlist rehearsal would measure the wrong thing.
    val synthQueries =
      Seq("l2_minhash_neardup", "l21_components", "l26_cluster_sizes",
        "l28_curation_pipeline", "l31_paragraph_dedup", "l33_bm25_topk",
        "l34_duplicate_spans", "l36_remove_dup_spans", "l41_lm_perplexity",
        "l102_kneser_ney",
        "l46_epoch_shuffle", "l48_quality_band", "l49_dsir_topk",
        "l50_bpe_fertility",
        "l5_cosine_topk", "l6_ivf_ann", "l11_embedding_neardup",
        "l40_binary_ann", "l45_mean_pool",
        // round-5 additions: winnow overlap (df-capped inverted index),
        // markup strip (map-only), int8 + IVF-PQ ANN (both linear
        // scans at fixed index params — candidate volume, not pair
        // volume, so fixed-nlist 10x is the RIGHT rehearsal here,
        // unlike the O(n²/nlist) semdedup/knn-graph family)
        "l62_winnow", "l63_winnow_overlap", "l64_int8_ann",
        "l66_strip_markup", "l67_ivfpq_ann", "l69_quality_auc",
        "l70_data_card", "l71_span_corrupt", "l72_nfc_dedup",
        "l74_sentence_chunks", "l77_phrases", "l78_snapshot_diff",
        "l80_quality_psi",
        // round-8 additions: truncated-recall (two brute scans, linear
        // in corpus at fixed query count) and integer k-means (fixed k
        // is a model choice, not corpus-bound — per-iteration cost is
        // one linear scan + a k·dim-bounded aggregation)
        "l103_mrl_recall", "l105_kmeans_balance",
        // round-9 additions: ROUGE-L (per-row bounded DP, map-only),
        // encoding damage (map-only translate arithmetic), length
        // batching (per-source window sort — the cost class under
        // test), audio decode (per-row JDK PCM read, map-only) and
        // audio near-dup (blocked Hamming join — collision volume is
        // the degradation axis, rehearsed at 10× clips)
        "l106_rouge_l", "l107_encoding_damage", "l108_length_batching",
        "m8_audio_decode", "m9_audio_neardup",
        // round-9b additions: license screen + code filters (map-only
        // regex/HOF column work), portable mixture (scan-fused filter),
        // containment dedupe (directional prefix filter — candidate
        // volume is the degradation axis, receipted by l114c below)
        // and the confusable skeleton (translate + exact dedupe, one
        // hash shuffle)
        "l111_license_screen", "l112_code_filters", "l113_mixture_sample",
        "l114_containment_dedup", "l115_confusable_skeleton",
        // round-10 additions: epoch upsampling (map-only explode —
        // growth should cost scan + output volume), video near-dup
        // (per-row container walk + decode, then the blocked Hamming
        // join — collision volume is the degradation axis, same as m9)
        // and image-text mining (per-row PNG chunk walk, map-only)
        "l117_epoch_upsample", "m13_video_neardup",
        "m14_image_text_pairs",
        // round-11 closers: the corpus-planning family (distinct
        // (source, token) collapse, text-hash self-joins, group-mean
        // broadcast gate, paragraph explode+agg, vocab-frame rank,
        // survivor census, gram-ladder semi-join — in every one the
        // degradation axis is scan/explode volume, so fixed-parameter
        // 10× is the right rehearsal)
        "l135_source_overlap", "l136_dup_flow", "l137_domain_gate",
        "l138_paragraph_prune", "l139_oov_curve", "l141_effective_tokens",
        "l142_decontam_curve", "l144_repetition_value",
        // map-only screens/builders (l147 is excluded like l19: its
        // exact simjoin growth is receipted by the l19c census)
        "l148_injection_screen", "l149_needle_insert",
        "l151_fim_transform")
    val synthFactor =
      sys.env.getOrElse("SPARK_GRAFT_SYNTH_FACTOR", "10").toInt
    val synth: String =
      if (only.isDefined || synthFactor <= 1) ""
      else try {
        val dir = java.nio.file.Files.createTempDirectory("graft_synth")
          .toString
        val n = sources.SyntheticDocs.materialize(spark, sfDir, dir,
          synthFactor)
        val timings = synthQueries.flatMap { q =>
          SparkEntry.queries.get(q)
            .flatMap(fn => timeOnce(s"synth:$q", fn, dir).map(q -> _))
        }
        timings.foreach { case (q, t) =>
          val base = results.collectFirst {
            case (nm, Some(m), _) if nm == q => m }
          System.err.println(f"[bench] synth x$synthFactor $q%-22s " +
            f"$t%7.2f s (sf base ${base.getOrElse(Double.NaN)}%.2f s)")
        }
        // growth-matched rehearsal for the O(n²/nlist) family: the
        // suite entries for SemDeDup and the kNN graph pin nlist for
        // their oracles, so a fixed-nlist 10× rehearsal would measure
        // the wrong thing (cells grow quadratically dense). A real
        // deployment grows nlist with the corpus — rehearse THAT:
        // factor× vectors with factor× cells, timed at both scales.
        // ~linear growth here is the scale evidence the fixed-nlist
        // entries cannot provide.
        def semdedup(nlist: Int)(d: String) = {
          val emb = core.Tables.load(spark, d, "embeddings")
          val cents = operators.Similarity.seedCentroids(emb, nlist)
          operators.Dedup.semanticDedup(emb, "vec_id", "embedding", cents,
            threshold = 0.85)
        }
        def knng(nlist: Int)(d: String) = {
          val emb = core.Tables.load(spark, d, "embeddings")
          val cents = operators.Similarity.seedCentroids(emb, nlist)
          val cells = operators.Similarity.assignCells(emb, cents)
          operators.Similarity.knnGraph(cells, cents, k = 3, nprobe = 8)
        }
        val grown = Seq(
          ("l35g_semdedup_nlist", semdedup(16) _, semdedup(16 * synthFactor) _),
          ("l47g_knng_nlist", knng(8) _, knng(8 * synthFactor) _))
          .flatMap { case (nm, baseFn, grownFn) =>
            for {
              tb <- timeOnce(s"synthN:$nm(base)",
                (_, dd) => baseFn(dd), sfDir)
              tg <- timeOnce(s"synthN:$nm(x$synthFactor)",
                (_, dd) => grownFn(dd), dir)
            } yield {
              System.err.println(f"[bench] synthN x$synthFactor $nm%-22s " +
                f"base $tb%6.2f s -> grown $tg%6.2f s (ratio ${tg / tb}%.1fx)")
              (nm, tb, tg)
            }
          }
        val grownItems = grown.map { case (nm, tb, tg) =>
          val bj = receiptFor(s"synthN:$nm(base)")
            .map(_.flatJson("base", nCpu)).getOrElse(f""""base":$tb%.3f""")
          val gj = receiptFor(s"synthN:$nm(x$synthFactor)")
            .map(_.flatJson("grown", nCpu)).getOrElse(f""""grown":$tg%.3f""")
          s""""$nm":{$bj,$gj}"""
        }.mkString(",")
        // capped pair-generator rehearsal: candidate output must grow
        // SUBQUADRATICALLY when the hot-bucket caps are active, so the
        // pair COUNT is recorded next to the wall time (a quadratic
        // blowup shows up in either). Caps are set low enough to trip
        // on the inflated corpus's duplicate families — the degraded
        // path is the one being rehearsed, not the cold path.
        def countTimed(label: String,
            fn: String => org.apache.spark.sql.DataFrame,
            d: String): Option[(Long, Receipt)] = {
          spark.catalog.clearCache()
          try Some(receiptOf(fn(d).count()))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val cappedGens = Seq(
          ("l3c_simhash_capped", (d: String) => {
            val docs = core.Tables.load(spark, d, "documents")
            operators.Dedup.simhashPairs(docs, "text", "doc_id",
              maxBlockBucket = 64)
          }),
          ("l11c_emblsh_capped", (d: String) => {
            val emb = core.Tables.load(spark, d, "embeddings")
            // the inflated corpus's largest hyperplane bucket is ~11
            // (jitter spreads variants across signatures), so cap 8 is
            // what makes the star degrade actually run here; simhash
            // buckets grow bigger and trip the production-shaped 64
            operators.Dedup.embeddingNearDupPairs(emb, "vec_id",
              "embedding", dim = 64, threshold = 0.99, maxBucket = 8)
          }))
        val capped = cappedGens.flatMap { case (nm, fn) =>
          for {
            (nb, rb) <- countTimed(s"synthC:$nm(base)", fn, sfDir)
            (ng, rg) <- countTimed(s"synthC:$nm(x$synthFactor)", fn, dir)
          } yield {
            System.err.println(f"[bench] synthC x$synthFactor $nm%-20s " +
              f"base $nb%7d pairs/${rb.wall}%5.2f s -> grown $ng%8d pairs/" +
              f"${rg.wall}%5.2f s (pair ratio ${ng.toDouble / math.max(nb, 1)}%.1fx)")
            s""""$nm":{"base_pairs":$nb,${rb.flatJson("base", nCpu)},""" +
              s""""grown_pairs":$ng,${rg.flatJson("grown", nCpu)}}"""
          }
        }
        // PPJoin candidate-volume receipt (round-7 finding 2): the
        // candidate count is THE degradation axis of the exact prefix
        // sim-join, so it is recorded next to the wall time at both
        // scales — a quadratic blowup shows in pair ratio, an in-suite
        // CPU anomaly shows in the cpu/util keys.
        def censusTimed(label: String, d: String)
            : Option[(Long, Long, Receipt)] = {
          spark.catalog.clearCache()
          try {
            val ((cands, pairs), rc) = receiptOf(
              operators.Dedup.prefixJoinCensus(
                core.Tables.load(spark, d, "documents"), "text", "doc_id",
                threshold = 0.8, shingleN = 2))
            Some((cands, pairs, rc))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val l19Census = (for {
          (cb, pb, rb) <- censusTimed("synthC:l19c(base)", sfDir)
          (cg, pg, rg) <- censusTimed(s"synthC:l19c(x$synthFactor)", dir)
        } yield {
          System.err.println(f"[bench] synthC x$synthFactor l19c_ppjoin_census " +
            f"base $cb%d cands/$pb%d pairs/${rb.wall}%5.2f s -> grown " +
            f"$cg%d cands/$pg%d pairs/${rg.wall}%5.2f s " +
            f"(cand ratio ${cg.toDouble / math.max(cb, 1)}%.1fx)")
          s""""l19c_ppjoin_census":{"base_cands":$cb,"base_pairs":$pb,""" +
            s"""${rb.flatJson("base", nCpu)},"grown_cands":$cg,""" +
            s""""grown_pairs":$pg,${rg.flatJson("grown", nCpu)}}"""
        }).toSeq
        // containment candidate-volume receipt (l114's l19c twin): the
        // directional prefix filter bounds candidates by
        // maxDf·(1−t)·|gram rows| — the ratio at 10× is the proof
        def containTimed(label: String, d: String)
            : Option[(Long, Long, Receipt)] = {
          spark.catalog.clearCache()
          try {
            val ((cands, pairs), rc) = receiptOf(
              operators.Dedup.containmentCensus(
                core.Tables.load(spark, d, "documents"), "text", "doc_id",
                threshold = 0.9, shingleN = 4))
            Some((cands, pairs, rc))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val l114Census = (for {
          (cb, pb, rb) <- containTimed("synthC:l114c(base)", sfDir)
          (cg, pg, rg) <- containTimed(s"synthC:l114c(x$synthFactor)", dir)
        } yield {
          System.err.println(f"[bench] synthC x$synthFactor l114c_containment_census " +
            f"base $cb%d cands/$pb%d pairs/${rb.wall}%5.2f s -> grown " +
            f"$cg%d cands/$pg%d pairs/${rg.wall}%5.2f s " +
            f"(cand ratio ${cg.toDouble / math.max(cb, 1)}%.1fx)")
          s""""l114c_containment_census":{"base_cands":$cb,"base_pairs":$pb,""" +
            s"""${rb.flatJson("base", nCpu)},"grown_cands":$cg,""" +
            s""""grown_pairs":$pg,${rg.flatJson("grown", nCpu)}}"""
        }).toSeq
        // Unigram-encode rehearsal (round-8 item 2): the model
        // broadcasts and Viterbi segmentation runs ON EXECUTORS over
        // the distinct-words frame, so 10× documents — and with them
        // ~10× distinct words (every synthetic variant injects unique
        // tokens) — must cost ~scan growth with NO driver-side
        // segmentation loop. The distinct-word counts are recorded so
        // the vocabulary growth is a fact of the artifact, and the
        // cpu/util receipts expose a driver bottleneck if one returns
        // (a single-threaded driver loop shows as util ≈ 1/cores).
        def encTimed(label: String, model: operators.Unigram.Model,
            d: String): Option[(Long, Long, Receipt)] = {
          spark.catalog.clearCache()
          try {
            val ((words, rows), rc) = receiptOf {
              val docs = core.Tables.load(spark, d, "documents")
              val w = docs.select(explode(
                  graft.functions.TextFunctions.tokens(col("text"))).as("w"))
                .agg(countDistinct(col("w"))).collect().head.getLong(0)
              val n = operators.Unigram.encode(docs, model).count()
              (w, n)
            }
            Some((words, rows, rc))
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val l96g = (try {
          val model = operators.Unigram.train(
            core.Tables.load(spark, sfDir, "documents"),
            vocabSize = 60, seedSize = 200, maxPieceLen = 3, minCount = 2)
          for {
            (wb, nb, rb) <- encTimed("synthC:l96g(base)", model, sfDir)
            (wg, ng, rg) <- encTimed(s"synthC:l96g(x$synthFactor)", model, dir)
          } yield {
            System.err.println(f"[bench] synthC x$synthFactor l96g_unigram_encode " +
              f"base $wb%d words/$nb%d tokens/${rb.wall}%5.2f s -> grown " +
              f"$wg%d words/$ng%d tokens/${rg.wall}%5.2f s " +
              f"(word ratio ${wg.toDouble / math.max(wb, 1)}%.1fx)")
            s""""l96g_unigram_encode":{"base_words":$wb,"base_tokens":$nb,""" +
              s"""${rb.flatJson("base", nCpu)},"grown_words":$wg,""" +
              s""""grown_tokens":$ng,${rg.flatJson("grown", nCpu)}}"""
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] l96g FAILED: ${e.getMessage}")
          None
        }).toSeq
        // horizon-probe rehearsal (round 9): probing a 10-batch-deep
        // LSH index with a 1-batch dedup horizon must cost ~the
        // horizon, not the index — the batch floor file-prunes whole
        // batch directories. Recorded: wall + pair counts for the
        // full probe vs the horizon probe against the SAME index.
        val horizon = (try {
          val idxRoot = java.nio.file.Files
            .createTempDirectory("graft_lsh_horizon").toString
          val all = core.Tables.load(spark, dir, "documents")
          val nBatches = 10
          (0 until nBatches).foreach { b =>
            operators.LshIndex.append(
              operators.Dedup.buildIndex(
                all.filter(pmod(col("doc_id"), lit(nBatches.toLong)) === b),
                "text", "doc_id"),
              idxRoot, b.toLong, numBuckets = 64)
          }
          val probeDocs = core.Tables.load(spark, sfDir, "documents")
            .filter(col("doc_id") < 200)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          val probeIdx = operators.Dedup.buildIndex(probeDocs, "text", "doc_id")
          spark.catalog.clearCache()
          val (nFull, rFull) = receiptOf(
            operators.LshIndex.probe(probeIdx, idxRoot).count())
          spark.catalog.clearCache()
          val (nHor, rHor) = receiptOf(operators.LshIndex.probeSince(
            probeIdx, idxRoot, Some((nBatches - 1).toLong)).count())
          System.err.println(f"[bench] synthH horizon_probe full " +
            f"$nFull%d pairs/${rFull.wall}%5.2f s -> 1-of-$nBatches-batch " +
            f"horizon $nHor%d pairs/${rHor.wall}%5.2f s " +
            f"(wall ratio ${rHor.wall / rFull.wall}%.2fx)")
          Seq(s""""l110g_horizon_probe":{"index_batches":$nBatches,""" +
            s""""full_pairs":$nFull,${rFull.flatJson("full", nCpu)},""" +
            s""""horizon_pairs":$nHor,${rHor.flatJson("horizon", nCpu)}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] l110g FAILED: ${e.getMessage}")
          Nil
        })
        // containment-probe IO honesty (round 10): the touched-bucket
        // read returns every posting of every batch gram (exact-df
        // guarantee) PLUS the unrelated grams sharing those buckets;
        // the df aggregate semi-joins the latter away, and this records
        // both counts so the over-read ratio is a fact of the artifact,
        // not a scaladoc claim. Default bucket count = the production
        // posture.
        val l116c = (try {
          val root = java.nio.file.Files
            .createTempDirectory("graft_cidx_census").toString
          val cdocs = core.Tables.load(spark, sfDir, "documents")
            .select(col("doc_id"), col("text"))
          operators.ContainmentIndex.append(
            cdocs.filter(col("doc_id") % 2 === 0), "text", "doc_id", root, 0L)
          val ((readRows, batchRows), rc) = receiptOf(
            operators.ContainmentIndex.probeCensus(
              cdocs.filter(col("doc_id") % 2 === 1), "text", "doc_id", root))
          val ratio = readRows.toDouble / math.max(batchRows, 1L)
          System.err.println(f"[bench] l116c containment_io_census: " +
            f"$readRows%d postings read, $batchRows%d batch-gram " +
            f"($ratio%.2fx over-read) in ${rc.wall}%.2f s")
          Seq(f""""l116c_containment_io_census":{"num_buckets":${operators.ContainmentIndex.DefaultNumBuckets}%d,"postings_read":$readRows%d,"batch_gram_postings":$batchRows%d,"read_ratio":$ratio%.3f,${rc.flatJson("census", nCpu)}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] l116c FAILED: ${e.getMessage}")
          Nil
        })
        val items = (timings
          .map { case (q, t) =>
            val base = "\"" + q + f"\":$t%.3f"
            receiptFor(s"synth:$q")
              .map(r => s"$base,${r.metaJson(q, nCpu)}").getOrElse(base)
          } ++
          (if (grown.isEmpty) Nil else Seq(grownItems)) ++ capped ++
          l19Census ++ l114Census ++ l96g ++ horizon ++ l116c)
          .mkString(",")
        s""","synth":{"factor":$synthFactor,"docs":$n,$items}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] synth rehearsal FAILED: ${e.getMessage}")
        ""
      }

    // end-to-end gold SLA rehearsal — the reference's REAL operating
    // target (BASELINE.md): ingest ≥333 ev/s, then all 16 pipelines
    // over a 10-min window inside the 5-min cadence. One timed pass
    // (raw parse→bronze, gold build, idempotent re-run), recorded per
    // round so the SLA is a number, not a round-2 memory. Skipped in
    // isolated-timing runs or with SPARK_GRAFT_E2E_EVENTS=0.
    val e2eEvents =
      sys.env.getOrElse("SPARK_GRAFT_E2E_EVENTS", "200000").toLong
    // Scalar-only headline twins for the compact stdout line. Round 10
    // embedded the FULL e2e block (with per-pipeline receipts) in the
    // compact line; it grew past the driver's ~2000-char capture window
    // and BENCH_r10.json recorded parsed:null — the rounds-1-5 bug
    // through a different door. Per-pipeline receipts belong ONLY in
    // BENCH_FULL.json / stderr; stdout carries fixed-size scalars.
    var e2eCompact = ""
    var e2eStreamCompact = ""
    val e2e: String =
      if (only.isDefined || e2eEvents <= 0) ""
      else try {
        import graft.pipelines.{GoldContext, Registry, TimeWindow}
        val rawDir = java.nio.file.Files
          .createTempDirectory("graft_e2e_raw").toString
        sources.SyntheticEvents.materialize(spark, rawDir, e2eEvents)
        val wh = java.nio.file.Files
          .createTempDirectory("graft_e2e_wh").toString
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
        // per-pipeline {wall,cpu,gc,util} receipts from the run ledger
        // itself (round-9 finding: the gold block emitted ONE float, so
        // a 4x driver-run outlier could not be attributed to a pipeline,
        // box load, or JVM aging from the artifact alone)
        def pipeJson(sts: Seq[Registry.RunStats]): String =
          sts.map { st =>
            val wallS = st.durationMs / 1000.0
            val cpuS = st.cpuMs / 1000.0
            val util = if (wallS > 0) cpuS / (wallS * nCpu) else 0.0
            "\"" + st.pipelineId + "\":" +
              f"""{"wall":$wallS%.3f,"cpu":$cpuS%.3f,"gc":${st.gcMs / 1000.0}%.3f,"util":$util%.3f,"rows":${st.rowsAppended}%d}"""
          }.mkString(",")
        val (goldStats, rcGold) = receiptOf(Registry.run(ctx, w))
        val goldSec = rcGold.wall
        val (rerunStats, rcRerun) = receiptOf(Registry.run(ctx, w))
        val rerunSec = rcRerun.wall
        // the delivery-guarantee receipt: a full re-run of the same
        // window must append zero rows anywhere (anti-join dedupe)
        val rerunAppended = rerunStats.map(_.rowsAppended).sum
        System.err.println(
          f"[bench] e2e: $e2eEvents events streamed in $ingestSec%.1f s " +
            f"($nBatches micro-batches, ${e2eEvents / ingestSec}%.0f ev/s " +
            f"vs 333 target); 16 pipelines $goldSec%.1f s (cadence 300 s); " +
            f"idempotent re-run $rerunSec%.1f s appended $rerunAppended rows")
        // fresh-WAREHOUSE rebuild in the same aged JVM: the rerun above
        // appends zero rows, so it cannot re-time first-build
        // semantics. Copying bronze into a clean root and rebuilding
        // isolates the two remaining explanations for a slow first
        // build — JVM state (fresh ≈ first ⇒ aging/codegen is not it)
        // vs box load at the time of the first build (receipts differ)
        var goldFreshSec = -1.0
        val goldFresh: String = try {
          val hc = spark.sessionState.newHadoopConf()
          val whPath = new org.apache.hadoop.fs.Path(wh)
          val fsys = whPath.getFileSystem(hc)
          val wh2 = java.nio.file.Files
            .createTempDirectory("graft_e2e_wh2").toString
          fsys.listStatus(whPath)
            .filter(_.getPath.getName.startsWith("bronze_"))
            .foreach(st => org.apache.hadoop.fs.FileUtil.copy(
              fsys, st.getPath, fsys,
              new org.apache.hadoop.fs.Path(wh2, st.getPath.getName),
              false, hc))
          val ctx2 = new GoldContext(spark, wh2, "Asia/Jakarta")
          val (freshStats, rcFresh) = receiptOf(Registry.run(ctx2, w))
          goldFreshSec = rcFresh.wall
          System.err.println(
            f"[bench] e2e.gold fresh-warehouse rebuild ${rcFresh.wall}%.1f s " +
              f"(first build $goldSec%.1f s)")
          s""","gold_fresh_rebuild":{${rcFresh.flatJson("total", nCpu)},"pipelines":{${pipeJson(freshStats)}}}"""
        } catch { case e: Throwable =>
          System.err.println(s"[bench] e2e.gold fresh rebuild FAILED: ${e.getMessage}")
          ""
        }
        val goldJson =
          s""","gold":{${rcGold.flatJson("total", nCpu)},"pipelines":{${pipeJson(goldStats)}},${rcRerun.metaJson("rerun", nCpu)}}$goldFresh"""

        // SLA evaluation against the freshly built warehouse: healthy
        // "now" = newest event_ts + 1 min (all 16 pipelines inside the
        // 15-min freshness budget), lagged "now" = +45 min (past 2×
        // threshold → critical). 0 criticals healthy / ≥1 lagged is
        // the monitoring contract, recorded not assumed. Runs BEFORE
        // the BI server (whose thrift stack flips datetime.java8API,
        // which would break freshness's getTimestamp reads).
        import graft.pipelines.Monitoring
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
        val slaJson =
          s""","sla":{"healthy_alerts":${healthy.size},"healthy_critical":$hCrit,"lagged_alerts":${lagged.size},"lagged_critical":$lCrit}"""

        // BI surface round-trip: gold views through the Thrift
        // endpoint, a real Hive JDBC client, one acceptance-shaped
        // dim-join aggregate — connect and query latencies recorded.
        val java8Before = spark.conf
          .getOption("spark.sql.datetime.java8API.enabled").getOrElse("false")
        var biConnectSec = -1.0
        var biQuerySec = -1.0
        val biJson: String = try {
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
              biConnectSec = connectSec
              biQuerySec = querySec
              System.err.println(
                f"[bench] e2e.bi: JDBC connect $connectSec%.2f s, dim-join " +
                  f"aggregate $querySec%.2f s ($groups groups / $events events)")
              f""","bi":{"connect_sec":$connectSec%.3f,"query_sec":$querySec%.3f,"groups":$groups,"events":$events}"""
            } finally conn.close()
          } finally {
            server.stop()
            spark.conf.set("spark.sql.datetime.java8API.enabled", java8Before)
          }
        } catch { case e: Throwable =>
          System.err.println(s"[bench] e2e.bi FAILED: ${e.getMessage}")
          spark.conf.set("spark.sql.datetime.java8API.enabled", java8Before)
          ""
        }

        val freshC =
          if (goldFreshSec < 0) "" else f""","gold_fresh_sec":$goldFreshSec%.3f"""
        val biC =
          if (biQuerySec < 0) ""
          else f""","bi_connect_sec":$biConnectSec%.3f,"bi_query_sec":$biQuerySec%.3f"""
        e2eCompact =
          f""","e2e":{"ingest_events_per_sec":${e2eEvents / ingestSec}%.0f,"gold_sec":$goldSec%.3f$freshC,"rerun_appended":$rerunAppended,"sla_healthy_critical":$hCrit,"sla_lagged_critical":$lCrit$biC}"""
        f""","e2e":{"events":$e2eEvents,"ingest_mode":"checkpointed_stream","ingest_batches":$nBatches,"ingest_sec":$ingestSec%.3f,"ingest_events_per_sec":${e2eEvents / ingestSec}%.0f,"gold_16_pipelines_sec":$goldSec%.3f,"gold_rerun_sec":$rerunSec%.3f,"rerun_appended":$rerunAppended$goldJson$slaJson$biJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] e2e FAILED: ${e.getMessage}")
        ""
      }

    // streaming-curation + drift throughput: the batch-twin oracles
    // prove WHAT the streaming operators compute; this records how
    // fast the streaming machinery itself moves documents — curation
    // (langid/quality/gopher/redact, two idempotent sinks) and the
    // per-batch drift monitor, both drained via AvailableNow
    // micro-batches over a checkpointed source.
    val e2eStreamOn =
      !sys.env.get("SPARK_GRAFT_E2E_STREAM").contains("0")
    val e2eStream: String =
      if (only.isDefined || !e2eStreamOn) ""
      else try {
        import org.apache.spark.sql.streaming.Trigger
        val docs = core.Tables.load(spark, sfDir, "documents")
          .select("doc_id", "text")
        val nDocs = docs.count()
        val srcDir = java.nio.file.Files
          .createTempDirectory("graft_es_src").toString
        docs.repartition(8).write.mode("overwrite").parquet(srcDir)
        val schema = spark.read.parquet(srcDir).schema
        def src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "2").parquet(srcDir)
        val base = java.nio.file.Files
          .createTempDirectory("graft_es").toString
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
        // preference-leaderboard twin (round-10 stretch 6): a derived
        // (winner, loser) comparison log streams through
        // PreferenceStream's partial-pair-count store, then the read-
        // time fold+fit must be INTEGER-IDENTICAL to the batch
        // Bradley-Terry over the same log — throughput AND the
        // stream≡batch contract, receipted from a live checkpointed run
        val prefJson: String = try {
          val types = array(lit("view"), lit("click"), lit("purchase"),
            lit("signup"), lit("error"))
          val cmp = core.Tables.load(spark, sfDir, "events")
            .select(col("event_type").as("winner"),
              element_at(types,
                (pmod(hash(col("event_id") * 17L), lit(5)) + 1).cast("int"))
                .as("loser"))
            .filter(col("winner") =!= col("loser"))
          val nCmp = cmp.count()
          val prefSrc = java.nio.file.Files
            .createTempDirectory("graft_es_pref").toString
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
          f""","preference":{"comparisons":$nCmp,"sec":$prefSec%.3f,"comparisons_per_sec":${nCmp / prefSec}%.0f,"batches":$prefBatches,"items":${streamFit.size},"fit_equal":$fitEqual}"""
        } catch { case e: Throwable =>
          System.err.println(
            s"[bench] e2e_stream.preference FAILED: ${e.getMessage}")
          ""
        }
        System.err.println(
          f"[bench] e2e_stream: $nDocs docs curated in $curSec%.1f s " +
            f"($curBatches batches, ${nDocs / curSec}%.0f docs/s; " +
            f"$accepted accepted / $rejected rejected); LM-gated " +
            f"$curLmSec%.1f s (${nDocs / curLmSec}%.0f docs/s, " +
            f"$acceptedLm accepted); drift " +
            f"$driftSec%.1f s, $driftRows metric rows")
        e2eStreamCompact =
          f""","e2e_stream":{"curation_docs_per_sec":${nDocs / curSec}%.0f,"curation_lm_docs_per_sec":${nDocs / curLmSec}%.0f,"drift_sec":$driftSec%.3f}"""
        f""","e2e_stream":{"docs":$nDocs,"curation_sec":$curSec%.3f,"curation_docs_per_sec":${nDocs / curSec}%.0f,"curation_batches":$curBatches,"accepted":$accepted,"rejected":$rejected,"curation_lm_sec":$curLmSec%.3f,"curation_lm_docs_per_sec":${nDocs / curLmSec}%.0f,"accepted_lm":$acceptedLm,"drift_sec":$driftSec%.3f,"drift_metric_rows":$driftRows$prefJson}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] e2e_stream FAILED: ${e.getMessage}")
        ""
      }

    // LLM training-data chain at factor×: the full curate → near-dup
    // keep-best → decontaminate → shuffle/pack path (the l28/l58/l59/
    // l46+packSequences shapes CHAINED, each stage boundary
    // materialized via eager localCheckpoint and receipted with its
    // row count) at sf base and factor× documents. The synth
    // rehearsals above time operators singly; this proves the STAGE
    // SEAMS — what each stage hands the next, and what that handoff
    // costs — stay flat when the corpus grows (round-8 stretch 7).
    val chainFactor =
      sys.env.getOrElse("SPARK_GRAFT_CHAIN_FACTOR", "10").toInt
    val chain: String =
      if (only.isDefined || chainFactor <= 1) ""
      else try {
        // the eval benchmark is FIXED (drawn from the base corpus, the
        // l22/l59 prefix construction) — a real benchmark doesn't grow
        // with the training corpus, and a corpus-relative one would
        // contaminate ~everything at 10× (each doc's 10 variants share
        // its prefix), starving the downstream stages of rows
        val chainBench = core.Tables.load(spark, sfDir, "documents")
          .filter(col("doc_id") % 97 === 0)
          .select(col("doc_id"), substring(col("text"), 1, 150)
            .as("text"))
        def runChain(tag: String, d: String): Option[String] = try {
          spark.catalog.clearCache()
          val docs = core.Tables.load(spark, d, "documents")
            .select("doc_id", "text")
          val bench = chainBench
          val stages = scala.collection.mutable.ArrayBuffer[String]()
          var totalSec = 0.0
          def staged(name: String)(
              mk: => org.apache.spark.sql.DataFrame)
              : org.apache.spark.sql.DataFrame = {
            val ((out, rows), rc) = receiptOf {
              val f = mk.localCheckpoint(true)
              (f, f.count())
            }
            totalSec += rc.wall
            stages += s""""$name":{"rows":$rows,${rc.flatJson("sec", nCpu)}}"""
            out
          }
          val curated = staged("curate") {
            streaming.CurationStream.curate(docs, "text")
              .filter(col("accepted"))
              .select("doc_id", "text")
          }
          val deduped = staged("dedup_keep_best") {
            val pairs = operators.Dedup
              .minhashCandidates(curated, "text", "doc_id")
              .filter(col("jaccard") >= 0.8)
            operators.Dedup.keepBestPerCluster(curated, pairs, "doc_id",
                size(graft.functions.TextFunctions.tokens(col("text"))))
              .select("doc_id", "text")
          }
          val clean = staged("decontaminate") {
            // the l22 containment rule (>= 0.5 of a benchmark item's
            // grams), not the bloom any-gram hard filter: the synthetic
            // corpus has a ~31-word vocabulary, so any-gram contact
            // flags ~everything and would starve the pack stage of rows
            val contaminated = operators.Dedup.containmentPairs(deduped,
                bench, "text", "doc_id", n = 3, minContainment = 0.5)
              .select(col("doc_id")).distinct()
            deduped.join(contaminated, Seq("doc_id"), "left_anti")
          }
          // budget apportionment over the surviving corpus (l104): the
          // recipe-audit step a real run does before packing — exact
          // integer quotas per source that sum to the budget. Output is
          // #sources rows; the cost that must stay flat at 10× is the
          // one map-side-combined aggregate over the cleaned corpus
          val apportioned = staged("apportion_budget") {
            operators.Curation.apportionTokens(
              clean.withColumn("n_tokens",
                size(graft.functions.TextFunctions.tokens(col("text")))
                  .cast("long"))
                .join(core.Tables.load(spark, d, "documents")
                  .select("doc_id", "source"), Seq("doc_id")),
              "source", col("n_tokens"), budget = 10000000L)
          }
          // fractional-epoch upsampling (l117): the mix-recipe step a
          // real run applies between decontamination and packing —
          // src0 ×2.3, src1 ×0.4, the rest ×1.0. Map-only explode, so
          // 10× docs must cost scan + output volume and nothing else;
          // every stage downstream packs the REPLICATED corpus, keyed
          // on (doc_id, copy_no) so copies interleave across shards
          val upsampled = staged("epoch_upsample") {
            operators.Curation.epochUpsample(
              clean.join(core.Tables.load(spark, d, "documents")
                .select("doc_id", "source"), Seq("doc_id")),
              col("doc_id"), "source",
              Map("src0" -> 2.3, "src1" -> 0.4), seed = 9)
              .select(concat_ws(":", col("doc_id"), col("copy_no"))
                .as("rep_id"), col("doc_id"), col("text"))
          }
          val packed = staged("shuffle_pack") {
            val withTok = upsampled.withColumn("n_tokens",
              size(graft.functions.TextFunctions.tokens(col("text")))
                .cast("long"))
            val sh = operators.Curation.epochShuffle(withTok,
              col("rep_id"), numShards = 32, seed = 9)
            operators.Curation.packSequences(sh, "n_tokens", "shard_pos",
              budget = 2048, groupCols = Seq("shard"))
          }
          // length-grouped batching (l108) over the same sharded corpus:
          // one window sort per shard — shards parallelize, so 10× docs
          // must cost ~sort growth, never a global single-partition sort
          val batched = staged("length_batch") {
            val withTok = upsampled.withColumn("n_tokens",
              size(graft.functions.TextFunctions.tokens(col("text")))
                .cast("long"))
            val sh = operators.Curation.epochShuffle(withTok,
              col("rep_id"), numShards = 32, seed = 9)
            operators.Curation.lengthBatches(sh, "n_tokens", "rep_id",
              batchSize = 16, groupCols = Seq("shard"))
          }
          val nBatched = batched.select(col("shard"), col("batch_id"))
            .distinct().count()
          val nSources = apportioned.count()
          val nPacks = packed.select(col("shard"), col("pack_id"))
            .distinct().count()
          val nDocs = docs.count()
          System.err.println(f"[bench] e2e_chain $tag: $nDocs%d docs -> " +
            f"$nPacks%d packs / $nBatched%d length-batches / " +
            f"$nSources%d source quotas in $totalSec%.1f s")
          Some(s""""$tag":{"docs":$nDocs,"packs":$nPacks,"length_batches":$nBatched,"sources":$nSources,""" +
            f""""total_sec":$totalSec%.3f,${stages.mkString(",")}}""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] e2e_chain($tag) FAILED: ${e.getMessage}")
          None
        }
        val dirC = java.nio.file.Files
          .createTempDirectory("graft_chain").toString
        sources.SyntheticDocs.materialize(spark, sfDir, dirC, chainFactor)
        (for {
          b <- runChain("base", sfDir)
          g <- runChain(s"grown_x$chainFactor", dirC)
        } yield s""","e2e_chain":{"factor":$chainFactor,$b,$g}""")
          .getOrElse("")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] e2e_chain FAILED: ${e.getMessage}")
        ""
      }

    // sequential-analytics growth rehearsal: funnel, sequence match
    // and PageRank are linear in events/edges (funnel: one shrinking
    // aggregation per step; sequence match: one window pass; pagerank:
    // |E| contributions per round over a cached edge list) — rehearse
    // that claim at factor× deterministic synthetic events, output
    // cardinality recorded next to wall time.
    val synthEvFactor =
      sys.env.getOrElse("SPARK_GRAFT_SYNTHEV_FACTOR", "10").toInt
    val synthEv: String =
      if (only.isDefined || synthEvFactor <= 1) ""
      else try {
        val baseN = core.Tables.load(spark, sfDir, "events").count()
        val dir = java.nio.file.Files
          .createTempDirectory("graft_synth_ev").toString
        val n = baseN * synthEvFactor
        // user count scales with volume (same events-per-user density
        // as the driver tables), so per-key state doesn't thin out
        val users = math.max(1L, n / 67L)
        spark.range(n).select(
          col("id").as("event_id"),
          to_timestamp(from_unixtime(lit(1704067200L) +
            pmod(hash(col("id")), lit(2592000)))).as("ts"),
          pmod(hash(col("id") * 13L), lit(users)).cast("long").as("user_id"),
          element_at(array(lit("view"), lit("click"), lit("purchase"),
            lit("signup"), lit("error")),
            (pmod(hash(col("id") * 7L), lit(5)) + 1).cast("int"))
            .as("event_type"),
          (pmod(hash(col("id") * 3L), lit(10000)).cast("double") / 100.0)
            .as("value"),
          format_string("{\"k\": %d}",
            pmod(hash(col("id") * 31L), lit(100))).as("props"))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
        def countTimed(label: String, q: String, d: String)
            : Option[(Long, Receipt)] = {
          spark.catalog.clearCache()
          try Some(receiptOf(SparkEntry.queries(q)(spark, d).count()))
          catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val entries = Seq(
          ("h9g_funnel", "h9_funnel"),
          ("h11g_seq_match", "h11_seq_match"),
          ("l81g_pagerank", "l81_pagerank"),
          // round-6 event-table ops: parity funnel (combiner DP is
          // linear in matched events), HLL state flow (state size is
          // CONSTANT — growth should cost only the scan), triangles
          // (wedge volume bounded by the fixed 100-node key space)
          ("h18g_funnel_max", "h18_funnel_max"),
          ("d15g_hll_state", "d15_hll_state"),
          ("l87g_triangles", "l87_triangles"),
          // round-6 event-table ops: Spearman (two per-group rank
          // sorts — the cost class under test), LTTB (per-series
          // sequential scan, output fixed at B points), skew/kurt
          // (one map-side-combined power-sum agg — growth should
          // cost only the scan)
          ("h30g_spearman", "h30_spearman"),
          ("h32g_lttb", "h32_lttb"),
          ("h33g_skew_kurt", "h33_skew_kurt"),
          // this round's event ops: EMA (map-side-combined long sums
          // — growth should cost only the scan) and period detect
          // (the lag-exploded join runs on the BUCKETED domain, so
          // 10x events with the same time span should grow ~nothing)
          ("h38g_ema", "h38_ema"),
          ("h39g_period_detect", "h39_period_detect"),
          // this round's event ops: strict funnels (order mode buffers
          // ALL events as step-0 markers — the mode's documented cost,
          // rehearsed here), exact bitmap audience (state bounded by
          // distinct users, which scales WITH volume here — the honest
          // worst case), and the geo band scan (pure map-side column
          // algebra — growth should cost only the scan)
          ("h45g_funnel_order", "h45_funnel_strict_order"),
          ("d28g_bitmap", "d28_bitmap_audience"),
          ("h48g_geo_distance", "h48_geo_distance"),
          // gap-chain DP (per-group achieved-time lists — the
          // n·(log n + K) cost class under test)
          ("h52g_seq_chain", "h52_sequence_chain"),
          // strict-max funnel: three per-anchor walk modes in one
          // aggregation, order mode buffering step-0 markers — the
          // sort + walk cost class under test
          ("h58g_funnel_strict_max", "h58_funnel_strict_max"),
          // round-8 event ops: sign-collapsing (one map-side-combined
          // hash agg each — growth should cost only the scan; the
          // ledger construction's lag window is the d35 cost class)
          ("d35g_collapsing", "d35_collapsing_final"),
          ("d36g_versioned", "d36_versioned_collapse"),
          // funnel latency: the K-round shrinking aggregation plus one
          // per-step sort of CONVERTED users only
          ("h63g_funnel_latency", "h63_funnel_latency"),
          // round-10: Bradley-Terry — the heavy pass is the per-user
          // self-join (pairs scale with Σ n_user², here linear since
          // events-per-user density is held constant) + one pair-count
          // aggregation; the fit itself runs on the ≤items² matrix and
          // must not grow at all
          ("l118g_bt_preference", "l118_bt_preference"),
          // label-disagreement audit: one (item,label) count shuffle,
          // windows over CELLS — 10× ratings over a fixed item space
          // must cost only the count scan
          ("l120g_label_disagreement", "l120_label_disagreement"),
          // round-11: capped pair implication — the portable-rank cut
          // bounds every group at C(R,2) pairs, so 10× events (10×
          // groups at constant density) must grow ~linearly in the
          // rank window + join, never in pair fan-out
          ("l126g_capped_pairs", "l126_capped_pairs"))
          .flatMap { case (nm, q) =>
            for {
              (nb, rb) <- countTimed(s"synthE:$nm(base)", q, sfDir)
              (ng, rg) <- countTimed(s"synthE:$nm(x$synthEvFactor)", q, dir)
            } yield {
              System.err.println(f"[bench] synthE x$synthEvFactor $nm%-18s " +
                f"base $nb%7d rows/${rb.wall}%5.2f s -> grown $ng%8d rows/" +
                f"${rg.wall}%5.2f s (ratio ${rg.wall / rb.wall}%.1fx)")
              // the pagerank entry carries its OWN growth attribution:
              // iterations and the edge counts it ran over (edges per
              // dir = events - distinct users: one lag edge per event
              // with a predecessor), so super-linearity, if it ever
              // returns, is attributable to |E| from this entry alone
              val extra = if (nm != "l81g_pagerank") "" else try {
                def edgesOf(d: String): Long = {
                  val ev = core.Tables.load(spark, d, "events")
                  val r = ev.agg(count(lit(1)).as("n"),
                    countDistinct(col("user_id")).as("u")).collect().head
                  r.getLong(0) - r.getLong(1)
                }
                s""","iters":3,"base_edges":${edgesOf(sfDir)},"grown_edges":${edgesOf(dir)}"""
              } catch { case e: Throwable =>
                System.err.println(s"[bench] l81g edges FAILED: ${e.getMessage}")
                ""
              }
              s""""$nm":{"base_rows":$nb,${rb.flatJson("base", nCpu)},""" +
                s""""grown_rows":$ng,${rg.flatJson("grown", nCpu)}$extra}"""
            }
          }
        // hot-entity strict_order rehearsal (round-7 item 4): ONE user
        // owns half the events, so its marker buffer is ~n/2 packed
        // longs — the mode's documented worst case, exercised well
        // under the default 4M cap and receipted at both scales. The
        // count proves the funnel ran (level rows over all users).
        def hotTimed(label: String, rows: Long): Option[(Long, Receipt)] = {
          spark.catalog.clearCache()
          try Some(receiptOf {
            val users = math.max(2L, rows / 67L)
            val df = spark.range(rows).select(
              when(col("id") % 2 === 0, lit(0L))
                .otherwise(pmod(hash(col("id") * 13L), lit(users))
                  .cast("long")).as("user_id"),
              to_timestamp(from_unixtime(lit(1704067200L) +
                pmod(hash(col("id")), lit(2592000)))).as("ts"),
              element_at(array(lit("view"), lit("click"), lit("purchase"),
                lit("signup"), lit("error")),
                (pmod(hash(col("id") * 7L), lit(5)) + 1).cast("int"))
                .as("event_type"))
            operators.Funnel.windowFunnelStrict(df, "user_id", "ts",
              Seq(col("event_type") === "view",
                col("event_type") === "click",
                col("event_type") === "purchase"),
              windowSec = 86400L, strictOrder = true).count()
          }) catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val hotEntry = (for {
          (nb, rb) <- hotTimed("synthE:h45h(base)", baseN)
          (ng, rg) <- hotTimed(s"synthE:h45h(x$synthEvFactor)", n)
        } yield {
          System.err.println(f"[bench] synthE x$synthEvFactor " +
            f"h45h_funnel_order_hotkey base $nb%7d rows/${rb.wall}%5.2f s " +
            f"-> grown $ng%8d rows/${rg.wall}%5.2f s " +
            f"(ratio ${rg.wall / rb.wall}%.1fx; hot key holds half the events)")
          s""""h45h_funnel_order_hotkey":{"base_rows":$nb,${rb.flatJson("base", nCpu)},""" +
            s""""grown_rows":$ng,${rg.flatJson("grown", nCpu)}}"""
        }).toSeq
        // LPM at 10× events, counted on the PER-EVENT winner rows so
        // the receipt PROVES the grown dir was read (the suite query's
        // per-cidr aggregate would show the same 5 rows at any scale):
        // candidate-key explode + broadcast equi-join is map-side, so
        // growth should cost only the scan
        def lpmTimed(label: String, d: String): Option[(Long, Receipt)] = {
          spark.catalog.clearCache()
          try Some(receiptOf {
            val ev = core.Tables.load(spark, d, "events").withColumn("ip",
              concat_ws(".", lit(10),
                pmod(col("user_id"), lit(200L)).cast("int"),
                get_json_object(col("props"), "$.k").cast("int"),
                pmod(col("event_id"), lit(250L)).cast("int")))
            import spark.implicits._
            val routes = Seq("0.0.0.0/0", "10.0.0.0/8", "10.64.0.0/10",
              "10.64.0.0/17", "10.100.0.0/14", "10.199.77.0/24")
              .toDF("cidr")
            operators.Siem.lpmMatch(ev, "ip", routes,
              Seq("event_id", "user_id")).count()
          }) catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val lpmEntry = for {
          (nb, rb) <- lpmTimed("synthE:h59g_lpm(base)", sfDir)
          (ng, rg) <- lpmTimed(s"synthE:h59g_lpm(x$synthEvFactor)", dir)
        } yield {
          System.err.println(f"[bench] synthE x$synthEvFactor h59g_lpm_winners " +
            f"base $nb%7d rows/${rb.wall}%5.2f s -> grown $ng%8d rows/" +
            f"${rg.wall}%5.2f s (ratio ${rg.wall / rb.wall}%.1fx)")
          s""""h59g_lpm_winners":{"base_rows":$nb,${rb.flatJson("base", nCpu)},""" +
            s""""grown_rows":$ng,${rg.flatJson("grown", nCpu)}}"""
        }
        // 128-bit twin (round-7 item 7): lpm6's ≤129-length explode is
        // the more expensive candidate shape (here 7 lengths vs v4's 6,
        // but each key is a (plen, hi, lo) triple and parsing runs the
        // Ipv6Pair expression) — same per-event winner count so the
        // receipt proves the grown dir was read
        def lpm6Timed(label: String, d: String): Option[(Long, Receipt)] = {
          spark.catalog.clearCache()
          try Some(receiptOf {
            val ev = core.Tables.load(spark, d, "events").withColumn("ip",
              when(col("event_id") % 2 === 0,
                concat(lit("2001:db8:"),
                  lower(conv(pmod(col("user_id"), lit(16)), 10, 16)),
                  lit("::"),
                  lower(conv(pmod(col("event_id"), lit(65536)), 10, 16))))
              .otherwise(concat_ws(".", lit(10), lit(1),
                pmod(col("user_id"), lit(200)).cast("int"),
                pmod(col("event_id"), lit(250)).cast("int"))))
            import spark.implicits._
            val routes = Seq("::/0", "2001:db8::/32", "2001:db8::/45",
              "2001:db8:5::/48", "2001:db8:5::/112",
              "2001:db8:5::ff00/120", "::ffff:a01:0/112").toDF("cidr")
            operators.Siem.lpm6Match(ev, "ip", routes,
              Seq("event_id", "user_id")).count()
          }) catch { case e: Throwable =>
            System.err.println(s"[bench] $label FAILED: ${e.getMessage}")
            None
          }
        }
        val lpm6Entry = for {
          (nb, rb) <- lpm6Timed("synthE:h60g_lpm6(base)", sfDir)
          (ng, rg) <- lpm6Timed(s"synthE:h60g_lpm6(x$synthEvFactor)", dir)
        } yield {
          System.err.println(f"[bench] synthE x$synthEvFactor h60g_lpm6_winners " +
            f"base $nb%7d rows/${rb.wall}%5.2f s -> grown $ng%8d rows/" +
            f"${rg.wall}%5.2f s (ratio ${rg.wall / rb.wall}%.1fx)")
          s""""h60g_lpm6_winners":{"base_rows":$nb,${rb.flatJson("base", nCpu)},""" +
            s""""grown_rows":$ng,${rg.flatJson("grown", nCpu)}}"""
        }
        // the pair-implication cap's IO-honesty receipt (round-10
        // finding 2): implied pairs (what the uncapped join would
        // fan out to) vs the capped emission bound, at base and grown
        // volume — the cut is auditable from the artifact, never silent
        val censusEntry: Seq[String] = try {
          def censusOf(d: String): String = {
            val r = operators.Preference.pairCensus(
              core.Tables.load(spark, d, "events"), "user_id",
              maxPairsPerGroup = 45).collect().head
            s"""{"groups":${r.getLong(0)},"rows":${r.getLong(1)},"implied_pairs":${r.getLong(2)},"emitted_pair_bound":${r.getLong(3)}}"""
          }
          val base = censusOf(sfDir); val grown = censusOf(dir)
          System.err.println(s"[bench] synthE pair_census(cap=45) " +
            s"base $base grown $grown")
          Seq(s""""pair_census_cap45":{"base":$base,"grown":$grown}""")
        } catch { case e: Throwable =>
          System.err.println(s"[bench] pair census FAILED: ${e.getMessage}")
          Seq.empty
        }
        val allEntries = entries ++ hotEntry ++
          lpmEntry.toSeq ++ lpm6Entry.toSeq ++ censusEntry
        if (allEntries.isEmpty) ""
        else s""","synth_events":{"factor":$synthEvFactor,"events":$n,${allEntries.mkString(",")}}"""
      } catch { case e: Throwable =>
        System.err.println(s"[bench] synthE rehearsal FAILED: ${e.getMessage}")
        ""
      }

    // salted-skew-join rehearsal under REAL skew (c12's reason to
    // exist): a synthetic big side with 90% of its mass on one hot key
    // joins a 1000-key dim, broadcast and AQE skew-mitigation OFF so
    // the raw shuffle-join straggler is visible, then the same join
    // through Skew.saltedJoin. Max/median task time shows the
    // straggler collapse; row counts prove result equality.
    val skewRows = sys.env.getOrElse("SPARK_GRAFT_SKEW_ROWS", "20000000").toLong
    val skew: String =
      if (only.isDefined || skewRows <= 0) ""
      else try skewRehearsal(spark, skewRows, nCpu)
      catch { case e: Throwable =>
        System.err.println(s"[bench] c12g skew rehearsal FAILED: ${e.getMessage}")
        ""
      }

    // end-of-suite AGED-JVM re-time of the heavy tail: if these match
    // the in-suite medians, suite position / JVM aging does not explain
    // a slow recorded run (points at box load); if they are faster,
    // the JVM aged. Either way the artifact answers it. Tail = top 8
    // by median UNION everything over 2 s — round 8's unexplained
    // l67/l66 inflation sat exactly in the >2 s band the fixed top-8
    // could miss, so the band itself is now the contract.
    val heavyMedians = results.collect { case (k, Some(v), _) => (k, v) }
      .sortBy(-_._2)
    val heavyNames =
      (heavyMedians.take(8) ++ heavyMedians.filter(_._2 > 2.0))
        .map(_._1).distinct
    val retime: String =
      if (only.isDefined) ""
      else {
        val items = heavyNames.flatMap { nm =>
          SparkEntry.queries.get(nm).flatMap { fn =>
            timeOnce(s"retime:$nm", fn).map(t => "\"" + nm + f"\":$t%.3f")
          }
        }
        if (items.isEmpty) "" else s""","retime_aged_jvm":{${items.mkString(",")}}"""
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
    val receipts: String = {
      val items =
        (heavyMedians.take(12) ++ heavyMedians.filter(_._2 > 2.0))
          .distinct.flatMap { case (nm, med) =>
          val reps = repReceipts.synchronized {
            repReceipts.filter(_._1 == nm).toSeq
          }
          reps.minByOption(r => math.abs(r._2 - med)).map { case (_, w, c, g) =>
            val util = if (w > 0) c / (w * nCpu) else 0.0
            val repsJson = reps.map { case (_, w2, c2, g2) =>
              f"""{"wall":$w2%.3f,"cpu":$c2%.3f,"gc":$g2%.3f}"""
            }.mkString("[", ",", "]")
            "\"" + nm + f"""":{"wall":$w%.3f,"cpu":$c%.3f,"gc":$g%.3f,"util":$util%.3f,"reps":$repsJson}"""
          }
        }
      if (items.isEmpty) "" else s""","receipts":{${items.mkString(",")}}"""
    }
    val envFields = {
      val heapGb = Runtime.getRuntime.maxMemory / 1e9
      f""""cpus":$nCpu,"load_avg_start":$loadStart%.2f,"load_avg_end":$loadAvg%.2f,"gc_total_sec":$gcSecNow%.1f,"heap_max_gb":$heapGb%.1f"""
    }
    val envJson = s""","env":{$envFields}"""
    // the full artifact also records the session confs the suite ran
    // under; the compact line stays within its 1800-char bound
    val sessionConfs = new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValueAsString(ListMap(core.GraftSession.confs: _*).asJava)

    val fullJson = f"""{"metric":"suite_total","value":$total%.3f,"unit":"sec","queries":$qs,"failed":$failed,"failed_reps":$failedReps,"sf":"$sfDir","reps":$reps$stagingJson$synth$e2e$e2eStream$chain$synthEv$skew$retime$receipts,"env":{$envFields,"session_confs":$sessionConfs}}"""
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
    val okCount = results.count(_._2.nonEmpty)
    val heavy0 = results.collect { case (k, Some(v), _) => (k, v) }.sortBy(-_._2).take(12)
    println(compactLine(total, sfDir, reps, results.size, okCount, failed,
      failedReps, heavy0, e2eCompact, e2eStreamCompact, envJson))
    if (results.exists(_._2.isEmpty)) { spark.stop(); sys.exit(1) }
    spark.stop()
  }

  /** Compact one-line stdout artifact for the driver's ~2000-char tail
    * capture window. Carries ONLY fixed-size scalars: suite totals, the
    * heaviest query medians, the scalar e2e / e2e_stream headline twins,
    * and env. Per-query reps and per-pipeline gold receipts live in
    * BENCH_FULL.json / stderr — round 10 embedded the full e2e block
    * here and re-triggered the rounds-1-5 parsed:null head truncation.
    * CompactLineSpec asserts the 1800-char bound against a worst-case
    * block set so the regression cannot recur silently.
    */
  def compactLine(total: Double, sfDir: String, reps: Int, nQueries: Int,
      nOk: Int, failed: String, failedReps: Int,
      heavy0: Seq[(String, Double)], e2eCompact: String,
      e2eStreamCompact: String, envJson: String): String = {
    var heavy = heavy0
    def compact: String = {
      val hq = heavy.map { case (k, v) => "\"" + k + f"\":$v%.3f" }.mkString("{", ",", "}")
      f"""{"metric":"suite_total","value":$total%.3f,"unit":"sec","sf":"$sfDir","reps":$reps,"n_queries":$nQueries,"n_ok":$nOk,"failed":$failed,"failed_reps":$failedReps,"queries":$hq,"queries_truncated_to_heaviest":${heavy.size},"detail":"BENCH_FULL.json"$e2eCompact$e2eStreamCompact$envJson}"""
    }
    while (compact.length > 1800 && heavy.nonEmpty) heavy = heavy.dropRight(1)
    compact
  }
}
