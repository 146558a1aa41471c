package graft

import org.apache.spark.sql.functions._

/** Physical-plan shape assertions — the 100 TB posture is enforced, not
  * hoped for: filters reach the parquet scan, dim joins broadcast, scans
  * prune columns. (SURVEY.md §4.)
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("window filter pushes down to the parquet scan") {
    val df = core.Tables.load(spark, sf, "lineitem")
      .filter(col("l_shipdate") >= lit("1995-01-01"))
      .select("l_orderkey")
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"))
    // column pruning: only the two referenced columns are read
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_shipdate:timestamp"))
  }

  test("a9 projection query scans the summary, never documents.parquet") {
    val q = queries.Suite.queries("a9_projection_rewrite")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("graft_proj"),
      s"must read the registered projection summary:\n$plan")
    assert(!plan.contains("documents.parquet"),
      s"base table must not be scanned:\n$plan")
  }

  test("fact->dim hash-key joins broadcast (no fact shuffle)") {
    val q = queries.Suite.queries("c4_hashkey_join")(spark, sf)
    val plan = planOf(q)
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("asof broadcast variant broadcasts the version side") {
    val ev = core.Tables.load(spark, sf, "events")
    val errs = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("vts"), col("event_id").as("v"))
    val plan = planOf(operators.AsOfJoin.broadcast(errs, signups,
      Seq("user_id"), "ts", "vts"))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"))
  }

  test("asof merge null bypass splits around the window shuffle") {
    val ev = core.Tables.load(spark, sf, "events")
    val errs = ev.select(col("user_id"), col("ts"), col("event_id"))
    val signups = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("vts"), col("event_id").as("v"))
    val plan = planOf(operators.AsOfJoin.merge(errs, signups,
      Seq("user_id"), "ts", "vts", nullKeysMatch = false))
    // null-keyed facts union back around the window; the shuffled
    // branch only ever sees non-null keys (no mega null partition)
    assert(plan.contains("Union"))
    assert(plan.toLowerCase.contains("isnotnull(user_id"))
  }

  test("whole-stage codegen covers the aggregation path") {
    val q = queries.Suite.queries("b1_window_filter")(spark, sf)
    q.collect() // AQE finalizes per-stage plans (incl. codegen) on execution
    assert(planOf(q).contains("*(")) // WSCG stages print as *(n)
  }

  test("sessionize shuffles and sorts once (windows share the clustering)") {
    val ev = core.Tables.load(spark, sf, "events")
    val df = operators.Curation.sessionize(ev, Seq("user_id"), "ts", 3600)
    // lag -> running-sum is a data dependency (two Window nodes) but the
    // second reuses the first's partitioning+sort: exactly one of each
    val plan = planOf(df)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1)
    assert("\\+- Sort ".r.findAllIn(plan).size == 1)
    assert("Window ".r.findAllIn(plan).size == 2)
  }

  test("hashSample filter evaluates scan-side with pruned columns") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.hashSample(docs, col("doc_id"), 0.25, 1L)
      .select("doc_id")
    val plan = planOf(df)
    // no shuffle at all: a sample is a map-side filter
    assert(!plan.contains("Exchange"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"))
  }

  test("portable sample filter evaluates scan-side with pruned columns") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.hashSamplePortable(docs, col("doc_id"), 0.25, 1L)
      .select("doc_id")
    val plan = planOf(df)
    // same contract as hashSample: pure map-side filter, no shuffle,
    // scan reads only the key column
    assert(!plan.contains("Exchange"))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint>"))
    assert(plan.contains("DataFilters: [(cast(conv(substring(md5("))
  }

  test("paragraph dedup pre-combines winners map-side (2 shuffles total)") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Dedup.paragraphDedup(docs, "text", "doc_id"))
    // the first-occurrence winner must be a PARTIAL min(struct) BEFORE
    // the paragraph shuffle — a mega-duplicated boilerplate paragraph
    // collapses to one row per map partition instead of all copies
    // crossing the wire into one window task
    val partialIdx = plan.indexOf("partial_min(struct(doc_id")
    val exchangeIdx = plan.indexOf("Exchange hashpartitioning(__p")
    assert(partialIdx >= 0 && exchangeIdx >= 0 && partialIdx > exchangeIdx,
      s"partial winner agg must sit below its exchange:\n$plan")
    // exactly two shuffles: by paragraph (winners), then by doc (rebuild)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 2, plan)
  }

  test("incremental dedup probe broadcasts batch bucket keys (no corpus shuffle)") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => operators.Dedup.buildIndex(
      ids.map(i => (i, s"doc number $i with some shared words here")).toDF("doc_id", "text"),
      "text", "doc_id")
    // materialize=false keeps the declarative plan for inspection (the
    // default eagerly checkpoints the candidate pairs, which collapses
    // the probe stage to an RDD scan — the selfContainmentPairs rule)
    val plan = planOf(operators.Dedup.incrementalCandidates(
      mk(Seq(100L, 101L)), mk(0L until 50L), materialize = false))
    // the old index is pruned to new-touched buckets via a BROADCAST
    // left-semi join before any aggregation: the census/star path must
    // never hash-shuffle the accumulated corpus per micro-batch
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"))
  }

  test("multi-field JSON extraction parses once per row (one JsonToStructs)") {
    import org.apache.spark.sql.catalyst.expressions.{GetJsonObject, JsonToStructs}
    import spark.implicits._
    def parses(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val exprs = df.queryExecution.optimizedPlan
        .collect { case p => p.expressions }.flatten
      (exprs.flatMap(_.collect { case j: JsonToStructs => j }).size,
        exprs.flatMap(_.collect { case g: GetJsonObject => g }).size)
    }
    // parquet-backed (a local Seq relation constant-folds the whole
    // projection away at optimization time)
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonplan").toString
    Seq("""{"suricata":{},"event":{"hash":"h1","provider":"wazuh"},"zeek":{}}""")
      .toDF("raw").write.mode("overwrite").parquet(dir)
    val raw = spark.read.parquet(dir)
    // 20-40 field chains, ONE parse; the only remaining per-path probes
    // are the routing predicates that gate the parse itself (≤ a
    // handful — nullif() expands its argument twice), never the O(40)
    // a per-field chain would show
    for (df <- Seq(ingest.Bronze.suricata(raw), ingest.Bronze.wazuh(raw),
        ingest.Bronze.zeek(raw))) {
      val (json, perPath) = parses(df)
      assert(json == 1, s"expected one JsonToStructs, got $json")
      assert(perPath <= 6, s"non-routing get_json_object probes: $perPath")
    }
    val (b4json, b4perPath) =
      parses(queries.Suite.queries("b4_json_fallback")(spark, sf))
    assert(b4json == 1 && b4perPath == 0)
  }

  test("bm25 restricts the index to query terms via broadcast, once") {
    val docs = core.Tables.load(spark, sf, "documents")
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        substring(col("text"), 1, 40).as("query_text"))
    val df = operators.Retrieval.bm25TopK(docs, queries, 5)
    val plan = planOf(df)
    // the corpus-sized postings meet the tiny query-term set with a
    // broadcast join — never a shuffle keyed on the full term set
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the restricted postings are cached: df-count and scoring reuse
    // one materialization instead of rebuilding the inverted index
    assert(plan.contains("InMemoryTableScan"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("within-doc line dedup is map-only (no exchange at all)") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.dedupLinesWithinDoc(docs, "text")
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), plan)
  }

  test("drift totals broadcast back; only (term, count) pairs shuffle") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.unigramDrift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
    val plan = planOf(df)
    // the 1-row totals meet the term table via broadcast, never a
    // shuffle keyed on the join of corpus-sized sides
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("hard negatives exclude positives via broadcast anti-join") {
    val docs = core.Tables.load(spark, sf, "documents")
    val queries = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"),
        substring(col("text"), 1, 40).as("query_text"))
    val pos = docs.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("doc_id"))
    val df = operators.Retrieval.hardNegatives(docs, queries, pos, 5)
    val plan = planOf(df)
    // the label set is broadcast against the candidate list — the
    // exclusion never shuffles candidates on the label keys
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("duplicate-span census and join-back share one span materialization") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Retrieval.duplicateSpans(docs, "text", "doc_id", 16)
    val plan = planOf(df)
    assert(plan.contains("InMemoryTableScan"), plan)
    // shuffle keys are (hash, id, offset) tuples — no cartesian, and
    // the window text itself never reaches an exchange
    assert(!plan.contains("CartesianProduct"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("decontamination broadcasts bench hashes; corpus text stays map-side") {
    val docs = core.Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), substring(col("text"), 1, 100).as("text"))
    val df = operators.Retrieval.removeContaminatedSpans(
      docs, bench, "text", "doc_id", 8)
    val plan = planOf(df)
    // the (tiny) benchmark hash set meets the corpus spans broadcast —
    // the corpus-sized side never shuffles for the contamination match
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloom decontam probes the sketch map-side; exact confirm broadcasts") {
    val docs = core.Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), substring(col("text"), 1, 100).as("text"))
    val df = operators.Dedup.bloomDecontaminate(
      docs, bench, "text", "doc_id", n = 3)
    val plan = planOf(df)
    // the sketch probe is a plain codegen'd filter expression — docs
    // it clears take the map-only clean branch, never the explode
    assert(plan.contains("bloom_might_contain_any"), plan)
    // the exact confirm joins the candidate sliver against the (tiny)
    // benchmark gram set by broadcast; corpus-sized sides never shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("heavy hitters recounts candidates via broadcast; no key-space sort-merge") {
    val docs = core.Tables.load(spark, sf, "documents")
    val toks = docs.select(explode(
      operators.Dedup.tokens(col("text"))).as("tok"))
    val df = operators.Curation.heavyHitters(toks, col("tok"),
      k = 10, width = 512)
    df.collect() // AQE finalizes the exchange plans
    val plan = planOf(df)
    // the exact recount joins the full token stream against the (tiny)
    // MG candidate set by broadcast — the token key space never feeds
    // a sort-merge exchange
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("binary ANN reranks via broadcast-back; vectors never sort-merge") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val plan = planOf(operators.Similarity.binaryTopK(emb, q, 5, 50))
    // tiny candidate set meets the corpus by id broadcast-side — the
    // full-precision vectors are fetched for rerank×queries rows only,
    // and nothing corpus-sized ever shuffles for a join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("epochShuffle is one exchange, partitioned by shard") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Curation.epochShuffle(
      docs.select("doc_id", "source"), col("doc_id"), 8, 3L))
    // the shard window's clustering IS the shard writer's layout:
    // exactly one shuffle, keyed on the shard id, then a per-shard sort
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("hashpartitioning(__shard"), plan)
  }

  test("dsirTopK takes global top-k with per-partition heaps, not a sort") {
    val docs = core.Tables.load(spark, sf, "documents")
    val lmT = operators.NgramLm.train(docs.filter(col("doc_id") % 2 === 0))
    val lmR = operators.NgramLm.train(docs)
    val plan = planOf(operators.NgramLm.dsirTopK(docs, lmT, lmR, 10))
    // orderBy().limit(k) must compile to TakeOrdered — the 100 TB draw
    // is per-partition heaps + driver merge, never a global sort shuffle
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("quantileBand approx path has no window sort; bounds broadcast back") {
    val docs = core.Tables.load(spark, sf, "documents")
    val scored = docs.select(col("doc_id"), col("source"),
      functions.TextFunctions.qualityScore(col("text")).as("q"))
    val plan = planOf(operators.Curation.quantileBandApprox(
      scored, Seq("source"), col("q"), 0.1, 0.9))
    // the fixed-memory path: approx_percentile aggregate + broadcast
    // join — no percent_rank window, no per-stratum global sort
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
    // the exact path does rank — one exchange for the stratum window
    val exact = planOf(operators.Curation.quantileBand(
      scored, Seq("source"), col("q"), 0.1, 0.9))
    assert(exact.contains("Window"), exact)
    assert("Exchange hashpartitioning".r.findAllIn(exact).size == 1, exact)
  }

  test("knnGraph routes centroids by broadcast and never goes cartesian") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val cents = operators.Similarity.seedCentroids(emb, 4)
    val cells = operators.Similarity.assignCells(emb, cents)
    val plan = planOf(operators.Similarity.knnGraph(cells, cents, 3, 2))
    // candidate generation is an equi-join on centroid_id — the corpus
    // meets itself through cell routing, never an all-pairs cross; the
    // nlist-bounded centroid table is the broadcast side (the
    // cells↔probes join is corpus×corpus-sized and is ALLOWED to
    // shuffle — at 100 TB neither side broadcasts)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("simhash pairs: hot census anti-joins broadcast-side off one cached fork") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Dedup.simhashPairs(docs, "text", "doc_id")
    val plan = planOf(df)
    // cap machinery present: the hot-bucket exclusion is a broadcast
    // anti-join (never a shuffle of members keyed on the hot list)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // census, both cold join sides and the star join read ONE cached
    // materialization — signatures are computed once; the remaining
    // exchanges move only the compact (id, sig, block) cached rows
    // (AQE-in-cache hides the cached layout from EnsureRequirements,
    // so exact exchange counts are version-brittle — the invariant is
    // the shared fork, not the count)
    assert(plan.contains("InMemoryTableScan"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("embedding near-dup pairs: hot census caps off one cached signature fork") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val df = operators.Dedup.embeddingNearDupPairs(emb, "vec_id",
      "embedding", dim = 64, threshold = 0.999)
    val plan = planOf(df)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("InMemoryTableScan"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("winnow overlap: boilerplate drop broadcasts off one cached fork") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Dedup.winnowOverlapPairs(docs, "text", "doc_id")
    val plan = planOf(df)
    // the df-census exclusion is a broadcast anti-join; census and both
    // inverted-index join sides read ONE cached fingerprint
    // materialization (text fingerprinted once, never re-exploded)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("InMemoryTableScan"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("int8 ANN: candidate scan reads only codes; rerank joins broadcast") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft_i8p")
      .toString + "/codes"
    operators.Similarity.int8Codes(emb).write.parquet(dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val df = operators.Similarity.int8TopK(emb, queries, 5, rerank = 20,
      codes = Some(spark.read.parquet(dir)))
    val s = planOf(df)
    // no sort-merge anywhere: candidates come off the code scan against
    // a broadcast query set; the rerank fetch broadcasts the tiny
    // candidate and query lists back onto the raw-vector table
    assert(!s.contains("SortMergeJoin"), s)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"), s)
    // the full-precision embedding column is pruned OUT of the code
    // scan — the serving path's 4x-bandwidth claim, enforced (string
    // match: the scan nodes sit under an unfinalized AQE wrapper, so a
    // collect() over executedPlan cannot reach them)
    val codeScan = s.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("/codes"))
      .toSeq
    assert(codeScan.nonEmpty, s)
    assert(codeScan.forall(
      _.contains("ReadSchema: struct<vec_id:bigint,codes:array<int>>")), s)
  }

  test("phrase mining: one cached token fork, broadcast 1-row total, top-k heap") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.minePhrases(docs, "text")
    val plan = planOf(df)
    // token arrays tokenize once (cached fork feeds bigram + unigram
    // branches); N joins back as a broadcast single row, and the top-k
    // is a TakeOrdered, never a global sort
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    df.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("data card: masses aggregate with map-side partial combine") {
    val docs = core.Tables.load(spark, sf, "documents")
    val df = operators.Curation.dataCard(docs, "source", "text")
    val plan = planOf(df)
    // both aggregation levels show partial/final HashAggregate pairs —
    // duplicates and per-source masses collapse before the shuffle
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("gold window scan prunes bronze date partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_prune").toString
    import spark.implicits._
    val days = Seq(
      ("e1", java.sql.Timestamp.valueOf("2026-01-01 10:00:00")),
      ("e2", java.sql.Timestamp.valueOf("2026-01-02 10:00:00")),
      ("e3", java.sql.Timestamp.valueOf("2026-01-03 10:00:00"))
    ).toDF("event_id", "event_ts")
    core.PartitionedWriter.append(days, dir, "event_ts")
    val ctx = new pipelines.GoldContext(spark, java.nio.file.Files
      .createTempDirectory("graft_wh").toString)
    // read through the same pruning predicate bronzeWindow uses
    val pruned = spark.read.parquet(dir)
      .filter(col("event_date").between(
        to_date(lit("2026-01-02")), to_date(lit("2026-01-02"))))
    val scans = pruned.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    // only one of the three event_date partitions survives pruning
    assert(scans.head.relation.location.listFiles(
      scans.head.partitionFilters, scans.head.dataFilters).map(_.files.size).sum == 1)
  }

  test("sequenceMatch is one window pass — no join anywhere") {
    val ev = core.Tables.load(spark, sf, "events")
    val plan = planOf(operators.Funnel.sequenceMatch(ev, "user_id",
      "ts", "event_id", col("event_type") === "error",
      col("event_type") === "purchase", maxGapSec = 1800L))
    assert(!plan.contains("Join"), "ordered-pair search must not self-join")
    assert(plan.contains("Window"))
  }

  test("funnel steps join on the funnel key only — never cartesian") {
    val plan = planOf(queries.Suite.queries("h9_funnel")(spark, sf))
    assert(!plan.contains("Cartesian"))
    assert(!plan.contains("BroadcastNestedLoop"))
  }

  test("purge locate reads only (key, partition) and broadcasts the deletion set") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_purge_plan").toString
    val rows = Seq((1L, 7L, java.sql.Timestamp.valueOf("2026-01-01 10:00:00"), "pad"))
      .toDF("event_id", "user_id", "event_ts", "payload")
    core.PartitionedWriter.append(rows, dir, "event_ts")
    val plan = planOf(core.PartitionedWriter.locateAffected(
      spark, dir, "user_id", Seq(7L).toDF("user_id")))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"))
    // column pruning: the wide payload column is never read in pass 1
    assert(plan.contains("ReadSchema: struct<user_id:bigint>"), plan)
    assert(!plan.contains("payload"))
  }

  test("semantic decontam broadcasts the benchmark; corpus never shuffles pre-agg") {
    val emb = core.Tables.load(spark, sf, "embeddings")
    val df = operators.Similarity.semanticContamination(
      emb.filter(col("vec_id") < 490), emb.filter(col("vec_id") >= 490), 0.3)
    val plan = planOf(df)
    // the benchmark side rides a broadcast nested-loop (tiny × huge);
    // the only hash exchange is the final per-id max aggregation
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("hll state flow is partial-agg all the way (no raw-id re-shuffle)") {
    core.Tables.registerAll(spark, sf)
    val df = spark.sql(
      """SELECT event_type, hll_estimate(hll_merge(st)) AS est FROM
        |(SELECT event_type, date_format(ts, 'yyyy-MM-dd') AS day,
        |  hll_sketch(user_id) AS st FROM events GROUP BY 1, 2)
        |GROUP BY event_type""".stripMargin)
    val plan = planOf(df)
    // both aggregations run partial -> final: sketches combine map-side,
    // so the shuffles carry (key, 4KiB state), never raw ids
    assert(plan.contains("hll_sketch") && plan.contains("hll_merge"), plan)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 4 ||
      "SortAggregate".r.findAllIn(plan).size >= 4, plan)
  }

  test("triangle count joins stay hash-keyed on node ids — no cartesian") {
    val plan = planOf(queries.Suite.queries("l87_triangles")(spark, sf))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("url canonicalization and chat validation stay map-side to one agg") {
    // both are per-row string/JSON algebra: the only exchanges allowed
    // are the final aggregation's partial -> final pair (url dedup) /
    // none before the ordered output (chat)
    for (q <- Seq("l88_url_dedup", "l89_chat_validate")) {
      val plan = planOf(queries.Suite.queries(q)(spark, sf))
      assert(!plan.contains("Join"), s"$q must not join: $plan")
      assert(!plan.contains("CartesianProduct"), q)
    }
  }

  test("sequence_count is one partial-agg pass — no join, no window sort") {
    val plan = planOf(queries.Suite.queries("h20_seq_count")(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("sequence_count"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("zipfFit cuts top-R with TakeOrdered, not a vocabulary sort") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Curation.zipfFit(docs, "text", 500))
    // the vocabulary-sized side must reduce via per-partition heaps;
    // the only Window allowed is the rank pass over the ≤R survivors
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("bitmap audience crosses via broadcast; funnel modes stay one agg") {
    // d28: the 1-row purchase state must broadcast to the 5 segment
    // states — never a shuffle-side cross
    val plan = planOf(queries.Suite.queries("d28_bitmap_audience")(spark, sf))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("bitmap_agg"), plan)
    // h45: the strict funnel is ONE partial aggregation — no join,
    // no per-key window sort
    val fp = planOf(
      queries.Suite.queries("h45_funnel_strict_order")(spark, sf))
    assert(!fp.contains("Join"), fp)
    assert(!fp.contains("Window"), fp)
    assert(fp.contains("window_funnel_strict"), fp)
  }

  test("geo band scan is map-side algebra to one aggregation") {
    val plan = planOf(queries.Suite.queries("h48_geo_distance")(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    // exactly one exchange: the final (event_type, band) hash agg
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected map-side algebra, got:\n$plan")
  }

  test("LPM enrichment is one broadcast hash join — no range scan, no sort-merge") {
    val plan = planOf(queries.Suite.queries("h59_lpm_route")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"LPM must equi-join on (plen, key), not range-scan:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("integer k-means assignment never shuffles or joins the corpus") {
    // centroids ride as literals into a map-side argmin; the returned
    // assignment frame must be scan -> project, nothing else (the
    // per-iteration centroid updates run during construction and are
    // k*dim-bounded)
    val emb = core.Tables.load(spark, sf, "embeddings")
    val plan = planOf(operators.Similarity.kmeansIntAssign(emb, 4, 2))
    assert(!plan.contains("Exchange"), s"corpus must not shuffle:\n$plan")
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("k-means at k=4096/dim=64 takes the broadcast-join plan, no literal blowup") {
    // k*dim = 262144 literals would blow Janino's 64KB method limit
    // (silent interpreted fallback) and balloon the serialized plan;
    // past MaxLiteralCentroidCells the assignment must be a broadcast
    // centroid join + min-of-struct hash aggregate instead — and the
    // action must complete (no OOM, no codegen failure)
    import spark.implicits._
    val dim = 64
    val k = 4096
    val vecs = spark.range(k.toLong)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), j =>
          ((col("id") * 131 + j * 17) % 1000).cast("float") / 100f)
          .as("embedding"))
    val df = operators.Similarity.kmeansIntAssign(vecs, k, iters = 1)
    val plan = planOf(df)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"large-k assignment must join broadcast centroids:\n${plan.take(4000)}")
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
    assert(!plan.contains("SortMergeJoin"), plan.take(4000))
    // min-of-struct aggregates via SortAggregate (structs have no
    // mutable hash-agg buffer) — either aggregate shape is fine, a
    // window/join-back winner resolution is not
    assert(plan.contains("Aggregate"), plan.take(4000))
    assert(!plan.contains("Window"), plan.take(4000))
    // plan stays data-sized: 262144 centroid longs must NOT be inlined
    // as expression literals (the join ships them as a relation)
    assert(plan.length < 200000, s"plan text is ${plan.length} chars")
    assert(df.count() == k.toLong)
  }

  test("collapsing FINAL is one hash aggregation — no join, no window") {
    import spark.implicits._
    val ledger = core.Tables.load(spark, sf, "events")
      .select(col("user_id").as("k"),
        col("event_id").as("o"),
        lit(1).as("sign"),
        col("user_id").as("x"))
    val plan = planOf(operators.Collapsing.finalState(
      ledger, Seq("k"), "sign", Seq("o"), Seq("x")))
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1, s"one key shuffle expected:\n$plan")
  }

  test("LPM payload join-back stays broadcast — the event side never re-shuffles") {
    val plan = planOf(queries.Suite.queries("h61_lpm_enrich")(spark, sf))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"the per-cidr payload table must broadcast, not sort-merge:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("token apportionment aggregates the corpus once; windows touch #sources rows") {
    // one map-side-combined agg to per-source counts, then window work
    // over that vocabulary-sized frame — no join, no corpus re-scan
    val plan = planOf(queries.Suite.queries("l104_token_apportion")(spark, sf))
    assert(!plan.contains("Join"), plan)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"corpus must be scanned exactly once:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }

  test("length batching is one window sort per group — no join, no second shuffle class") {
    val plan = planOf(queries.Suite.queries("l108_length_batching")(spark, sf))
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Window"), plan)
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1, s"corpus must be scanned exactly once:\n$plan")
  }

  test("ROUGE-L and encoding damage are map-only — no exchange before the sort") {
    for (q <- Seq("l106_rouge_l", "l107_encoding_damage")) {
      val df = queries.Suite.queries(q)(spark, sf)
      // drop the presentation orderBy: the operator itself must be
      // shuffle-free (the l66 strip-markup contract)
      val body = df.sortWithinPartitions()
      val plan = planOf(df)
      assert(!plan.contains("Join"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q:\n$plan")
      val nonSortExchanges = "Exchange hashpartitioning".r
        .findAllIn(plan).size
      assert(nonSortExchanges == 0,
        s"$q must be map-only up to the final sort:\n$plan")
      assert(body.columns.nonEmpty)
    }
  }

  test("license screen, code filters and skeleton are map-only column work") {
    for (q <- Seq("l111_license_screen", "l112_code_filters")) {
      val plan = planOf(queries.Suite.queries(q)(spark, sf))
      assert(!plan.contains("Join"), s"$q:\n$plan")
      assert(!plan.contains("Window"), s"$q:\n$plan")
      assert("Exchange hashpartitioning".r.findAllIn(plan).isEmpty,
        s"$q must be map-only up to the final sort:\n$plan")
    }
    // the skeleton expression itself stays inside whole-stage codegen
    val skel = core.Tables.load(spark, sf, "documents")
      .select(functions.TextFunctions.confusableSkeleton(col("text")).as("s"))
    skel.collect() // AQE finalizes codegen on execution
    assert(planOf(skel).contains("*("),
      "translate+strip must not break the WSCG span")
  }

  test("portable mixture sampling pushes to a scan-fused filter — no shuffle") {
    val df = operators.Curation.mixSourcesPortable(
      core.Tables.load(spark, sf, "documents").select("doc_id", "source"),
      "source", col("doc_id"), Map("src0" -> 0.9, "src1" -> 0.1),
      defaultRate = 0.25, seed = 7)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"), s"pure map-side filter:\n$plan")
    assert(plan.contains("Filter"), plan)
    // column pruning survives the md5-cut filter
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string"),
      plan)
  }

  test("self-containment pairs are prefix-filtered hash-equi — never cartesian") {
    val docs = core.Tables.load(spark, sf, "documents")
    // materialize=false keeps the declarative plan for inspection (the
    // default eagerly checkpoints, which collapses the plan to an RDD scan)
    val plan = planOf(operators.Dedup.selfContainmentPairs(
      docs, "text", "doc_id", shingleN = 4, threshold = 0.9,
      materialize = false))
    // every join is hash-equi on the gram hash or the doc id — a
    // cartesian/nested-loop anywhere means the prefix filter fell out
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("epoch upsampling is map-only column algebra — no exchange, no UDF") {
    val df = operators.Curation.epochUpsample(
      core.Tables.load(spark, sf, "documents").select("doc_id", "source"),
      col("doc_id"), "source", Map("src0" -> 2.3, "src1" -> 0.4), seed = 7)
    val plan = planOf(df)
    assert(!plan.contains("Exchange"),
      s"the explode IS the upsampling — nothing may shuffle:\n$plan")
    assert(plan.contains("Generate"), plan) // the sequence explode
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
    // column pruning survives the literal-map + md5 cut
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string"),
      plan)
  }

  test("implied comparisons are one hash-equi self-join on the group key") {
    val ev = core.Tables.load(spark, sf, "events")
    val plan = planOf(operators.Preference.impliedComparisons(
      ev, "user_id", "event_type", "value", "event_id"))
    // groups co-locate via the equi-join on user_id; the quadratic
    // blow-up stays inside each group — never a cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // only the four needed columns are read off the scan
    assert(plan.contains(
      "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double"),
      plan)
  }

  test("winRates is one aggregation over the unioned directions — no join, no window") {
    val cmp = operators.Preference.impliedComparisons(
      core.Tables.load(spark, sf, "events"), "user_id", "event_type",
      "value", "event_id")
    // count the plan shape of the win-rate step alone: feed it a
    // materialized-shape input so the upstream self-join stays out
    val plan = planOf(operators.Preference.winRates(cmp))
    assert(!plan.contains("Window"), plan)
    // the interval math is pure column algebra over the aggregate —
    // exactly one aggregation pair (partial + final) downstream of
    // the union, nothing re-shuffles after it
    assert("HashAggregate".r.findAllIn(plan).size <= 4, plan)
  }

  test("fleissKappa is aggregation-only — no window, no sort, scalar fold broadcasts") {
    val ev = core.Tables.load(spark, sf, "events")
      .select((col("event_id") % 400).as("item"),
        col("event_type").as("label"))
    val plan = planOf(operators.Stats.fleissKappa(
      ev, col("item"), col("label")))
    assert(!plan.contains("Window"), s"agreement needs no window:\n$plan")
    assert(!plan.contains("Sort"), s"agreement needs no sort:\n$plan")
    // the 1-row label fold joins in via broadcast, never a shuffle join
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("capped implied comparisons stay hash-equi — the rank cut adds one window") {
    val ev = core.Tables.load(spark, sf, "events")
    val plan = planOf(operators.Preference.impliedComparisons(
      ev, "user_id", "event_type", "value", "event_id",
      maxPairsPerGroup = 45, seed = 7))
    // the portable-rank cut partitions by the SAME group key the join
    // uses — still never a cartesian, and the join stays hash-equi
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Window"), s"the rank cut is a window:\n$plan")
  }

  test("kAnonymize is one frameless window count — no sort inside the partition") {
    val ev = core.Tables.load(spark, sf, "events")
      .select(col("event_id"), col("event_type"),
        to_date(col("ts")).as("day"))
    val plan = planOf(operators.Stats.kAnonymize(
      ev, Seq(col("event_type"), col("day")), k = 5))
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("Join"), s"suppression must not join:\n$plan")
  }

  test("kAnonymity census is two aggregations — no window, no join") {
    val ev = core.Tables.load(spark, sf, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
    val plan = planOf(operators.Stats.kAnonymity(
      ev, Seq(col("event_type"), col("day")), k = 5))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Join"), plan)
  }

  test("cross-source dup flow: hash-equi pair join, totals broadcast back") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Dedup.crossSourceDupFlow(
      docs, "text", "source"))
    // the pair matrix is an equi-join on the text hash — never cartesian
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the source-total joins ride broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
    // text bodies never shuffle: post-hash the plan carries no text col
    assert(!plan.contains("SortMergeJoin") ||
      !plan.contains("text#"), plan)
  }

  test("groupGate: doc rows join the tier frame via broadcast, zero doc shuffle") {
    val docs = core.Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("source"),
        functions.TextFunctions.qualityScore(col("text")).as("q"))
    val plan = planOf(operators.Curation.groupGate(
      docs, "source", col("q")))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("oovCurve: vocab-sized rank window; k-ladder joins as 1-row broadcast") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Curation.oovCurve(
      docs, "text", ks = Seq(16, 256)))
    // the only non-equi join is the tiny broadcast k-ladder
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // exactly one rank window, running over the counts frame
    assert("Window".r.findAllIn(plan).size >= 1, plan)
  }

  test("itemAnalysis: grid aggregates + frameless person window, scalars broadcast") {
    val ev = core.Tables.load(spark, sf, "events")
    val plan = planOf(operators.Stats.itemAnalysis(
      ev, col("user_id") % 13, col("event_id") % 11,
      (col("value") > 0.5).cast("long")))
    // the only joins are the two 1-row scalar broadcasts
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // rest scores come from a window over the person partition — no
    // join back of a totals table
    assert(plan.contains("Window"), plan)
  }

  test("effective-token census joins survivors by id — never cartesian") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Dedup.effectiveTokenCensus(
      docs, "text", "doc_id", "source"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("contamination curve: gram membership is a hash semi-join, grams never shuffle as strings") {
    val docs = core.Tables.load(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 5)
      .select(col("doc_id"), col("text"))
    val plan = planOf(operators.Dedup.contaminationCurve(
      docs, bench, "text", "doc_id", ns = Seq(2, 3)))
    assert(!plan.contains("CartesianProduct"), plan)
    // the only nested-loop is the 1-row total broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 2, plan)
    // membership rides LeftSemi on the (n, hash) pair
    assert(plan.contains("LeftSemi"), plan)
  }

  test("truncation audit is one session window + one aggregate — no join") {
    val ev = core.Tables.load(spark, sf, "events")
      .select(col("user_id").as("session"),
        unix_timestamp(col("ts")).as("e"), col("event_id"),
        col("event_type").as("text"))
    val plan = planOf(operators.Curation.truncationAudit(
      ev, "session", "e", "event_id", "text", contextTokens = 100L))
    assert(!plan.contains("Join"), s"audit must not join:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("loss mask is one session window pair — no join, no global sort") {
    val ev = core.Tables.load(spark, sf, "events")
      .select(col("user_id").as("session"),
        unix_timestamp(col("ts")).as("e"), col("event_id"),
        col("event_type").as("role"), col("props").as("text"))
    val plan = planOf(operators.Curation.lossMask(
      ev, "session", "e", "event_id", "role", "text", Seq("purchase")))
    assert(!plan.contains("Join"), s"mask must not join:\n$plan")
    assert(plan.contains("Window"), plan)
  }

  test("paragraph prune is explode + one aggregate back to the doc key") {
    val docs = core.Tables.load(spark, sf, "documents")
    val plan = planOf(operators.Curation.paragraphQualityPrune(
      docs, "text", "doc_id"))
    assert(!plan.contains("Join"), s"prune must not join:\n$plan")
    assert(!plan.contains("Window"), s"prune needs no window:\n$plan")
    assert(plan.contains("Generate"), s"the split explodes:\n$plan")
  }
}
