package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph iterative analytics. The engine already has the
  * clustering side of graph work (connected components in
  * `Dedup.scala`, kNN-graph label propagation in `Similarity.scala`);
  * this file adds the centrality side — PageRank over an edge list —
  * which a SIEM deployment runs on its communication graph (which
  * hosts/accounts are structurally central; reference's Zeek conn
  * events are exactly such an edge stream,
  * `clickhouse/init/02_kafka_ingest.sql.tmpl:131-262`) and a data
  * pipeline runs on its crawl/link graph for source authority.
  *
  * Exactness: the damped update is pure long arithmetic —
  * `rank' = base + (dampMicro · Σ incoming) div 10⁶` with per-edge
  * contribution `rank div out_degree` — so iterate-for-iterate the
  * ranks replay bit-identically in any engine (the DuckDB oracle
  * unrolls the same rounds as CTEs). Truncation-toward-zero and
  * floor division agree because every operand is non-negative.
  */
object Graph {

  /** Iterative operators pin their per-round state every this many
    * rounds (and always on the last): often enough that the nested
    * plan stays small, seldom enough that a short fixed-iteration run
    * (PageRank's usual 3-8) pays one materialization, not one per
    * round. */
  private val CheckpointEvery = 4

  /** Triangle count per node plus the global total — the standard
    * graph-cohesion signal (a SIEM reads clustered comms as peer
    * groups; a crawl graph reads triangles as link-farm density).
    *
    * Exact integer counting via the node-ordering formulation: each
    * undirected edge is canonicalized to (lo, hi) and deduped, each
    * triangle a<b<c is found exactly once by joining wedge (a,b)+(b,c)
    * against closing edge (a,c). At scale the join keys are node ids —
    * wedge volume is Σ deg²; the classical mitigation (order by
    * DEGREE, not id, so high-degree hubs close wedges rather than
    * open them) drops it to O(m^1.5). Here ids are a degree proxy
    * the caller can pre-map; the shape — two hash joins, no driver
    * state — is the 100 TB path either way.
    *
    * Returns (node, n_triangles), nodes in ≥1 triangle. */
  def triangleCount(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val canon = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val tri = canon.as("xy")
      .join(canon.as("yz"), col("xy.b") === col("yz.a"))
      .join(canon.as("xz"),
        col("xz.a") === col("xy.a") && col("xz.b") === col("yz.b"))
      .select(col("xy.a").as("u"), col("xy.b").as("v"),
        col("yz.b").as("w"))
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node")
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Blast radius: BFS depth of every node reachable from a seed set
    * within `maxDepth` hops — the SIEM question after a compromise
    * ("which hosts can the attacker reach in k lateral moves") and, on
    * a crawl graph, the frontier-distance layer cake. Depths are small
    * ints, trivially exact.
    *
    * Per round: the frontier (node ids only) joins the cached edge
    * list on `src`, fresh nodes are an anti-join against everything
    * already levelled — only ids shuffle, each round's result is
    * materialized (bounded: ≤|V| rows total), and the loop exits early
    * when a frontier comes back empty. */
  def bfsDepth(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "bfsDepth needs maxDepth >= 0")
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val e = edges.select(col("src"), col("dst"))
      .repartition(shufflePartitions, col("src"))
      .cache()
    try {
      var depths = seeds.select(col("node")).distinct()
        .withColumn("depth", lit(0))
        .localCheckpoint(true)
      var frontier = depths.select(col("node"))
      var d = 1
      var done = false
      while (d <= maxDepth && !done) {
        val fresh = e
          .join(frontier.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst").as("node")).distinct()
          .join(depths, Seq("node"), "left_anti")
          .withColumn("depth", lit(d))
          .localCheckpoint(true)
        if (fresh.isEmpty) done = true
        else {
          depths = depths.unionByName(fresh).localCheckpoint(true)
          frontier = fresh.select(col("node"))
        }
        d += 1
      }
      depths
    } finally e.unpersist()
  }

  /** Integer-exact damped PageRank over an edge list (`src`, `dst`
    * columns; parallel edges count as weight). Ranks live in `scale`
    * units (default 10¹²) so the per-edge integer division
    * `rank div deg` loses < 1 part in 10⁶ per round even on
    * million-out-degree hubs.
    *
    * Dangling nodes (no out-edges) keep receiving rank but their own
    * mass is NOT redistributed — it decays, identically in every
    * engine. That keeps the update one join + one aggregation; the
    * redistribute variant needs a global sum per round and changes no
    * ordering at realistic damping.
    *
    * Scale shape (100 TB graph): per round, only (node, long) pairs
    * move — the rank table joins the out-degree-annotated edge list on
    * `src` (both hash-partitioned on the same key; edges are
    * repartitioned once and cached, so each round re-shuffles ONLY the
    * rank side, which is |V| longs, not |E| edges) and contributions
    * hash-aggregate map-side onto `dst`. Driver holds two scalars
    * (|V|, base). This is [[pageRankIntSeeded]] with every node a
    * seed: a uniform base and a uniform initial scale/|V|. */
  def pageRankInt(
      edges: DataFrame,
      iters: Int,
      scale: Long = 1000000000000L,
      dampMicro: Long = 850000L): DataFrame =
    pageRankIntSeeded(edges,
      edges.select(col("src").as("node"))
        .unionByName(edges.select(col("dst").as("node"))),
      iters, scale, dampMicro)

  /** Personalized PageRank: the reset mass teleports ONLY to the seed
    * set instead of uniformly — "importance relative to THESE nodes"
    * (a SIEM ranks lateral-movement reach from compromised hosts; a
    * crawl ranks pages relative to trusted seeds, the TrustRank
    * shape). The integer-exact update of [[pageRankInt]] (which is this
    * with every node a seed) — base mass is seed-conditional, initial
    * mass scale/|S| on seeds and 0 elsewhere — so every round replays
    * bit-identically in SQL.
    * Same per-round shapes: one rank join + one map-side-combined
    * aggregation, |V|-long rounds checkpointed. */
  def pageRankIntSeeded(
      edges: DataFrame,
      seeds: DataFrame,
      iters: Int,
      scale: Long = 1000000000000L,
      dampMicro: Long = 850000L): DataFrame = {
    require(iters >= 1, "pageRankIntSeeded needs at least one iteration")
    val spark = edges.sparkSession
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions").toInt

    val seedSet = seeds.select(col("node")).distinct()
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node")))
      .unionByName(seedSet)
      .distinct()
      .join(seedSet.withColumn("__s", lit(1)), Seq("node"), "left")
      .cache()
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val edgesD = edges.join(deg, Seq("src"))
      .repartition(shufflePartitions, col("src"))
      .cache()
    try {
      val nS = nodes.filter(col("__s") === 1).count()
      require(nS > 0, "pageRankIntSeeded: empty seed set")
      val base = scale * (1000000L - dampMicro) / nS / 1000000L
      var rank = nodes.select(col("node"),
        when(col("__s") === 1, lit(scale / nS)).otherwise(lit(0L))
          .as("rank"))
      for (i <- 1 to iters) {
        val incoming = edgesD
          .join(rank.withColumnRenamed("node", "src"), Seq("src"))
          .select(col("dst"), expr("rank div __deg").as("__c"))
          .groupBy(col("dst"))
          .agg(sum(col("__c")).as("__inc"))
          .withColumnRenamed("dst", "node")
        rank = nodes.join(incoming, Seq("node"), "left")
          .select(col("node"),
            (when(col("__s") === 1, lit(base)).otherwise(lit(0L)) +
              expr(s"($dampMicro * coalesce(__inc, 0L)) div 1000000"))
              .as("rank"))
        // Materialize every CheckpointEvery rounds and at the last
        // round (|V| longs — bounded): a per-round checkpoint costs a
        // driver job + a materialization barrier each round, but a
        // fully lazy chain nests every round into one plan (optimizer
        // time grows with iters) — the cadence bounds both. The LAST
        // round must checkpoint: the finally below unpersists the
        // edge/node caches, so the returned frame has to be pinned
        // rows, not a plan that would re-derive them uncached.
        if (i % CheckpointEvery == 0 || i == iters)
          rank = rank.localCheckpoint(eager = true)
      }
      rank
    } finally { edgesD.unpersist(); nodes.unpersist() }
  }

  /** k-core peeling — the link-farm/spam-cohesion filter a crawl
    * graph runs (a k-core is a maximal subgraph where every node
    * keeps ≥ k neighbors; dense farms survive high k, organic
    * periphery does not): each round SIMULTANEOUSLY removes every
    * node whose current degree is < k, then restricts edges to
    * surviving endpoints. Runs EXACTLY `rounds` rounds — deterministic
    * round semantics, so an engine replay unrolls the same peels and
    * agrees bit-for-bit whether or not the peel has converged (at
    * convergence the result IS the k-core; pass rounds ≥ the graph's
    * degeneracy diameter, typically single digits).
    *
    * Input edges are canonicalized undirected (self-loops dropped,
    * parallel edges deduped). Output: surviving (node, degree) —
    * degree within the peeled subgraph.
    *
    * Scale shape: each round is one map-side-combined degree count
    * plus two semi-joins of the edge list against the (smaller)
    * survivor set, localCheckpointed so round r never replays rounds
    * 1..r−1; edge volume only shrinks. No driver state beyond the
    * loop counter. */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1, "k must be positive")
    require(rounds >= 1, "need at least one peel round")
    val und = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    var e = und.select(col("a").as("u"), col("b").as("v"))
      .unionByName(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy("u").agg(count(lit(1)).as("__d"))
        .filter(col("__d") >= k).select("u")
      e = e.join(keep, Seq("u"), "left_semi")
        .join(keep.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
        .localCheckpoint(true)
    }
    e.groupBy(col("u").as("node")).agg(count(lit(1)).as("degree"))
  }
}
