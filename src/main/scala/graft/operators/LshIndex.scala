package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BatchSink, IndexMeta}

/** Bucket-partitioned persistent home for [[Dedup.buildIndex]] output —
  * the layout that makes continuous dedupe IO-incremental, not just
  * shuffle-incremental.
  *
  * The DataFrame-shaped probe ([[Dedup.incrementalCandidates]]) prunes
  * its SHUFFLE to O(|new| + collisions) via a broadcast semi-join, but
  * any plan that starts from `spark.read.parquet(index)` still SCANS
  * the whole accumulated index every micro-batch — O(corpus) file IO
  * per trigger, the one cost that grows without bound as a 100 TB
  * corpus accumulates. This layout moves the touched-bucket predicate
  * from the shuffle into the scan:
  *
  *  - `members/` — band membership rows `(__id, __b, __bh)` partitioned
  *    by `(__batch_id, __pb)` where `__pb = pmod(__bh, numBuckets)`.
  *    A probe computes the batch's bucket set (one tiny job over the
  *    batch), collects the ≤ numBuckets distinct `__pb` prefixes, and
  *    reads `members` with `__pb IN (...)` — parquet partition pruning
  *    skips every file of every untouched prefix.
  *  - `grams/` — one `(__id, __sh)` row per document partitioned by
  *    `(__batch_id, __gp)` where `__gp = pmod(xxhash64(__id),
  *    numBuckets)`. Gram arrays are only needed for ids that appear in
  *    a candidate pair (O(collisions) of them), so the verify read
  *    prunes to the partitions owning those ids.
  *
  * Per-batch IO is then O(touched/numBuckets · |index| + |new|): for a
  * micro-batch touching t of the `numBuckets` prefixes, the scan reads
  * t/numBuckets of the membership table instead of all of it. Size
  * `numBuckets` so one prefix ≈ a few files at the target corpus (the
  * prune factor saturates once every batch touches every prefix —
  * 16 bands × |batch| bucket keys spread uniformly, so numBuckets
  * should sit well above the per-trigger bucket count; 256 suits tests
  * and small deployments, 64k+ a large corpus). `numBuckets` is
  * recorded in `_lsh_index_meta.json` at first append and enforced on
  * every later append/probe — mixing layouts would silently break
  * pruning correctness.
  *
  * `__batch_id` is the outer partition level for the same reason
  * [[graft.streaming.DedupStream]]'s sinks carry it: dynamic partition
  * overwrite makes an at-least-once replay rewrite its own partitions
  * in place, and [[graft.core.BatchCompaction]] can fold old batch
  * partitions into one segment by renaming a directory level. Both
  * tables are read through a per-(key, id) collapse, so a compaction
  * crash that leaves a batch both merged and unreclaimed cannot change
  * probe results — only waste space until the next compaction.
  */
object LshIndex {

  val BatchCol = BatchSink.BatchCol
  val MemberPart = "__pb"
  val GramPart = "__gp"

  private def membersPath(root: String) = s"$root/members"
  private def gramsPath(root: String) = s"$root/grams"
  private val Meta = IndexMeta("_lsh_index_meta.json")

  /** True only when BOTH tables exist — `grams/` is written first, so
    * a crash between the first batch's two table writes reads as "no
    * index yet" and the replay takes the clean first-append path
    * instead of probing a half-written index (the [[ContainmentIndex]]
    * torn-first-batch contract). */
  def exists(spark: SparkSession, root: String): Boolean =
    IndexMeta.exists(spark, membersPath(root), gramsPath(root))

  private def pb(bh: Column, n: Int): Column = pmod(bh, lit(n.toLong))
  private def gp(id: Column, n: Int): Column = pmod(xxhash64(id), lit(n.toLong))

  private[graft] def readNumBuckets(spark: SparkSession,
      root: String): Int = Meta.read(spark, root, "numBuckets").head

  /** Append one batch of [[Dedup.buildIndex]] output. Idempotent on
    * `batchId`: both tables use dynamic partition overwrite, so an
    * at-least-once replay rewrites its own partitions instead of
    * appending a second copy. An empty batch writes nothing — a
    * fileless table dir would flip [[exists]] true and break schema
    * inference on the next probe. `grams/` commits before `members/`
    * (see [[exists]] for the torn-first-batch rationale). */
  def append(index: DataFrame, root: String, batchId: Long,
      numBuckets: Int = 256): Unit = {
    val spark = index.sparkSession
    // only a FIRST batch can create the poisonous state (both table
    // dirs existing but fileless → exists() true, schema inference
    // broken); an empty write into an existing index adds nothing and
    // costs nothing, so the emptiness probe runs once per index
    // lifetime, not once per batch
    if (!exists(spark, root) && index.isEmpty) return
    Meta.freeze(spark, root, "numBuckets" -> numBuckets)
    BatchSink.write(index.select(col("__id"), col("__sh"))
      .withColumn(GramPart, gp(col("__id"), numBuckets)),
      batchId, gramsPath(root), GramPart)
    BatchSink.write(index
      .select(col("__id"), posexplode(col("__bands")).as(Seq("__b", "__bh")))
      .withColumn(MemberPart, pb(col("__bh"), numBuckets)),
      batchId, membersPath(root), MemberPart)
  }

  /** Membership read restricted to the given partition prefixes — the
    * `IN` on the partition column is what parquet prunes at file level
    * (PlanShapeSpec asserts selectedPartitions == touched). */
  private[graft] def prunedMembers(spark: SparkSession, root: String,
      touchedPb: Seq[Long], sinceBatch: Option[Long] = None): DataFrame =
    BatchSink.read(spark, membersPath(root), MemberPart, touchedPb, sinceBatch)

  /** [[prunedMembers]] for the gram table, by `__gp` prefix. */
  private[graft] def prunedGrams(spark: SparkSession, root: String,
      touchedGp: Seq[Long], sinceBatch: Option[Long] = None): DataFrame =
    BatchSink.read(spark, gramsPath(root), GramPart, touchedGp, sinceBatch)

  /** Incremental near-dup probe of a new batch against the persisted
    * index, with file-level pruning on both reads. Equivalent to
    * `Dedup.incrementalCandidates(newIndex, <whole persisted index>)`
    * (LshIndexSpec asserts the equivalence) — but the membership scan
    * reads only touched `__pb` partitions and the gram scan only the
    * `__gp` partitions owning a pair id.
    *
    * Two tiny driver actions bound the plan: collecting the batch's
    * distinct partition prefixes (≤ numBuckets longs) and pinning the
    * candidate pair list with `localCheckpoint` (O(collisions) rows)
    * so the pair ids are known before the gram read is planned. */
  def probe(newIndex: DataFrame, root: String,
      maxBandBucket: Int = 1024): DataFrame =
    probeSince(newIndex, root, sinceBatch = None, maxBandBucket)

  /** [[probe]] restricted to index batches with id ≥ `sinceBatch` —
    * the dedup-horizon policy ("near-dup only against the last N
    * days/batches") every rolling web-crawl pipeline runs: content
    * older than the horizon is allowed to recur. The batch floor is a
    * predicate on the FIRST partition column (`partitionBy(batch,
    * bucket)`), so parquet prunes whole batch directories at file
    * level before the bucket pruning applies — probing a 90-day
    * horizon of a years-deep index reads 90 days of files, not the
    * index. `sinceBatch = None` probes everything (the [[probe]]
    * contract). */
  def probeSince(newIndex: DataFrame, root: String,
      sinceBatch: Option[Long], maxBandBucket: Int = 1024): DataFrame = {
    val spark = newIndex.sparkSession
    val n = readNumBuckets(spark, root)
    // `newIndex` is usually a lazy buildIndex PLAN (shingle + 64-way
    // minhash aggregate + band hashing). Five consumers read it below
    // — the touched-prefix collect, three legs of the candidate join,
    // and the verify gram union — and uncached each would re-run the
    // whole build. Pin it once (it is batch-sized by construction);
    // everything unpersists before returning and the result is one
    // small eager checkpoint (candidate pairs + exact jaccard),
    // reclaimed by the ContextCleaner when the caller drops it — the
    // ContainmentIndex.probe caching contract
    val newIdx = newIndex.persist()
    try {
      val newB = Dedup.bandMembers(newIdx, isNew = true)
      // the collect materializes the pin before any fan-out
      val touched = newB.select(pb(col("__bh"), n).as("__p")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val oldB = prunedMembers(spark, root, touched, sinceBatch)
        .select(col("__id"), col("__b"), col("__bh"), lit(false).as("__new"))
      // already one small eager checkpoint (the incrementalPairs
      // contract) — its three consumers below read the pinned rows
      val pairs = Dedup
        .incrementalPairs(newB, oldB.unionByName(newB), maxBandBucket)
      val touchedGp = pairs
        .select(explode(array(gp(col("id_a"), n), gp(col("id_b"), n))).as("__g"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val pairIds = pairs.select(col("id_a").as("__id"))
        .unionByName(pairs.select(col("id_b").as("__id"))).distinct()
      // partition pruning cuts the file set; the broadcast semi-join cuts
      // the surviving rows to exactly the pair ids before the verify join
      val oldGrams = prunedGrams(spark, root, touchedGp, sinceBatch)
        .join(broadcast(pairIds), Seq("__id"), "left_semi")
        // one gram row per OLD id, newest batch wins: the anti-join
        // below only removes new-vs-old replays, so the old side must
        // self-collapse — a torn compaction leaves merged + stale
        // source rows, and an id re-delivered under a NEW batch id
        // sits in the index twice; either would multiply verify rows.
        // The aggregate runs after the semi cut, so the wide arrays
        // that shuffle here are O(collisions) rows, never the index.
        .groupBy(col("__id"))
        .agg(max_by(col("__sh"), col(BatchCol)).as("__sh"))
      // a replayed batch sits in BOTH newIndex and the persisted index —
      // keep one gram row per id, preferring the new copy via a
      // broadcast anti-join on the batch-sized id set (a replayed id's
      // rows are identical by construction — same document, same
      // grams). verifyJaccard then broadcasts the O(collisions)-bounded
      // pair checkpoint (bounded hint), so the verify joins stay
      // map-side on the gram side.
      val newIds = newIdx.select(col("__id")).distinct()
      val grams = newIdx.select(col("__id"), col("__sh"))
        .unionByName(
          oldGrams.join(broadcast(newIds), Seq("__id"), "left_anti"))
      Dedup.verifyJaccard(pairs, grams, broadcastPairs = true)
        .localCheckpoint(true)
    } finally { newIdx.unpersist(); () }
  }
}
