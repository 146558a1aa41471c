package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BatchSink

/** Gram-partitioned persistent home for continuous containment dedupe —
  * the [[LshIndex]] posture applied to [[Dedup.selfContainmentPairs]]:
  * arriving documents probe YEARS of history for doc-inside-doc matches
  * without rescanning the corpus, because the touched-gram predicate
  * moves from the shuffle into the parquet scan.
  *
  *  - `postings/` — one `(__id, __g)` row per (document, distinct gram)
  *    partitioned by `(__batch_id, __pp)` with `__pp = pmod(__g,
  *    numBuckets)`. Every posting of a gram lives in that gram's own
  *    partition, so a probe that collects the batch's distinct `__pp`
  *    prefixes (≤ numBuckets longs, one tiny job) reads every posting
  *    of every batch gram — which is what makes the document frequency
  *    of each batch gram computed from the pruned read EXACT over
  *    old ∪ new, replicating the closed-corpus df ≤ maxDf stop-gram
  *    cut bit-for-bit. The read is NOT only batch grams, though: each
  *    touched bucket also holds the ~1/numBuckets of all OTHER corpus
  *    grams that share it, so a gram-diverse batch touching every
  *    bucket reads the whole horizon's postings. Two defenses: the df
  *    aggregate semi-joins the read against the batch's distinct gram
  *    set FIRST (aggregation cost is O(batch-gram postings), never
  *    O(horizon postings)), and the scan over-fetch ratio is a
  *    first-class receipt ([[probeCensus]], recorded by the bench).
  *    The IO itself is bounded by `sinceBatch` horizons and by more
  *    buckets (default 2048) for narrow batches.
  *  - `docs/` — one `(__id, __sh)` row per document (full sorted gram
  *    array) partitioned by `(__batch_id, __dp)` with `__dp =
  *    pmod(xxhash64(__id), numBuckets)`; the verify read prunes to the
  *    partitions owning candidate ids, then a broadcast semi-join cuts
  *    surviving rows to exactly those ids.
  *
  * Probe semantics are DIRECTIONAL-NEW: emitted pairs are
  * (id_a = arriving doc, id_b = any doc, containment = |A∩B| / |A_kept|
  * ≥ t) — "is this arriving doc contained in something already seen
  * (or in this batch)". The old-in-new direction needs the kept-gram
  * size of every OLD document under the global df, which cannot be
  * priced incrementally (it is a property of grams the batch never
  * touches); run the batch operator for retroactive sweeps. Kept-ness
  * is a property of the GRAM (df ≤ maxDf), so A_kept ∩ B_full =
  * A_kept ∩ B_kept and the emitted ratios equal the batch operator's
  * exactly: `probe(new, index-of-old) ≡ selfContainmentPairs(old ∪ new)
  * restricted to id_a ∈ new` (ContainmentIndexSpec asserts it).
  *
  * Candidate generation keeps the directional prefix filter: the df of
  * every batch gram is already on hand, so only each arriving doc's
  * rarest |A| − ⌈t·|A|⌉ + 1 kept grams join the postings — candidates
  * stay O(prefix · maxDf), bounded by the BATCH size, never the corpus.
  *
  * `__batch_id` is the outer partition level for the [[LshIndex]]
  * replay contract: dynamic partition overwrite makes an at-least-once
  * replay rewrite its own partitions in place, and probe-side
  * `(__id, __g)` / `(__id)` collapses make a batch that sits in BOTH
  * the new frame and the index count once. `docs/` is written BEFORE
  * `postings/` and [[exists]] requires both, so a crash between the
  * two table writes of the very first batch leaves `exists == false`
  * and the replay takes the clean first-append path
  * (IndexAppendCrashSpec covers the torn states).
  *
  * Caching contract: [[probe]] pins its intermediates only for its own
  * duration and unpersists them in a finally block (the
  * selfContainmentPairs discipline); the returned frame is one small
  * eagerly-materialized checkpoint (pairs above threshold — batch-
  * bounded by the candidate contract), reclaimed by the ContextCleaner
  * when the caller drops it. A long-running [[graft.streaming.ContainmentStream]]
  * therefore accumulates nothing across triggers. */
object ContainmentIndex {

  val BatchCol = BatchSink.BatchCol
  val PostPart = "__pp"
  val DocPart = "__dp"

  /** Default gram-bucket count. Sized for the serving path, not the
    * write path: a NARROW batch (one crawl shard, one re-probe) touches
    * few buckets and reads `touched/numBuckets` of each horizon batch's
    * postings, so more buckets = finer IO pruning; a gram-diverse batch
    * touches all of them regardless and is bounded by `sinceBatch`
    * horizons instead. The write cost is one file per (batch, touched
    * bucket) — the routed write below — so a larger default costs file
    * count only on batches diverse enough to touch that many buckets. */
  val DefaultNumBuckets = 2048

  private def postingsPath(root: String) = s"$root/postings"
  private def docsPath(root: String) = s"$root/docs"
  private def metaFile(root: String) =
    new Path(s"$root/_containment_index_meta.json")

  private def fileSystem(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  /** True only when BOTH tables exist — `docs/` is written first, so
    * every torn append state reads as "no index yet" (first batch) or
    * keeps the previous batches' consistent view (later batches, whose
    * partitions dynamic overwrite rewrites on replay). */
  def exists(spark: SparkSession, root: String): Boolean = {
    val fs = fileSystem(spark, root)
    fs.exists(new Path(postingsPath(root))) &&
      fs.exists(new Path(docsPath(root)))
  }

  private def pp(g: Column, n: Int): Column = pmod(g, lit(n.toLong))
  private def dp(id: Column, n: Int): Column =
    pmod(xxhash64(id), lit(n.toLong))

  private[graft] def readMeta(spark: SparkSession,
      root: String): (Int, Int) = {
    val fs = fileSystem(spark, root)
    val in = fs.open(metaFile(root))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(k: String): Int =
      (""""""" + k + """"\s*:\s*(\d+)""").r.findFirstMatchIn(txt) match {
        case Some(m) => m.group(1).toInt
        case None => sys.error(s"malformed ${metaFile(root)}: $txt")
      }
    (field("numBuckets"), field("shingleN"))
  }

  private def ensureMeta(spark: SparkSession, root: String, n: Int,
      shingleN: Int): Unit = {
    val fs = fileSystem(spark, root)
    if (fs.exists(metaFile(root))) {
      val (en, es) = readMeta(spark, root)
      require(en == n && es == shingleN,
        s"index at $root has numBuckets=$en/shingleN=$es; appending with " +
          s"$n/$shingleN would break pruning or mix gram spaces")
    } else {
      fs.mkdirs(new Path(root))
      val out = fs.create(metaFile(root), true)
      try out.write(
        s"""{"numBuckets":$n,"shingleN":$shingleN}""".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Per-doc distinct hashed-shingle arrays — the one tokenize pass both
    * tables and the probe's new side share. */
  private def shingled(df: DataFrame, textCol: String,
      idCol: String, shingleN: Int): DataFrame = {
    val par = graft.core.Par.widthFor(df)
    df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"),
        Dedup.hashedShingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
  }

  /** Append one batch. Idempotent on `batchId`: dynamic partition
    * overwrite rewrites the batch's own partitions on replay. An
    * effectively-empty batch (no rows, or all texts null/blank) writes
    * nothing — an index root must never hold fileless table dirs,
    * which would flip [[exists]] true and break schema inference on
    * the next probe. */
  def append(df: DataFrame, textCol: String, idCol: String, root: String,
      batchId: Long, shingleN: Int = 4,
      numBuckets: Int = DefaultNumBuckets): Unit = {
    val spark = df.sparkSession
    val sh = shingled(df, textCol, idCol, shingleN).persist()
    try {
      if (sh.count() == 0L) return
      ensureMeta(spark, root, numBuckets, shingleN)
      // docs BEFORE postings: exists() keys on both, so the torn state
      // between the two writes is indistinguishable from "batch never
      // appended" on the first batch and is rewritten in place on replay
      BatchSink.write(sh.select(col("__id"), col("__sh"))
        .withColumn(DocPart, dp(col("__id"), numBuckets))
        .repartition(col(DocPart)), batchId, docsPath(root), DocPart)
      // route rows to their partition BEFORE the write (the d8 summing
      // file discipline): without it every shuffle task writes into every
      // partition dir — numBuckets × parallelism tiny files per batch,
      // and the probe pays the listing/open cost forever after. Routed,
      // each (batch, bucket) dir holds one file
      BatchSink.write(sh.select(col("__id"), explode(col("__sh")).as("__g"))
        .withColumn(PostPart, pp(col("__g"), numBuckets))
        .repartition(col(PostPart)), batchId, postingsPath(root), PostPart)
    } finally { sh.unpersist(); () }
  }

  private def prunedPostings(spark: SparkSession, root: String,
      touched: Seq[Long], sinceBatch: Option[Long]): DataFrame = {
    val all = spark.read.parquet(postingsPath(root))
    val horizon = sinceBatch
      .map(b => all.where(col(BatchCol) >= b)).getOrElse(all)
    if (touched.isEmpty) horizon.where(lit(false))
    else horizon.where(col(PostPart).isin(touched: _*))
  }

  private def prunedDocs(spark: SparkSession, root: String,
      touched: Seq[Long], sinceBatch: Option[Long]): DataFrame = {
    val all = spark.read.parquet(docsPath(root))
    val horizon = sinceBatch
      .map(b => all.where(col(BatchCol) >= b)).getOrElse(all)
    if (touched.isEmpty) horizon.where(lit(false))
    else horizon.where(col(DocPart).isin(touched: _*))
  }

  /** Probe arriving documents against the persisted index (plus the
    * batch itself): directional containment pairs
    * (id_a ∈ batch, id_b, containment ≥ threshold). See the object doc
    * for semantics and the equivalence contract. `sinceBatch` applies
    * the dedup-horizon policy on the FIRST partition column — probing a
    * 90-day horizon of a years-deep index reads 90 days of files.
    *
    * Returns an eagerly-materialized checkpoint of the (small,
    * batch-bounded) pair set; all corpus-sized intermediates are
    * unpersisted before returning. */
  def probe(newDocs: DataFrame, textCol: String, idCol: String,
      root: String, threshold: Double = 0.9, maxDf: Int = 64,
      sinceBatch: Option[Long] = None): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val spark = newDocs.sparkSession
    val (n, shingleN) = readMeta(spark, root)
    // three consumers (two posting derivations + the verify read) — pin
    // for the duration of this call only
    val newSh = shingled(newDocs, textCol, idCol, shingleN).persist()
    var newKept: DataFrame = null
    var candidates: DataFrame = null
    try {
      val newPost = newSh.select(col("__id"), explode(col("__sh")).as("__g"))
      // one tiny job: the batch's touched posting partitions (≤ n longs);
      // also materializes the newSh pin before any fan-out
      val touched = newPost.select(pp(col("__g"), n).as("__p")).distinct()
        .collect().map(_.getLong(0)).toSeq
      // the touched partitions hold every posting of every batch gram
      // (exact-df guarantee) PLUS the unrelated grams sharing those
      // buckets — cut the latter against the batch's distinct gram set
      // BEFORE the df aggregate, so the groupBy shuffles O(batch-gram
      // postings), not O(horizon postings). AQE broadcasts the gram set
      // when the batch is small; a replayed batch sits in both sides →
      // the (__g, __id) collapse counts it once
      val batchGrams = newPost.select(col("__g")).distinct()
      val allPost = prunedPostings(spark, root, touched, sinceBatch)
        .select(col("__id"), col("__g"))
        .join(batchGrams, Seq("__g"), "left_semi")
        .unionByName(newPost).dropDuplicates("__g", "__id")
      val dfc = allPost.groupBy("__g").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf)
      // kept grams of each ARRIVING doc, rarest-first (df is on hand), so
      // the directional prefix filter applies exactly as in the batch
      // operator: only |A| − ⌈t·|A|⌉ + 1 grams per doc join the postings
      newKept = newPost.join(dfc, "__g")
        .groupBy("__id")
        .agg(array_sort(collect_list(col("__g"))).as("__sha"),
          transform(
            array_sort(collect_list(struct(col("__df"), col("__g")))),
            s => s.getField("__g")).as("__sorted"))
        .persist() // candidates + verify both read it
      val prefixes = newKept.select(col("__id"),
        explode(slice(col("__sorted"), lit(1),
          (size(col("__sorted")) -
            Dedup.thresholdCeil(threshold, size(col("__sorted"))).cast("int")
            + 1)))
          .as("__g"))
      candidates = prefixes.as("l")
        .join(allPost.as("r"),
          col("l.__g") === col("r.__g") && col("l.__id") =!= col("r.__id"))
        .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
        .distinct()
        .persist() // pair ids must be known to plan the doc read
      // verify arrays: batch ids from newSh in memory; history ids from
      // the docs table, partition-pruned then semi-joined to exactly the
      // candidate id_b set
      val touchedDp = candidates.select(dp(col("id_b"), n).as("__p"))
        .distinct().collect().map(_.getLong(0)).toSeq
      val bIds = candidates.select(col("id_b").as("__id")).distinct()
      val oldDocs = prunedDocs(spark, root, touchedDp, sinceBatch)
        .join(broadcast(bIds), Seq("__id"), "left_semi")
        // one doc row per OLD id, newest batch wins: the anti-join
        // below only removes batch-vs-history replays, so the history
        // side must self-collapse — a torn compaction leaves merged +
        // stale source rows, and an id re-delivered under a NEW batch
        // id sits in the index twice; either would multiply verify
        // rows. Runs after the semi cut: the wide arrays that shuffle
        // are O(candidate ids), never the horizon.
        .groupBy(col("__id"))
        .agg(max_by(col("__sh"), col(BatchCol)).as("__sh"))
      // prefer the batch copy of a replayed id via a broadcast
      // anti-join on the batch-sized id set (its rows are identical by
      // construction). The candidate set and the join-1 intermediate
      // both get the BOUNDED broadcast hint: a hint binds only to the
      // nearest join above it, so hinting candidates alone would leave
      // the id_b join to sentinel stats — at scale a sort-merge of the
      // wide __sha rows.
      val newIds = newSh.select(col("__id")).distinct()
      val bSide = newSh.select(col("__id"), col("__sh"))
        .unionByName(
          oldDocs.join(broadcast(newIds), Seq("__id"), "left_anti"))
      graft.core.Par.boundedBroadcast(
          graft.core.Par.boundedBroadcast(candidates)
            .join(newKept.select(col("__id").as("id_a"), col("__sha")),
              "id_a"))
        .join(bSide.select(col("__id").as("id_b"), col("__sh").as("__shb")),
          "id_b")
        .withColumn("containment",
          Dedup.intersectSize(col("__sha"), col("__shb")).cast("double") /
            size(col("__sha")).cast("double"))
        .filter(col("containment") >= threshold)
        .select(col("id_a"), col("id_b"), col("containment"))
        .localCheckpoint(true)
    } finally {
      newSh.unpersist()
      if (newKept != null) newKept.unpersist()
      if (candidates != null) candidates.unpersist()
      ()
    }
  }

  /** IO-honesty receipt for [[probe]]'s df stage: (postings rows the
    * touched-partition read returns under `sinceBatch`, rows of those
    * that belong to the batch's own grams). The second number is what
    * the df aggregate actually shuffles after the semi-join cut; the
    * ratio second/first is the bucket-sharing over-fetch the scaladoc
    * used to overclaim away. Recorded per round by the bench (l116c). */
  def probeCensus(newDocs: DataFrame, textCol: String, idCol: String,
      root: String, sinceBatch: Option[Long] = None): (Long, Long) = {
    val spark = newDocs.sparkSession
    val (n, shingleN) = readMeta(spark, root)
    val newSh = shingled(newDocs, textCol, idCol, shingleN).persist()
    try {
      val newPost = newSh.select(col("__id"), explode(col("__sh")).as("__g"))
      val touched = newPost.select(pp(col("__g"), n).as("__p")).distinct()
        .collect().map(_.getLong(0)).toSeq
      val read = prunedPostings(spark, root, touched, sinceBatch)
        .select(col("__id"), col("__g"))
      val readRows = read.count()
      val batchGramRows = read
        .join(newPost.select(col("__g")).distinct(), Seq("__g"), "left_semi")
        .count()
      (readRows, batchGramRows)
    } finally { newSh.unpersist(); () }
  }
}
