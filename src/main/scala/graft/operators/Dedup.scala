package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines, designed for the
  * 100 TB shape: per-row signature computation is pure codegen'd column
  * work (no UDFs in the hot path), candidate generation shuffles only
  * (band, doc_id) pairs instead of document text, and verification
  * touches only bucket-collision pairs.
  *
  * Four tiers:
  *  - [[exact]] — whole-content hash dedupe (one shuffle of hashes).
  *  - [[minhashLsh]] — shingle → MinHash signature → banded LSH buckets →
  *    exact-Jaccard verify on candidates (the standard web-dedupe stack).
  *  - [[simhashPairs]] — 64-bit SimHash + 4×16-bit block candidates →
  *    Hamming-distance verify (catches all pairs with distance ≤ 3).
  *  - [[ngramJaccardPairs]] — exact n-gram Jaccard on candidate pairs.
  */
object Dedup {

  // ---- tokenization / shingling (shared, all builtin) ----------------

  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => length(t) > 0)

  /** Evaluate `value` once, reference it many times (higher-order fns
    * run without common-subexpression elimination — an unbound `tokens`
    * inside a per-gram lambda re-runs the regex split per element,
    * O(|tokens|²) splits per row; see TextFunctions.letBind). */
  private def letBind(value: Column)(body: Column => Column): Column =
    element_at(transform(array(value), body), 1)

  /** Word n-gram shingles; documents shorter than n collapse to one
    * whole-document shingle. */
  def shingles(text: Column, n: Int): Column = letBind(tokens(text)) { toks =>
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct 64-bit-hashed word n-grams in a single tokens pass,
    * SORTED ascending. Each gram hashes its n tokens directly — no
    * per-gram string concat or slice allocation. Jaccard over hashed
    * grams equals Jaccard over the grams themselves absent 64-bit
    * collisions; all similarity operators below consume this form, and
    * the sort lets verification intersect via the allocation-free
    * two-pointer merge ([[graft.functions.SortedIntersectSize]]). */
  def hashedShingles(text: Column, n: Int): Column =
    letBind(tokens(text)) { toks =>
      array_sort(array_distinct(
        when(size(toks) < n, array(xxhash64(concat_ws(" ", toks))))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => xxhash64((0 until n).map(j => element_at(toks, i + j + 1)): _*)))))
    }

  /** ⌈t·n⌉ as a column, guarded against IEEE double-rounding: 0.9·10
    * evaluates to 9.000000000000002, whose plain ceil is 10 — which
    * would shrink the containment prefix one gram short of lossless
    * and over-tighten the |B| ≥ ⌈t·|A|⌉ length filter, silently
    * dropping pairs that sit exactly at the threshold. The epsilon is
    * orders of magnitude above the product's representation error
    * (≤ n·2⁻⁵² ≈ 2·10⁻¹⁰ even at n = 10⁶ grams) and orders below 1,
    * so it can never cross a genuinely non-integer bound. Shared by
    * [[containmentCandidates]] and [[ContainmentIndex.probe]] so the
    * two candidate generators cannot diverge at the boundary. */
  private[operators] def thresholdCeil(threshold: Double, n: Column): Column =
    ceil(lit(threshold) * n - lit(1e-9))

  /** |A∩B| of two sorted long arrays (native merge expression). */
  private[operators] def intersectSize(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.SortedIntersectSize(expression(a), expression(b)))
  }

  // ---- exact dedupe --------------------------------------------------

  /** Keep one row per exact text (first by `tieBreak` asc). The group-by
    * is on a 64-bit hash, not the text itself: the shuffle carries
    * (hash, id) instead of document bodies; survivors join back by id. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = df
      .select(col(idCol), xxhash64(col(textCol)).as("__h"))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Corpus-wide paragraph-level dedup (the CCNet/RefinedWeb pass that
    * removes boilerplate repeated ACROSS pages, finer-grained than
    * whole-document [[exact]]): split each text on `sep`, keep only the
    * FIRST occurrence of every distinct paragraph — ordering by
    * (`idCol`, position), so the winner is deterministic and intra-doc
    * repeats also collapse to their first position — then reassemble
    * each document from its surviving paragraphs in original order.
    * Blank paragraphs never win or survive; a document whose every
    * paragraph was seen earlier vanishes from the output.
    *
    * Output: (`idCol`, `textCol` rebuilt, n_paragraphs kept).
    *
    * Scale shape: the winner-per-paragraph aggregate groups BY the
    * paragraph text, so partial aggregation collapses a mega-duplicated
    * boilerplate paragraph to one row per map partition before the
    * shuffle — the skew a window-rank formulation would serialize into
    * a single task. Two shuffles total (by paragraph, then by doc), and
    * the second one carries only surviving paragraphs. */
  def paragraphDedup(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n\n"): DataFrame = {
    val paras = df
      .select(col(idCol), posexplode(
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__idx", "__p")))
      .filter(trim(col("__p")) =!= "")
    val winners = paras
      .groupBy(col("__p"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__w"))
      .select(col("__w").getField(idCol).as(idCol),
        col("__w").getField("__idx").as("__idx"), col("__p"))
    winners
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__idx"), col("__p")))),
            s => s.getField("__p")),
          sep).as(textCol),
        count(lit(1)).as("n_paragraphs"))
  }

  // ---- bucketed near-dup pair join -------------------------------------

  /** Candidate pairs of rows that share a bucket — the one pair join
    * behind every bucketed near-dup operator (MinHash bands, SimHash
    * and media-hash blocks, hyperplane signatures, k-means cells).
    * `rows` carries `__id`, the `bucket` columns and the `payload`
    * columns; the caller caches it, so the census, both cold join
    * sides and the star join read that one materialization.
    *
    * A bucket larger than `cap` would make the self-join O(bucket²)
    * inside one task — the classic LSH-dedupe failure on a
    * mega-duplicate cluster (identical docs share ALL buckets, so
    * every one of their buckets is hot). One census per bucket counts
    * it and keeps its min id as the hub, with each payload column's
    * value at the hub (`min_by`), so star edges need no join-back.
    * Buckets of at most `cap` members pair all-by-all; over-cap
    * buckets switch to STAR edges (hub ↔ member): O(bucket) pairs that
    * keep the cluster connected for [[components]], at the cost of
    * pair-completeness *within* the hot bucket (two members close to
    * each other but not to the hub lose their direct edge — for
    * dedupe semantics the component is what matters). Hot buckets are
    * rare by construction, so the hot list and its keys broadcast and
    * the cold path's plan is the plain hash self-join.
    *
    * Output: (id_a, id_b, a_<p>, b_<p> for each payload column p),
    * id_a < id_b (the hub is ≤ every member id). In a cold pair `a_`
    * holds id_a's row, in a star pair the hub's. A pair sharing
    * several buckets appears once per bucket; callers dedupe. */
  private[operators] def bucketPairs(rows: DataFrame, bucket: Seq[String],
      payload: Seq[String], cap: Int): DataFrame = {
    val keys = bucket.map(col)
    val hot = rows.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"), min(col("__id")).as("__min") +:
        payload.map(p => min_by(col(p), col("__id")).as(s"__hub$p")): _*)
      .filter(col("__n") > cap)
      .drop("__n")
    val cold = rows.join(broadcast(hot.select(keys: _*)), bucket, "left_anti")
    def pair(idA: Column, idB: Column, a: String => Column,
        b: String => Column): Seq[Column] =
      Seq(idA.as("id_a"), idB.as("id_b")) ++
        payload.map(p => a(p).as(s"a_$p")) ++ payload.map(p => b(p).as(s"b_$p"))
    val coldPairs = cold.as("l")
      .join(cold.as("r"), bucket.map(k => col(s"l.$k") === col(s"r.$k"))
        .reduce(_ && _) && col("l.__id") < col("r.__id"))
      .select(pair(col("l.__id"), col("r.__id"),
        p => col(s"l.$p"), p => col(s"r.$p")): _*)
    val starPairs = rows.join(broadcast(hot), bucket)
      .filter(col("__id") =!= col("__min"))
      .select(pair(col("__min"), col("__id"), p => col(s"__hub$p"), col): _*)
    coldPairs.unionByName(starPairs)
  }

  // ---- MinHash + LSH -------------------------------------------------

  /** Candidate pairs (idA < idB) that share ≥1 LSH band, with their
    * exact shingle-set Jaccard similarity. Signatures are identical to
    * [[buildIndex]]'s (same seeded hashing — asserted by the
    * incremental ≡ batch spec), but the batch hot path keeps its own
    * lean pipeline: one cached (id, grams) projection and a pure
    * codegen HashAggregate for the k min slots.
    *
    * Scale shape: shingles EXPLODE to (id, shingle) rows and the k
    * signature slots are k `min` aggregates — partial aggregation
    * combines map-side, nothing materializes a per-row k×|shingles|
    * expression tree (the naive array-of-transforms formulation blows
    * up codegen and recomputes the signature per band). The pair join
    * ([[bucketPairs]] on (band, hash), capped at `maxBandBucket`)
    * shuffles only (band, id); shingle sets rejoin by id at the end.
    *
    * Recall caveat of the cap, stated precisely: a star edge still
    * passes through the jaccard verify, so if EVERY bucket shared by a
    * truly-similar pair (A, B) is hot AND neither A nor B clears the
    * caller's threshold against those buckets' min docs, the pair is
    * lost to [[minhashLsh]] — the scenario is a >maxBandBucket cluster
    * of boilerplate-dominated signatures (template pages whose shared
    * grams win every minhash slot). The remedies are a larger
    * maxBandBucket or stripping the boilerplate before shingling;
    * within-bucket all-pairs at that size is the O(cluster²) failure
    * the cap exists to prevent.
    *
    * Measured (DedupRecallSpec, 40-doc boilerplate cluster tripping a
    * cap of 16 + 10 planted cold near-dup pairs): direct pair recall
    * 14.7% (116/790 — the O(n) star edges), cold-path recall exactly
    * 1.0, component partition IDENTICAL to the exhaustive-Jaccard
    * graph, and the uncapped generator lossless on the same corpus —
    * capping is the only loss source, and it loses only intra-hot-
    * cluster direct edges that component closure re-derives. */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, nBands: Int = 16,
      maxBandBucket: Int = 1024): DataFrame = {
    val rows = k / nBands
    // repartition by id: parallelizes the CPU-heavy shingle/signature
    // stage even when the source is a single parquet split, and the
    // groupBy(__id) below reuses the partitioning (no extra shuffle)
    val par = graft.core.Par.widthFor(df)
    // cache() is load-bearing twice over: (a) the shingle arrays feed
    // three plan branches (signature, and both sides of the verify
    // join) — uncached, Catalyst re-inlines the full shingle expression
    // into each, and InferFiltersFromGenerate even pushes a copy into
    // the single-split scan; (b) it materializes AFTER the repartition,
    // so every downstream stage runs at full parallelism
    val sh = df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"),
        hashedShingles(col(textCol), shingleN).as("__sh"))
      .cache()
    val exploded = sh.select(col("__id"), explode(col("__sh")).as("__s"))
    val minAggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("__s"))).as(s"__m$i"))
    val sig = exploded.groupBy(col("__id")).agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until nBands).map(b =>
      xxhash64((lit(b) +: (b * rows until (b + 1) * rows)
        .map(i => col(s"__m$i"))): _*).as(s"__band$b"))
    // both sides of the band self-join read this — materialize once
    val banded = sig
      .select(col("__id"), array(bandCols: _*).as("__bands"))
      .select(col("__id"), posexplode(col("__bands")).as(Seq("__b", "__bh")))
      .cache()
    verifyJaccard(
      bucketPairs(banded, Seq("__b", "__bh"), Nil, maxBandBucket).distinct(), sh)
  }

  /** Persistable LSH signature index: one row per document carrying its
    * hashed gram set and band keys — `(id, __sh, __bands)`. Write it as
    * a parquet table partitioned however the corpus is partitioned; a
    * 100 TB continuous-dedupe pipeline computes this once per arriving
    * slice and never re-tokenizes history. */
  def buildIndex(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, k: Int = 64, nBands: Int = 16): DataFrame = {
    val rows = k / nBands
    val par = graft.core.Par.widthFor(df)
    val sh = df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"),
        hashedShingles(col(textCol), shingleN).as("__sh"))
    // exploded rows carry ONLY (id, gram), and the signature groupBy is
    // pure min aggregates — fully codegen'd HashAggregate with map-side
    // combine. Carrying the gram array through the explode replicates
    // it per gram (O(|grams|²) shuffle bytes per doc); folding it back
    // with collect_list demotes the whole aggregate to the non-codegen
    // object path (both measured ~3× on the LSH pipeline). Instead the
    // gram arrays rejoin by id: both sides share the repartition-by-id
    // clustering, so the join adds no shuffle, only a second (cheap)
    // shingle evaluation when the plan isn't cached.
    val exploded = sh.select(col("__id"), explode(col("__sh")).as("__s"))
    val minAggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("__s"))).as(s"__m$i"))
    val sig = exploded.groupBy(col("__id")).agg(minAggs.head, minAggs.tail: _*)
    val bandCols = (0 until nBands).map(b =>
      xxhash64((lit(b) +: (b * rows until (b + 1) * rows)
        .map(i => col(s"__m$i"))): _*))
    sh.join(sig.select(col("__id"), array(bandCols: _*).as("__bands")), "__id")
  }

  /** Band-membership rows (__id, __b, __bh, __new) of a [[buildIndex]]
    * frame — the only shape candidate generation needs (gram arrays
    * rejoin by id at verify time). Also the row shape [[LshIndex]]
    * persists, so a file-pruned index read plugs straight in. */
  private[operators] def bandMembers(index: DataFrame,
      isNew: Boolean): DataFrame =
    index.select(col("__id"), posexplode(col("__bands")).as(Seq("__b", "__bh")))
      .withColumn("__new", lit(isNew))

  /** Candidate pairs (id_a < id_b) involving ≥1 new member, from band
    * membership rows. `newB` is the new batch's memberships (__new
    * true); `allB` is old ∪ new (old rows __new false).
    * Shared by [[incrementalCandidates]] (DataFrame-to-DataFrame) and
    * [[LshIndex.probe]] (file-pruned persisted index). Keeps its own
    * census rather than calling [[bucketPairs]]: its cold side is
    * new × all, which bounds the probe by O(|new| + collisions) where
    * the all × all self-join would scan every accumulated pair. */
  private[operators] def incrementalPairs(newB: DataFrame, allB: DataFrame,
      maxBandBucket: Int, materialize: Boolean = true): DataFrame = {
    // only buckets a NEW doc probes can produce pairs, so restrict the
    // whole candidate path — census included — to them up front via a
    // broadcast semi-join (batch bucket keys are batch-sized). Without
    // this the hot-bucket census would aggregate the ENTIRE accumulated
    // index every micro-batch: O(corpus) shuffled per batch, breaking
    // the O(|new| + collisions) incremental contract.
    val newKeys = newB.select(col("__b"), col("__bh")).distinct()
    val touched = allB.join(broadcast(newKeys), Seq("__b", "__bh"), "left_semi")
    // collapse to one row per (bucket, id): a re-delivered id sits in
    // BOTH indexes, and duplicate rows would (a) double-count the hot
    // census — a replayed batch could then flip a bucket hot and emit a
    // different pair set than the original run, breaking DedupStream's
    // overwrite-in-place idempotency — and (b) make the bucket-min
    // newness flag a nondeterministic tie-break. A re-delivered id IS
    // part of this batch, so its membership row is marked new.
    // Pinned for the duration of this call only: FIVE consumers read
    // it (hot census, its two broadcast anti-join keys, cold probe
    // side, star edges), and when allB is the file-backed index path
    // each uncached consumer re-reads the parquet and reshuffles —
    // measured 5× the probe cost at sf0.1. The pin unpersists in the
    // finally; the returned pair set is one small eager checkpoint
    // (O(|new| + collisions) rows), so a long-running DedupStream
    // accumulates nothing but ContextCleaner-reclaimed result blocks.
    // materialize=false keeps the declarative plan (inspection /
    // composition), re-deriving members per consumer, nothing pinned.
    val membersBase = touched.groupBy(col("__b"), col("__bh"), col("__id"))
      .agg(max(col("__new")).as("__new"))
    val members = if (materialize) membersBase.persist() else membersBase
    try {
      // hot buckets switch to star edges, same scheme as
      // [[bucketPairs]] but honoring the "≥1 new doc per pair"
      // contract: emit (min, m) only when m or the bucket min is new —
      // old↔old edges were produced by the batches that introduced them.
      val hot = members.groupBy(col("__b"), col("__bh"))
        .agg(count(lit(1)).as("__n"), min(col("__id")).as("__min"),
          min_by(col("__new"), col("__id")).as("__minNew"))
        .filter(col("__n") > maxBandBucket)
        .select(col("__b"), col("__bh"), col("__min"), col("__minNew"))
      val hotKeys = hot.select(col("__b"), col("__bh"))
      val coldNew = newB.join(broadcast(hotKeys), Seq("__b", "__bh"), "left_anti")
      val coldAll = members.join(broadcast(hotKeys), Seq("__b", "__bh"), "left_anti")
      val coldPairs = coldNew.as("l")
        .join(coldAll.as("r"),
          col("l.__b") === col("r.__b") && col("l.__bh") === col("r.__bh") &&
            // a re-delivered id sits in BOTH indexes: never pair it with
            // itself (the old-partner branch would otherwise emit (X, X))
            col("l.__id") =!= col("r.__id") &&
            // old partner: always (one orientation exists); new partner:
            // order ids so the pair is produced once
            (!col("r.__new") || col("l.__id") < col("r.__id")))
        // normalize to id_a < id_b so the union with star pairs (already
        // min-first) dedupes orientations in one distinct
        .select(least(col("l.__id"), col("r.__id")).as("id_a"),
          greatest(col("l.__id"), col("r.__id")).as("id_b"))
      val starPairs = members.join(broadcast(hot), Seq("__b", "__bh"))
        .filter(col("__id") =!= col("__min") && (col("__new") || col("__minNew")))
        .select(col("__min").as("id_a"), col("__id").as("id_b"))
      val out = coldPairs.unionByName(starPairs).distinct()
      if (materialize) out.localCheckpoint(true) else out
    } finally { if (materialize) { members.unpersist(); () } }
  }

  /** Exact-Jaccard verification: join each pair side to its gram array
    * (`grams` = one (__id, __sh) row per id) and score. Arrays are
    * distinct: |A ∪ B| = |A| + |B| − |A ∩ B|. */
  private[operators] def verifyJaccard(pairs: DataFrame,
      grams: DataFrame, broadcastPairs: Boolean = false): DataFrame = {
    // broadcastPairs: the incremental probe paths pass pair sets that
    // are O(collisions)-bounded eager checkpoints — broadcasting them
    // saves the two exchanges (and sorts) that would otherwise move
    // the WIDE gram arrays by id_a then id_b. The corpus-wide callers
    // (minhashCandidates) keep the default: their pair sets scale with
    // the corpus and must stay on the shuffle path. Both hints are the
    // BOUNDED form (spark.graft.broadcast.maxBytes demotes an
    // oversized build side — hot-bucket-heavy corpora can push even an
    // O(collisions) set past broadcast limits), and the second join is
    // hinted via the join-1 INTERMEDIATE: a broadcast hint binds only
    // to the nearest join above the hinted subtree, so hinting the
    // pairs alone would leave the id_b join to the checkpoint's
    // sentinel stats — at scale a sort-merge of the wide __sh_a rows.
    if (broadcastPairs) {
      val withA = graft.core.Par.boundedBroadcast(pairs)
        .join(grams.select(col("__id").as("id_a"), col("__sh").as("__sh_a")),
          "id_a")
      graft.core.Par.boundedBroadcast(withA)
        .join(grams.select(col("__id").as("id_b"), col("__sh").as("__sh_b")),
          "id_b")
        .withColumn("__i", intersectSize(col("__sh_a"), col("__sh_b")))
        .select(col("id_a"), col("id_b"),
          (col("__i").cast("double") /
            (size(col("__sh_a")) + size(col("__sh_b")) - col("__i")))
            .as("jaccard"))
    } else pairs
      .join(grams.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(grams.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      .withColumn("__i", intersectSize(col("__sh_a"), col("__sh_b")))
      .select(col("id_a"), col("id_b"),
        (col("__i").cast("double") /
          (size(col("__sh_a")) + size(col("__sh_b")) - col("__i"))).as("jaccard"))
  }

  /** Incremental near-dup candidates: pairs involving at least one NEW
    * document, verified with exact Jaccard — without re-banding or
    * re-pairing the existing corpus against itself. `newIndex` and
    * `oldIndex` are [[buildIndex]] outputs. Every pair appears once,
    * ordered id_a < id_b. The band join probes old+new with only the
    * new side exploded on the left — shuffle is O(|new| + collisions),
    * not O(|corpus|²). NOTE on IO: this DataFrame-shaped entry point
    * evaluates whatever plan `oldIndex` carries, so reading a whole
    * persisted index here scans O(corpus) files per call even though
    * the shuffle stays incremental — continuous pipelines should store
    * the index with [[LshIndex.append]] and probe via [[LshIndex.probe]],
    * which pushes the touched-bucket predicate into the scan. */
  def incrementalCandidates(newIndex: DataFrame, oldIndex: DataFrame,
      maxBandBucket: Int = 1024, materialize: Boolean = true): DataFrame = {
    // band join carries only (band, hash, id) — gram arrays rejoin by id
    val newB = bandMembers(newIndex, isNew = true)
    val allB = bandMembers(oldIndex, isNew = false).unionByName(newB)
    val pairs = incrementalPairs(newB, allB, maxBandBucket, materialize)
    // a re-delivered id would otherwise join twice per side and
    // multiply verify rows — one gram row per id. Prefer the NEW copy
    // via a broadcast anti-join on the batch-sized id set (a replayed
    // id's rows are identical — same document, same grams); then
    // collapse what remains of the OLD side per id, because the
    // anti-join alone only dedupes new-vs-old — duplicate old rows
    // (the torn-compaction "merged + stale source" state readers must
    // tolerate, or an id re-delivered under another batch id) would
    // survive it and multiply verify output rows. The collapse runs
    // AFTER a semi-join cut to the pair ids, so the wide gram arrays
    // that shuffle are O(collisions) rows, never the whole old index.
    // With the pairs checkpointed (materialize), they are
    // O(|new| + collisions)-bounded — broadcast them too (bounded
    // hint), so the remaining verify joins stay map-side.
    val newIds = newIndex.select(col("__id")).distinct()
    val pairIds = pairs.select(col("id_a").as("__id"))
      .unionByName(pairs.select(col("id_b").as("__id"))).distinct()
    val grams = newIndex.select(col("__id"), col("__sh"))
      .unionByName(oldIndex.select(col("__id"), col("__sh"))
        .join(broadcast(newIds), Seq("__id"), "left_anti")
        .join(broadcast(pairIds), Seq("__id"), "left_semi")
        .dropDuplicates("__id"))
    verifyJaccard(pairs, grams, broadcastPairs = materialize)
  }

  /** Connected components over a similarity pair list (id_a, id_b) via
    * large-star / small-star alternation (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round
    * re-points edges at neighborhood minima, collapsing trees toward
    * stars rooted at the component min. Converges in O(log n) rounds
    * even on deep chains — unlike min-label propagation's O(diameter) —
    * so a pathological long-path graph can't turn into thousands of
    * shuffle rounds. Every round `localCheckpoint`s the edge set:
    * lineage is truncated, so round k's plan doesn't embed rounds
    * 1..k-1 (Catalyst re-planning otherwise grows superlinearly with
    * iteration count; stale checkpoint blocks are reclaimed by the
    * ContextCleaner as the loop drops references).
    * Returns (id, component) where component = min id in the cluster.
    *
    * Size-adaptive: star rounds run distributed only while the edge set
    * exceeds `localFinishEdges`; below it the remaining graph collects
    * to the driver for an O(E α(E)) union-find finish. Each star round
    * only shrinks the canonical edge set (trees collapse toward stars,
    * parallel edges merge), so every run eventually crosses the
    * threshold — and a thresholded similarity graph is edges-only
    * (two longs a pair), so the default bounds driver memory at ~MBs.
    * Set 0 to force fully-distributed rounds. */
  def components(pairs: DataFrame, maxIter: Int = 50,
      localFinishEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    // materialize the pair list ONCE: nodes and edges each read it
    // twice, and `pairs` is typically an expensive similarity-join
    // plan — four re-evaluations of the LSH pipeline otherwise
    val p = pairs.select(col("id_a"), col("id_b")).localCheckpoint()
    val nodes = p.select(col("id_a").as("id"))
      .union(p.select(col("id_b").as("id"))).distinct()
    // canonical directed edges u > v; self-loops contribute membership
    // (via `nodes`) but no connectivity
    var edges = p
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()

    // the driver finish needs integral ids (string/other id types take
    // the distributed rounds, which are type-generic via greatest/least)
    val integralIds = edges.schema.fields.forall(f =>
      f.dataType == org.apache.spark.sql.types.LongType ||
        f.dataType == org.apache.spark.sql.types.IntegerType)
    val localCutoff = if (integralIds) localFinishEdges else -1L

    def unionFindFinish(e: DataFrame): DataFrame = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      val seen = scala.collection.mutable.Set.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      def idAt(row: org.apache.spark.sql.Row, i: Int): Long = row.get(i) match {
        case l: Long => l
        case n: Int => n.toLong
        case other => sys.error(s"non-integral id in local finish: $other")
      }
      e.collect().foreach { row =>
        val (u, v) = (idAt(row, 0), idAt(row, 1))
        seen += u; seen += v
        val (ru, rv) = (find(u), find(v))
        if (ru != rv) parent(math.max(ru, rv)) = math.min(ru, rv)
      }
      import spark.implicits._
      val labels = seen.iterator.map(k => (k, find(k)))
        .filter { case (k, r) => k != r }.toSeq
      // labels materialize as (Long, Long); cast back to the caller's id
      // type so IntegerType ids don't come back widened to bigint on this
      // path only (the distributed path preserves the input type) — the
      // output schema must not depend on which finish the edge count picks
      val idType = nodes.schema("id").dataType
      val typed = labels.toDF("id", "__c")
        .select(col("id").cast(idType), col("__c").cast(idType))
      nodes.join(typed, Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
    }

    // large-star: every neighbor x > u re-points at m(u) = min(Γ(u) ∪ u).
    // Output stays canonical: x > u ≥ m(u).
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val minN = sym.groupBy("u")
        .agg(least(min(col("v")), first(col("u"))).as("__m"))
      sym.join(minN, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("__m").as("v"))
        .distinct()
    }

    // small-star: smaller neighbors (and u itself) re-point at the min
    // of u's smaller neighborhood. Canonical in, canonical out.
    def smallStar(e: DataFrame): DataFrame = {
      val minN = e.groupBy("u").agg(min(col("v")).as("__m"))
      val redirected = e.join(minN, "u")
        .filter(col("v") =!= col("__m"))
        .select(col("v").as("u"), col("__m").as("v"))
      redirected.union(minN.select(col("u"), col("__m").as("v"))).distinct()
    }

    // fixpoint when the canonical edge set stops changing; (count,
    // hash-xor) is an order-free, overflow-free set signature computed
    // in one tiny agg (ANSI mode forbids a wrapping sum)
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }

    var sig = signature(edges)
    var converged = false
    var i = 0
    while (!converged && sig._1 > localCutoff && i < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      i += 1
    }
    if (!converged && sig._1 <= localCutoff) unionFindFinish(edges)
    else if (!converged)
      // an unconverged forest still has depth ≥ 2 nodes whose parent is
      // NOT the component min — emitting labels would silently split
      // components, which is worse than failing
      throw new IllegalStateException(
        s"components did not converge in $maxIter star rounds " +
          s"(${sig._1} edges remain) — raise maxIter or localFinishEdges")
    else
      // at fixpoint every non-root carries exactly one edge to its root
      nodes.join(
          edges.groupBy(col("u").as("id")).agg(min(col("v")).as("__c")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("__c"), col("id")).as("component"))
  }

  /** Near-dup dedupe: one survivor (min id) per connected component of
    * the ≥-threshold similarity graph — chains a~b~c collapse to one
    * document even when (a,c) itself fell below threshold. */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
      threshold: Double = 0.8, shingleN: Int = 3, k: Int = 64,
      nBands: Int = 16): DataFrame = {
    val pairs = minhashCandidates(df, textCol, idCol, shingleN, k, nBands)
      .filter(col("jaccard") >= threshold)
    val losers = components(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact thresholded similarity join via prefix filtering (the
    * AllPairs/PPJoin family — Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection", WWW'08): two sets with Jaccard ≥ t
    * must share at least one token among their first
    * |s| − ⌈t·|s|⌉ + 1 tokens under a global ordering. Ordering tokens
    * rarest-first makes prefix collisions scarce, so the candidate set
    * stays near the true pair count.
    *
    * Scale shape vs [[ngramJaccardPairs]]: no blocking column needed and
    * no O(block²) — candidates come from an inverted index over prefix
    * grams only (explode → equi-join on gram), the frequency ordering
    * keeps hot grams out of prefixes (anti-skew by construction), and
    * gram arrays rejoin by id for the exact verify. All shuffles carry
    * (gram, id) or (id, grams-of-one-doc); nothing is quadratic in a
    * partition.
    *
    * Fit: prefix filtering assumes a Zipfian vocabulary (real text) —
    * every document then owns some rare grams and prefixes rarely
    * collide. On tiny-vocabulary corpora every gram is hot and the
    * candidate set degenerates toward all-pairs even with the length +
    * positional filters; there, [[minhashCandidates]] (LSH banding) is
    * the right tool, trading exactness for collision-free band keys.
    * Higher thresholds sharpen both filters (prefix length shrinks as
    * (1−t)·|s|, required overlap α grows), so exact joins at t ≥ 0.7
    * stay cheap even on adversarial vocabularies. */
  def prefixJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      threshold: Double, shingleN: Int = 2): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0,1]")
    val prepped = preppedShingles(df, textCol, idCol, shingleN)
    try {
      // Materialize the verified pairs eagerly (localCheckpoint blocks
      // are ContextCleaner-reclaimed once the caller drops the frame,
      // unlike .cache()), so the big shingle frame can be unpersisted
      // HERE instead of leaking one pinned cache per call. The result
      // is the small side by construction — pairs at jaccard >= t, not
      // the corpus-sized shingle table.
      verifyJaccard(prefixCandidates(prepped, threshold), prepped)
        .filter(col("jaccard") >= threshold)
        .localCheckpoint(true)
    } finally { prepped.unpersist(); () }
  }

  /** The (__id, __sh) shingle frame every PPJoin stage reads, cached
    * AND eagerly materialized: three independent consumers (gram
    * frequencies, the sorted-prefix build, the exact verify) fan out
    * from it inside one query, and AQE submits their exchange jobs
    * concurrently — pinning the frame with its own tiny job FIRST
    * guarantees the shingle hashing runs exactly once instead of
    * racing the cache population. Callers must not unpersist until
    * the query's action completed. */
  private def preppedShingles(df: DataFrame, textCol: String,
      idCol: String, shingleN: Int): DataFrame = {
    // cluster width, NOT the byte-derived Par.widthFor: the stages
    // that fan out from this cache (the PPJoin prefix self-join and
    // the exact verify) cost O(candidate pairs x grams) — quadratic in
    // bucket occupancy, so a width derived from input BYTES
    // under-parallelizes them (measured 1.7x on l19 at sf0.1)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val prepped = df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"),
        hashedShingles(col(textCol), shingleN).as("__sh"))
      .cache()
    prepped.count()
    prepped
  }

  /** Candidate (id_a, id_b) pairs of the PPJoin prefix filter BEFORE
    * the exact verify — package-visible so the bench can receipt the
    * candidate volume next to the wall time (a quadratic candidate
    * blowup is the one way this operator degrades, and the receipt
    * makes it visible instead of inferred). */
  private[graft] def prefixCandidates(prepped: DataFrame,
      threshold: Double): DataFrame = {
    val gramDf = prepped.select(explode(col("__sh")).as("__g"))
      .groupBy("__g").agg(count(lit(1)).as("__df"))
    // per-doc grams ordered rarest-first under the global (df, gram) order
    val sorted = prepped.select(col("__id"), explode(col("__sh")).as("__g"))
      .join(gramDf, "__g")
      .groupBy("__id")
      .agg(array_sort(collect_list(struct(col("__df"), col("__g")))).as("__dg"))
      .select(col("__id"),
        transform(col("__dg"), s => s.getField("__g")).as("__sorted"))
    // prefixes carry (set size, position) for the PPJoin length +
    // positional filters: with a small vocabulary (high-df grams) the
    // raw prefix-collision set degenerates toward all-pairs; these two
    // predicates prune it back at join time, before the distinct.
    val prefixes = sorted.select(col("__id"),
      size(col("__sorted")).as("__n"),
      posexplode(slice(col("__sorted"), lit(1),
        (size(col("__sorted")) -
          ceil(lit(threshold) * size(col("__sorted"))).cast("int") + 1)))
        .as(Seq("__pos", "__p")))
    // required overlap for jaccard ≥ t: α = ⌈t/(1+t)·(|A|+|B|)⌉; the
    // first shared token (rarest) bounds |A∩B| by the shorter suffix
    val alpha = ceil(lit(threshold / (1 + threshold)) *
      (col("l.__n") + col("r.__n")))
    prefixes.as("l")
      .join(prefixes.as("r"),
        col("l.__p") === col("r.__p") && col("l.__id") < col("r.__id") &&
          // length filter: t ≤ jaccard ≤ min/max sizes
          least(col("l.__n"), col("r.__n")) >=
            ceil(lit(threshold) * greatest(col("l.__n"), col("r.__n"))) &&
          // positional filter (pos is 0-based: suffix incl. this token)
          least(col("l.__n") - col("l.__pos"), col("r.__n") - col("r.__pos"))
            >= alpha)
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /** Benchmark decontamination: for every (corpus doc, benchmark item)
    * pair sharing n-grams, the containment score
    * |grams(bench) ∩ grams(doc)| / |grams(bench)| — the asymmetric
    * overlap that flags a benchmark item leaked into training data even
    * when the doc is much longer (Jaccard would dilute it).
    *
    * Scale shape: benchmarks are small by nature → their gram index
    * broadcasts; the corpus explodes to (gram, doc) once and counts
    * matches map-side per (doc, bench). No document pair materializes
    * and nothing shuffles but the per-pair hit counts. */
  def containmentPairs(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      minContainment: Double = 0.8): DataFrame = {
    val par = graft.core.Par.widthFor(corpus)
    val corpusGrams = corpus.repartition(par, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(hashedShingles(col(textCol), n)).as("__g"))
    val benchGrams = benchmark
      .select(col(idCol).as("bench_id"),
        hashedShingles(col(textCol), n).as("__bg"))
      .select(col("bench_id"), size(col("__bg")).as("__bn"),
        explode(col("__bg")).as("__g"))
    corpusGrams
      .join(broadcast(benchGrams), Seq("__g"))
      .groupBy(col("doc_id"), col("bench_id"), col("__bn"))
      .agg(count(lit(1)).as("__hits"))
      .select(col("doc_id"), col("bench_id"),
        (col("__hits").cast("double") / col("__bn")).as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Whole-corpus benchmark decontamination with a broadcast Bloom
    * sketch: every corpus doc is labeled contaminated iff it shares ANY
    * word n-gram with the benchmark set (the hard-filter semantics of
    * Brown et al. 2020 §C / Lee et al. 2022 "Deduplicating Training
    * Data…" dedup-style decontamination). Output is EXACT —
    * (doc_id, matched_grams, contaminated) for every corpus row — the
    * sketch only decides who must face the exact check.
    *
    * Scale shape (the reason this exists next to [[containmentPairs]]):
    * the naive form explodes 100 TB of corpus into n-grams and joins
    * them all against the benchmark index. Here the benchmark's distinct
    * hashed grams are folded distributed into a Bloom filter
    * (`df.stat.bloomFilter`, an aggregation — no driver materialization
    * of the gram set beyond the fixed-size sketch), and the sketch
    * probes each doc's gram array map-side inside whole-stage codegen
    * ([[graft.functions.BloomMightContainAny]]). No false negatives, so
    * docs the sketch clears are PROVEN clean and emit `matched_grams=0`
    * without ever being exploded; only the contaminated-or-false-positive
    * sliver (a ~`fpp` fraction of clean docs) pays the explode + exact
    * broadcast join that separates real hits from sketch noise. Nothing
    * but doc ids and gram hashes ever shuffles.
    *
    * Bounded driver work: one `count()` of the benchmark's distinct
    * grams (sizes the sketch) and the sketch itself (~1.2 MB at 1M
    * grams / fpp 1e-3) — benchmarks are small by nature. `benchGrams`
    * is cached for its two uses (sketch fold + exact confirm); lifetime
    * is the session cache registry, dropped by the per-query
    * `clearCache()` in Bench/Verify. Collisions: grams are compared as
    * xxhash64 values (same containment convention as the rest of the
    * file). */
  def bloomDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3,
      fpp: Double = 1e-3): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val benchGrams = benchmark
      .select(explode(hashedShingles(col(textCol), n)).as("__g"))
      .distinct()
      .cache()
    val nGrams = math.max(benchGrams.count(), 1L)
    val bos = new java.io.ByteArrayOutputStream()
    benchGrams.stat.bloomFilter("__g", nGrams, fpp).writeTo(bos)
    val sketchBytes = bos.toByteArray
    val flagged = corpus.select(col(idCol).as("doc_id"),
        hashedShingles(col(textCol), n).as("__grams"))
      .withColumn("__cand",
        column(graft.functions.BloomMightContainAny(
          expression(col("__grams")), sketchBytes)))
    // sketch-cleared docs: proven clean, map-only verdict (no explode)
    val clean = flagged.filter(!col("__cand"))
      .select(col("doc_id"), lit(0L).as("matched_grams"))
    // candidate sliver: exploded once, every gram marked against the
    // exact benchmark set by broadcast LEFT join, then one count per
    // doc — a sketch false positive keeps all its gram rows (no inner
    // join drops it) and lands matched_grams=0 without a join-back.
    // explode_outer so a pathological empty gram array still yields a
    // verdict row.
    val confirmed = flagged.filter(col("__cand"))
      .select(col("doc_id"), explode_outer(col("__grams")).as("__g"))
      .join(broadcast(benchGrams.withColumn("__hit", lit(1))),
        Seq("__g"), "left")
      .groupBy("doc_id")
      .agg(sum(coalesce(col("__hit"), lit(0))).cast("long")
        .as("matched_grams"))
    clean.unionByName(confirmed)
      .withColumn("contaminated", col("matched_grams") > 0)
  }

  // ---- SimHash -------------------------------------------------------

  /** 64-bit SimHash over word unigrams (two seeded 32-bit murmurs form
    * the 64 bits; native codegen expression — [[graft.functions.SimHash64]] —
    * so the signature stage stays inside whole-stage codegen). */
  def simhash(text: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.functions.SimHash64(expression(tokens(text))))
  }

  /** Portable 60-bit SimHash over word unigrams: per-token hash = first
    * 15 hex chars of md5 (60 bits — stays in signed-positive range in
    * every engine, the same trick as [[Curation.hashSamplePortable]]);
    * each token OCCURRENCE votes ±1 per bit (tf-weighted, the classic
    * Charikar scheme); bit set iff the vote sum is strictly positive.
    * Pure built-in column algebra — any SQL engine with md5 can replay
    * the exact signature, which makes the whole pair pipeline
    * DuckDB-oracle-able. The murmur-based [[simhash]] stays the fast
    * path (one fused codegen expression vs an explode + 60 sums). */
  def simhashPortable(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bits = 60
    val voteCols = (0 until bits).map(b =>
      sum(shiftright(col("__h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"__b$b"))
    val votes = df
      .select(col(idCol).as("__id"), explode(tokens(col(textCol))).as("__tok"))
      .withColumn("__h",
        conv(substring(md5(col("__tok")), 1, 15), 16, 10).cast("long"))
      .groupBy("__id")
      .agg(voteCols.head, voteCols.tail: _*)
    val sig = (0 until bits).map(b =>
        when(col(s"__b$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    votes.select(col("__id"), sig.as("__sig"))
  }

  /** Pairs of (__id, __sig) signatures within Hamming distance
    * `maxDistance`: each 60/64-bit signature splits into 4 blocks of
    * `blockBits` bits and pairs that share a block bucket are scored
    * with the exact Hamming distance. Pigeonhole: two signatures at
    * distance ≤ 3 agree on at least one of 4 blocks, so blocking is
    * complete to 3 — for sub-cap buckets; buckets over
    * `maxBlockBucket` degrade to star edges ([[bucketPairs]]). Star
    * edges still score the EXACT distance member↔hub, so capping never
    * emits a false pair; DedupRecallSpec measures what it loses on a
    * corpus that trips the cap. Only the compact (id, sig, block) rows
    * shuffle, never text or media bytes (PlanShapeSpec asserts the
    * shared cached fork). Output: (id_a, id_b, hamming), id_a < id_b. */
  private[operators] def blockedHammingPairs(sigs: DataFrame, blockBits: Int,
      maxDistance: Int, maxBlockBucket: Int): DataFrame = {
    require(maxDistance <= 3, "block scheme guarantees completeness only to 3")
    bucketPairs(blockMembers(sigs, 4, blockBits), Seq("__b", "__bv"),
        Seq("__sig"), maxBlockBucket)
      .select(col("id_a"), col("id_b"),
        bit_count(col("a___sig").bitwiseXOR(col("b___sig"))).as("hamming"))
      // a pair found via several blocks carries the same hamming each
      // time — one distinct dedupes
      .distinct()
      .filter(col("hamming") <= maxDistance)
  }

  /** (__id, __sig, __b, __bv) block-membership rows of a signature
    * frame, repartitioned on the block key and cached. The cache is
    * load-bearing: [[bucketPairs]] reads it from four plan
    * branches (census, both cold join sides, star join), and without a
    * pinned fork point Catalyst prunes each branch differently so
    * nothing — not even an explicit pre-fork repartition exchange —
    * stays canonically identical for AQE stage reuse (measured: the
    * uncached form re-shuffles and re-signs per branch). The pre-cache
    * repartition spreads the signature work across the cluster even
    * from a single-split source (consumers still re-exchange the
    * cached rows: AQE-in-cache hides the layout from
    * EnsureRequirements, but those rows are (id, sig, block) longs —
    * O(32 bytes × 4 blocks) per doc, never text). Lifetime: the
    * session cache registry; long-running hosts drop it between
    * queries (Bench/Verify `clearCache()` per query — the round-4
    * accumulation fix). */
  private def blockMembers(sigs: DataFrame, nBlocks: Int,
      blockBits: Int): DataFrame = {
    val mask = (1L << blockBits) - 1
    val par = graft.core.Par.widthFor(sigs)
    sigs.select(col("__id"), col("__sig"),
      posexplode(array((0 until nBlocks).map(b =>
        shiftright(col("__sig"), b * blockBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("__b", "__bv")))
      .repartition(par, col("__b"), col("__bv"))
      .cache()
  }

  /** [[simhashPairs]] on the portable 60-bit signature: 4×15-bit blocks
    * ([[blockedHammingPairs]]). */
  def simhashPairsPortable(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 3, maxBlockBucket: Int = 1024): DataFrame =
    blockedHammingPairs(simhashPortable(df, textCol, idCol), 15,
      maxDistance, maxBlockBucket)

  /** Candidate pairs with SimHash Hamming distance ≤ maxDistance (≤ 3),
    * blocked on the 4 16-bit blocks ([[blockedHammingPairs]]). */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxDistance: Int = 3, maxBlockBucket: Int = 1024): DataFrame =
    blockedHammingPairs(df.select(col(idCol).as("__id"),
      simhash(col(textCol)).as("__sig")), 16, maxDistance, maxBlockBucket)

  // ---- embedding-cosine near-dup -------------------------------------

  /** Near-duplicate pairs by embedding cosine ≥ threshold: candidates
    * from random-hyperplane LSH buckets (cosine-preserving; identical
    * vectors always share a bucket), verified with exact cosine. At
    * scale only bucket collisions are scored — a thresholded
    * all-pairs-free pipeline. Buckets over `maxBucket` (a mega-cluster
    * of near-identical embeddings, or a glut of near-zero/templated
    * vectors collapsing onto one 16-bit signature) degrade to star
    * edges ([[bucketPairs]]) scored with the exact cosine to the hub;
    * DedupRecallSpec measures the lost direct pairs. */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bits: Int = 16, seed: Long = 42L,
      maxBucket: Int = 4096): DataFrame = {
    val sig = Similarity.hyperplaneSignature(dim, bits, seed)
    val par = graft.core.Par.widthFor(df)
    // repartition-then-cache fork point (see [[blockMembers]] for why
    // cache, not exchange reuse): one signature materialization
    val bucketed = df.select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .withColumn("__sig", sig(col("__v")))
      .repartition(par, col("__sig"))
      .cache()
    cosinePairs(bucketPairs(bucketed, Seq("__sig"), Seq("__v"), maxBucket),
      threshold)
  }

  /** Scores [[bucketPairs]] output over the `__v` payload with exact
    * cosine and keeps pairs at or above `threshold`: (id_a, id_b,
    * cosine). One bucket per row, so no pair repeats. */
  private def cosinePairs(pairs: DataFrame, threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        Similarity.cosine(col("a___v"), col("b___v")).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means cells as the candidate generator — only
    * embeddings assigned to the same centroid are compared, and
    * same-cell pairs with cosine ≥ threshold are semantic duplicates.
    * `centroids` come from [[Similarity.seedCentroids]] (deterministic)
    * or [[Similarity.kmeansRefine]].
    *
    * Scale shape: assignment is one broadcast pass; the self-join
    * shuffles on cell id so each cell's quadratic work is local and
    * cells are ~corpus/nlist sized. Cells larger than `maxCell` (a
    * mega-cluster of boilerplate) degrade to star edges around the
    * cell's min id ([[bucketPairs]]): transitive closure recovers
    * same-component membership, not every individual pair. */
  def semanticDupPairs(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double,
      maxCell: Int = 4096): DataFrame = {
    // cache() is load-bearing: the census and both self-join sides read
    // the assignment, which is itself a broadcast-join + window plan
    val cells = Similarity.assignCells(
        df.select(col(idCol), col(vecCol)), centroids, idCol, vecCol)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"),
        col("centroid_id"))
      .cache()
    cosinePairs(bucketPairs(cells, Seq("centroid_id"), Seq("__v"), maxCell),
      threshold)
  }

  /** Semantic dedup: prune `df` to one representative (lowest id) per
    * duplicate group, where groups are connected components of
    * [[semanticDupPairs]]. Output keeps every `df` column and adds
    * `dup_group_size` — 1 for rows with no duplicate, else the group
    * size the representative stands for (pruning provenance: row
    * weights for loss re-weighting survive the dedup). */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double,
      maxCell: Int = 4096): DataFrame = {
    val pairs = semanticDupPairs(df, idCol, vecCol, centroids, threshold,
      maxCell).select(col("id_a"), col("id_b"))
    val comp = components(pairs)
    val sizes = comp.groupBy(col("component"))
      .agg(count(lit(1)).as("dup_group_size"))
    // one left join over df does all three roles (vs the round-4
    // anti-join + inner-join + union, which scanned df twice): a row
    // outside every group has a NULL component → kept with size 1; a
    // non-representative member (component ≠ id) → dropped; the
    // representative → kept with its group size
    val annotated = comp.join(sizes, Seq("component"))
      .select(col("id").as(idCol), col("component"),
        col("dup_group_size").as("__sz"))
    df.join(annotated, Seq(idCol), "left")
      .filter(col("component").isNull || col(idCol) === col("component"))
      .select(df.columns.toIndexedSeq.map(col) :+
        coalesce(col("__sz"), lit(1L)).as("dup_group_size"): _*)
  }

  /** Cluster-representative selection by SCORE: given duplicate pairs
    * (id_a, id_b) and a per-row score, keep the argmax-score member of
    * each connected component (ties → lowest id) — the "keep the best
    * duplicate" curation policy (longest member, highest quality,
    * freshest crawl …) where [[semanticDedup]]'s min-id default is
    * arbitrary. Output keeps every `df` column + `dup_group_size`.
    *
    * Scale shape: components is the O(log n)-round star machinery;
    * the argmax is one map-side-combined `max_by` over (id, score)
    * pairs — scores join by id, text never enters the shuffle. */
  def keepBestPerCluster(df: DataFrame, pairs: DataFrame, idCol: String,
      score: Column): DataFrame = {
    val comp = components(pairs.select(col("id_a"), col("id_b")))
    val members = comp.join(
      df.select(col(idCol).as("id"), score.as("__score")), Seq("id"))
    // the struct tiebreak key (-id) is unique per member, so max_by
    // never sees equal keys — argmax is deterministic
    val best = members.groupBy(col("component"))
      .agg(max_by(col("id"),
          struct(col("__score"), (-col("id")).as("__nid"))).as("__keep"),
        count(lit(1)).as("dup_group_size"))
    // one left join over df does all three roles (same shape as
    // [[semanticDedup]]'s finish): ungrouped rows keep size 1, losers
    // drop, the argmax representative keeps its group size
    val annotated = comp.select(col("id").as(idCol), col("component"))
      .join(best, Seq("component"))
      .select(col(idCol), col("__keep"), col("dup_group_size").as("__sz"))
    df.join(annotated, Seq(idCol), "left")
      .filter(col("__keep").isNull || col(idCol) === col("__keep"))
      .select(df.columns.toIndexedSeq.map(col) :+
        coalesce(col("__sz"), lit(1L)).as("dup_group_size"): _*)
  }

  // ---- exact n-gram Jaccard ------------------------------------------

  /** Exact word-n-gram Jaccard for all pairs within a blocking key
    * (e.g. a source or LSH bucket) — the verification-grade similarity.
    * Without blocking this is O(n²); always pass a real blocking column
    * at scale. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      blockCol: String, n: Int = 2, saltBuckets: Int = 8): DataFrame = {
    // grams hash to 64-bit longs before the pairwise intersect: set
    // membership compares 8-byte values instead of strings (~an order
    // of magnitude on the O(pairs × grams) hot loop); Jaccard over
    // hashed grams equals Jaccard over grams absent 64-bit collisions
    // cluster width, NOT the byte-derived Par.widthFor: the in-block
    // self-join below is O(pairs x grams) — quadratic in block
    // occupancy — so byte-derived width under-parallelizes it
    // (measured 5x on l4 at sf0.1)
    val par = df.sparkSession.sparkContext.defaultParallelism
    // cached: both self-join sides read the gram arrays (see
    // minhashCandidates for why uncached branches explode plan cost)
    val prepped = df.repartition(par, col(idCol))
      .select(col(blockCol).as("__blk"), col(idCol).as("__id"),
        hashedShingles(col(textCol), n).as("__sh"))
      .cache()
    // salting: pair (a,b) is produced exactly once — on the salt owned
    // by a's id — but the join key becomes (block, salt), multiplying
    // parallelism by saltBuckets beyond the number of blocks
    val lhs = prepped
      .withColumn("__salt", pmod(xxhash64(col("__id")), lit(saltBuckets)))
    val rhs = prepped.withColumn("__salt",
      explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
    lhs.as("l")
      .join(rhs.as("r"),
        col("l.__blk") === col("r.__blk") && col("l.__salt") === col("r.__salt") &&
          col("l.__id") < col("r.__id"))
      .withColumn("__i", intersectSize(col("l.__sh"), col("r.__sh")))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"),
        (col("__i").cast("double") /
          (size(col("l.__sh")) + size(col("r.__sh")) - col("__i"))).as("jaccard"))
  }

  // ---- winnowing overlap ---------------------------------------------

  /** Document pairs sharing ≥ `minShared` winnowed fingerprints
    * ([[graft.functions.TextFunctions.winnowFingerprints]] — the MOSS
    * local-fingerprint scheme): the plagiarism/reuse detector that
    * catches COPIED PASSAGES (any shared run of ≥ w+k−1 tokens is
    * guaranteed a shared fingerprint) where whole-document Jaccard
    * dilutes them below threshold.
    *
    * Scale shape: candidates come from an inverted index over
    * fingerprints (explode → equi-join), so only (fingerprint, id)
    * pairs shuffle — never text. Fingerprints present in more than
    * `maxDf` documents are dropped BEFORE pairing — MOSS's own
    * noise-suppression rule (a fingerprint shared corpus-wide is
    * boilerplate, not reuse) doubling as the anti-quadratic guard: it
    * bounds per-fingerprint join fan-out at maxDf², where the LSH
    * operators need a star-edge degrade, because dropping is
    * semantically principled here. The df census is a map-side-combined
    * count over already-exploded rows; the over-cap list is tiny by
    * construction and broadcasts.
    *
    * Output: (id_a, id_b, shared_fingerprints), id_a < id_b. */
  def winnowOverlapPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, w: Int = 4, minShared: Int = 2, maxDf: Int = 64,
      portable: Boolean = false): DataFrame = {
    import graft.functions.TextFunctions
    val fp =
      if (portable) TextFunctions.winnowFingerprintsPortable(col(textCol), k, w)
      else TextFunctions.winnowFingerprints(col(textCol), k, w)
    val par = graft.core.Par.widthFor(df)
    // repartition by id parallelizes the CPU-heavy fingerprint stage
    // from a single-split source; cached because census + both join
    // sides read it (the blockMembers fork-point rationale)
    val fps = df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"), explode(fp).as("__fp"))
      .cache()
    val hot = fps.groupBy(col("__fp"))
      .agg(count(lit(1)).as("__df"))
      .filter(col("__df") > maxDf)
      .select(col("__fp"))
    val cold = fps.join(broadcast(hot), Seq("__fp"), "left_anti")
    cold.as("l")
      .join(cold.as("r"),
        col("l.__fp") === col("r.__fp") && col("l.__id") < col("r.__id"))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
      .filter(col("shared_fingerprints") >= minShared)
  }

  // ---- asymmetric containment (doc-inside-doc) ------------------------

  /** Directional shingle-containment pairs: |A∩B| / |A| ≥ `threshold`,
    * emitted for BOTH directions (a,b) with id_a ≠ id_b. Jaccard dedupe
    * ([[minhashLsh]]/[[ngramJaccardPairs]]) misses the quote-inclusion
    * case — a short document wholly embedded in a much longer one has
    * tiny Jaccard but containment ≈ 1 from the short side — and that
    * case is exactly how boilerplate-wrapped mirrors and quote farms
    * survive symmetric dedupe.
    *
    * Shingles with document frequency > `maxDf` are dropped from BOTH
    * the numerator and the denominator before pairing (the PPJoin-style
    * stop-shingle cut): they are corpus boilerplate that would otherwise
    * make candidate generation quadratic in the hottest bucket, and
    * removing them from both sides keeps the ratio a true containment
    * over the informative shingles. Documents whose informative shingle
    * set is empty are dropped (containment undefined).
    *
    * Candidate generation is the DIRECTIONAL prefix filter: order each
    * doc's kept grams rarest-first; if |A∩B| ≥ t·|A| then among A's
    * first |A| − ⌈t·|A|⌉ + 1 grams at least one is in B (more misses
    * than that contradict the threshold — lossless for any order; the
    * rarity order just minimizes collisions). So only A-prefix grams
    * join against the full gram index, with the length filter
    * |B| ≥ ⌈t·|A|⌉ (B must hold the intersection). Candidates verify
    * exactly via the sorted-array intersect expression. At t = 0.9 the
    * prefix is ~10% of each doc's grams — candidate volume drops ~10×
    * vs the naive Σ_g df(g)² self-join, and there is no corpus-sized
    * pair groupBy at all.
    *
    * Scale shape: the shuffle carries (64-bit gram hash, id) pairs only
    * — never text; candidate cardinality is Σ_g prefixDf(g)·df(g) ≤
    * maxDf·Σ prefixDf ≈ maxDf·(1−t)·|gram rows|. Output:
    * (id_a, id_b, containment) where containment = common/|A|. */
  def selfContainmentPairs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int = 3, threshold: Double = 0.5,
      maxDf: Int = 64, materialize: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "threshold in (0,1]")
    val docs = containmentDocs(df, textCol, idCol, shingleN, maxDf,
      materialize)
    try {
      val out = containmentVerify(
        containmentCandidates(docs, threshold), docs, threshold)
      // materialize eagerly so the corpus-sized doc-gram cache can be
      // unpersisted HERE instead of leaking one pinned cache per call
      // (the prefixJaccardPairs contract); the result is the small side
      // by construction — pairs above threshold, not the gram table.
      // materialize=false keeps the declarative plan (plan inspection /
      // composition into a larger job); that path re-derives the grams
      // per consumer, since nothing is cached
      if (materialize) out.localCheckpoint(true) else out
    } finally { if (materialize) { docs.unpersist(); () } }
  }

  /** Per-doc kept (df ≤ maxDf) gram arrays, twice over: hash-sorted for
    * the exact verify merge, rarest-first for the prefix cut. Cached +
    * eagerly pinned when `materialize` (prefix, probe and verify sides
    * all fan out from here — the preppedShingles fork-point rationale);
    * callers own the unpersist. */
  private def containmentDocs(df: DataFrame, textCol: String, idCol: String,
      shingleN: Int, maxDf: Int, materialize: Boolean): DataFrame = {
    val par = graft.core.Par.widthFor(df)
    val exploded = df.repartition(par, col(idCol))
      .select(col(idCol).as("__id"),
        explode(hashedShingles(col(textCol), shingleN)).as("__g"))
    val keptDf = exploded.groupBy("__g").agg(count(lit(1)).as("__df"))
      .filter(col("__df") <= maxDf)
    val docsBase = exploded.join(keptDf, "__g")
      .groupBy("__id")
      .agg(array_sort(collect_list(col("__g"))).as("__sh"),
        transform(
          array_sort(collect_list(struct(col("__df"), col("__g")))),
          s => s.getField("__g")).as("__sorted"))
    if (materialize) { val c = docsBase.cache(); c.count(); c }
    else docsBase
  }

  /** Directional prefix-filter candidates BEFORE the exact verify —
    * package-visible so [[containmentCensus]] can receipt the candidate
    * volume next to the wall time (a candidate blowup is the one way
    * this operator degrades, and the receipt makes it visible).
    * Prefix = the rarest n − ⌈t·n⌉ + 1 grams of each doc (its allowed
    * misses + 1); probe side = every kept gram, with the
    * |B| ≥ ⌈t·|A|⌉ length filter (B must hold the intersection). */
  private[graft] def containmentCandidates(docs: DataFrame,
      threshold: Double): DataFrame = {
    val prefixes = docs.select(col("__id"), size(col("__sorted")).as("__n"),
      explode(slice(col("__sorted"), lit(1),
        (size(col("__sorted")) -
          thresholdCeil(threshold, size(col("__sorted"))).cast("int") + 1)))
        .as("__p"))
    val probe = docs.select(col("__id"), size(col("__sorted")).as("__n"),
      explode(col("__sorted")).as("__p"))
    prefixes.as("l")
      .join(probe.as("r"),
        col("l.__p") === col("r.__p") && col("l.__id") =!= col("r.__id") &&
          col("r.__n") >= thresholdCeil(threshold, col("l.__n")))
      .select(col("l.__id").as("id_a"), col("r.__id").as("id_b"))
      .distinct()
  }

  /** Exact containment on candidate pairs via the sorted-array merge. */
  private def containmentVerify(candidates: DataFrame, docs: DataFrame,
      threshold: Double): DataFrame =
    candidates
      .join(docs.select(col("__id").as("id_a"), col("__sh").as("__sh_a")),
        "id_a")
      .join(docs.select(col("__id").as("id_b"), col("__sh").as("__sh_b")),
        "id_b")
      .withColumn("containment",
        intersectSize(col("__sh_a"), col("__sh_b")).cast("double") /
          size(col("__sh_a")).cast("double"))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))

  /** Receipt hook: (candidate_pairs, verified_pairs) of one
    * containment run (the l114 shape; `tools.Prof` prints it). */
  private[graft] def containmentCensus(df: DataFrame, textCol: String,
      idCol: String, threshold: Double, shingleN: Int = 4,
      maxDf: Int = 64): (Long, Long) = {
    val docs = containmentDocs(df, textCol, idCol, shingleN, maxDf,
      materialize = true)
    try {
      val cand = containmentCandidates(docs, threshold).cache()
      try {
        val nCand = cand.count()
        val nVerified = containmentVerify(cand, docs, threshold).count()
        (nCand, nVerified)
      } finally { cand.unpersist(); () }
    } finally { docs.unpersist(); () }
  }

  /** Duplicate-aware loss weighting — the soft alternative to hard
    * dedup: keep every copy, down-weight each document by its verified
    * near-dup cluster size so a 100-copy boilerplate family contributes
    * one document's worth of gradient. Connected components over the
    * `jaccard ≥ minJaccard` [[minhashCandidates]] graph; weight =
    * `round(1e6 / cluster_size)` ppm; docs in no near-dup pair form
    * their own singleton cluster at full weight.
    *
    * Returns one row per input doc: (idCol, component, cluster_size,
    * weight_ppm) — the replayable "what weight did this doc train at"
    * audit. Scale shape: the LSH candidate path is banded/bucket-capped
    * (never all-pairs), [[components]] is large-star/small-star
    * O(log n) rounds, and the join back to the corpus is an equi-join
    * on the doc id. */
  def softDedupWeights(df: DataFrame, textCol: String, idCol: String,
      minJaccard: Double = 0.8, shingleN: Int = 3, k: Int = 64,
      nBands: Int = 16): DataFrame =
    softDedupWeightsFromPairs(df.select(col(idCol)),
      minhashCandidates(df, textCol, idCol, shingleN, k, nBands)
        .filter(col("jaccard") >= minJaccard), idCol)

  /** [[softDedupWeights]] from an already-verified near-dup pair frame
    * `(id_a, id_b, …)` — the seam for a pre-built similarity graph
    * (simhash pairs, an incremental LSH index's verified edges, a
    * domain-specific matcher). `ids` is the FULL corpus id column so
    * singletons surface at weight 1e6. */
  def softDedupWeightsFromPairs(ids: DataFrame, pairs: DataFrame,
      idCol: String): DataFrame = {
    val comp = components(pairs).withColumnRenamed("id", idCol)
    val withComp = ids.select(col(idCol)).join(comp, Seq(idCol), "left")
      .withColumn("component", coalesce(col("component"), col(idCol)))
    val sizes = withComp.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    withComp.join(sizes, Seq("component"))
      .select(col(idCol), col("component"), col("cluster_size"),
        round(lit(1.0e6) / col("cluster_size").cast("double"))
          .cast("long").as("weight_ppm"))
  }

  /** Cross-source duplicate-flow matrix — the inter-crawl overlap audit
    * a web-corpus pipeline runs per snapshot: for every unordered pair
    * of sources, how many exact-duplicate texts do they share, how many
    * documents on each side carry one of those shared texts, and what
    * fraction of each source that is. "How much of crawl B is already
    * in crawl A" decides whether to dedupe against history or keep the
    * dump (reference mixes crawl snapshots per
    * dev-clickhouse/pipelines, which faces exactly this on re-ingest).
    *
    * Output per pair (src_a < src_b): (src_a, src_b, shared_texts,
    * docs_a, docs_b, share_a, share_b) where docs_a counts source-a
    * documents whose text also occurs in source b, and share_a =
    * docs_a / total docs of source a, rounded 6dp. Pairs sharing
    * nothing don't appear.
    *
    * Scale shape: the corpus collapses to one row per (text-hash,
    * source) with a doc count — map-side-combined, the shuffle carries
    * (hash, source, count), never document bodies. The pair matrix is
    * a self-equi-join ON THE HASH (per-text fan-out ≤ sources², a
    * small constant — never doc×doc), and per-source totals are one
    * tiny aggregate broadcast back. */
  def crossSourceDupFlow(df: DataFrame, textCol: String,
      sourceCol: String): DataFrame = {
    val st = df.filter(col(sourceCol).isNotNull)
      .select(xxhash64(col(textCol)).as("__h"), col(sourceCol).as("__src"))
      .groupBy("__h", "__src").agg(count(lit(1)).as("__n"))
    val totals = st.groupBy("__src").agg(sum("__n").as("__tot"))
    val a = st.as("a"); val b = st.as("b")
    a.join(b, col("a.__h") === col("b.__h") &&
        col("a.__src") < col("b.__src"))
      .groupBy(col("a.__src").as("src_a"), col("b.__src").as("src_b"))
      .agg(count(lit(1)).as("shared_texts"),
        sum(col("a.__n")).as("docs_a"), sum(col("b.__n")).as("docs_b"))
      .join(broadcast(totals.select(col("__src").as("src_a"),
        col("__tot").as("total_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("__src").as("src_b"),
        col("__tot").as("total_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_texts"),
        col("docs_a"), col("docs_b"),
        round(col("docs_a").cast("double") /
          col("total_a").cast("double"), 6).as("share_a"),
        round(col("docs_b").cast("double") /
          col("total_b").cast("double"), 6).as("share_b"))
  }

  /** Effective-token census — mixture planning runs on tokens that
    * SURVIVE dedup, not raw counts: per source, the raw doc/token
    * totals, the totals over global exact-dedup survivors (winner =
    * min `idCol` per text, the [[exact]] contract — a text duplicated
    * across sources attributes its one surviving copy to the winning
    * source), and the fraction of the source's tokens that dedup
    * erases. A source that looks like 10% of the corpus raw can be 2%
    * effective; this is the table an l24-style mixture fit should eat.
    *
    * Output per source: (source, docs_raw, tokens_raw, docs_effective,
    * tokens_effective, dup_token_frac rounded 6dp).
    *
    * Scale shape: token counts are computed once, map-side; the
    * survivor set is the same (hash, id) shuffle as [[exact]] — text
    * bodies never move — and both censuses are map-side-combined
    * aggregates to #sources rows. */
  def effectiveTokenCensus(df: DataFrame, textCol: String,
      idCol: String, sourceCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val toks = df.filter(col(sourceCol).isNotNull)
      .select(col(idCol), col(sourceCol).as("__src"),
        TextFunctions.tokenCount(col(textCol)).cast("long").as("__tok"),
        xxhash64(col(textCol)).as("__h"))
    val winners = toks.select(col(idCol), col("__h"))
      .groupBy("__h").agg(min(col(idCol)).as(idCol)).select(idCol)
    val raw = toks.groupBy("__src")
      .agg(count(lit(1)).as("docs_raw"), sum("__tok").as("tokens_raw"))
    val eff = toks.join(winners, Seq(idCol), "left_semi")
      .groupBy("__src")
      .agg(count(lit(1)).as("docs_effective"),
        sum("__tok").as("tokens_effective"))
    raw.join(eff, Seq("__src"), "left")
      .select(col("__src").as("source"), col("docs_raw"),
        col("tokens_raw"),
        coalesce(col("docs_effective"), lit(0L)).as("docs_effective"),
        coalesce(col("tokens_effective"), lit(0L))
          .as("tokens_effective"),
        when(col("tokens_raw") > 0L,
          round(lit(1.0) -
            coalesce(col("tokens_effective"), lit(0L)).cast("double") /
              col("tokens_raw").cast("double"), 6))
          .otherwise(lit(0.0)).as("dup_token_frac"))
  }

  /** Exact-dedup audit trail — "who kept my document": for EVERY doc,
    * the winner of its exact-text group under the [[exact]] contract
    * (min `idCol`) and whether the doc itself survived. The answer to
    * the support ticket hard dedup inevitably generates, and the join
    * table a lineage system stores. Same (hash, id) shuffle as
    * [[exact]] — text bodies never move. */
  def exactDedupTrail(df: DataFrame, textCol: String,
      idCol: String): DataFrame = {
    val h = df.select(col(idCol), xxhash64(col(textCol)).as("__h"))
    val w = h.groupBy("__h").agg(min(col(idCol)).as("winner_id"))
    h.join(w, Seq("__h"))
      .select(col(idCol), col("winner_id"),
        (col(idCol) === col("winner_id")).as("is_survivor"))
  }

  /** Contamination attribution by source — "drop the source, not the
    * doc": which sources carry the benchmark leaks
    * [[containmentPairs]] finds, and how concentrated are they? Per
    * source: contaminated doc count, total docs, share. A 40%-leaky
    * source is a pipeline bug (a crawl that ate the benchmark); a
    * 0.1% tail is organic overlap.
    *
    * Scale shape: the containment join is the prefix-filtered
    * directional pass of [[containmentPairs]]; attribution adds one
    * distinct over flagged ids, one semi-join back, and two
    * source-keyed aggregates. */
  def contaminationBySource(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, sourceCol: String, n: Int = 3,
      minContainment: Double = 0.5): DataFrame = {
    val flagged = containmentPairs(corpus, benchmark, textCol, idCol,
        n, minContainment)
      .select(col("doc_id").as(idCol)).distinct()
    val src = corpus.filter(col(sourceCol).isNotNull)
      .select(col(idCol), col(sourceCol).as("source"))
    val hit = src.join(flagged, Seq(idCol), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("contaminated_docs"))
    src.groupBy("source").agg(count(lit(1)).as("total_docs"))
      .join(hit, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("contaminated_docs"), lit(0L))
          .as("contaminated_docs"),
        col("total_docs"),
        round(coalesce(col("contaminated_docs"), lit(0L))
          .cast("double") / col("total_docs").cast("double"), 6)
          .as("share"))
  }

  /** Distinct hashed n-grams of `textCol` for one n: (`extra` columns,
    * `__g` 64-bit gram hash). Docs with fewer than n tokens yield no
    * grams. Map-side explode; gram STRINGS never leave the mapper. */
  private def hashedGramFrame(df: DataFrame, textCol: String,
      extra: Seq[Column], n: Int): DataFrame = {
    val t0 = df.select(extra :+ tokens(col(textCol)).as("__t"): _*)
    t0.filter(size(col("__t")) >= n)
      .select(extra :+ explode(transform(
        sequence(lit(0), size(col("__t")) - n),
        i => xxhash64(array_join(slice(col("__t"), i + lit(1), lit(n)),
          " ")))).as("__g"): _*)
      .distinct()
  }

  /** Decontamination policy planning — how aggressive must the n-gram
    * match be? For each n in `ns`, the number (and fraction) of corpus
    * documents sharing at least one n-gram with ANY benchmark
    * document. Small n over-blocks (common bigrams hit everything);
    * large n under-blocks (only verbatim spans hit); this curve is the
    * evidence for choosing the l22/l39 thresholds instead of
    * folklore-n=13.
    *
    * Output per n: (n, contaminated_docs, total_docs,
    * contamination_rate rounded 6dp), one row per requested n even
    * when nothing overlaps.
    *
    * Scale shape: each rung is a map-side gram explode off the same
    * scan (the ladder is a small constant); grams travel as 64-bit
    * hashes, never strings; the membership test is a semi-join on
    * (n, hash); the distinct doc set is bounded by the corpus; the
    * total is a 1-row broadcast. */
  def contaminationCurve(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String,
      ns: Seq[Int] = Seq(2, 3, 5, 8, 13)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    val corpusGrams = ns.map(n =>
      hashedGramFrame(corpus, textCol, Seq(col(idCol)), n)
        .withColumn("__n", lit(n))).reduce(_ unionByName _)
    val benchGrams = ns.map(n =>
      hashedGramFrame(benchmark, textCol, Seq.empty, n)
        .withColumn("__n", lit(n))).reduce(_ unionByName _)
    val contaminated = corpusGrams
      .join(benchGrams, Seq("__n", "__g"), "left_semi")
      .select(col("__n"), col(idCol)).distinct()
      .groupBy("__n").agg(count(lit(1)).as("contaminated_docs"))
    val totalDf = corpus.agg(count(lit(1)).as("total_docs"))
    val ladder = corpus.sparkSession.range(1).select(
      explode(array(ns.sorted.map(n => lit(n)): _*)).as("n"))
    ladder.join(contaminated.withColumnRenamed("__n", "n"),
        Seq("n"), "left")
      .crossJoin(broadcast(totalDf))
      .select(col("n"),
        coalesce(col("contaminated_docs"), lit(0L))
          .as("contaminated_docs"),
        col("total_docs"),
        when(col("total_docs") > 0L,
          round(coalesce(col("contaminated_docs"), lit(0L))
            .cast("double") / col("total_docs").cast("double"), 6))
          .otherwise(lit(0.0)).as("contamination_rate"))
  }
}
