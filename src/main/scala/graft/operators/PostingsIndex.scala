package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BatchSink, IndexMeta}

/** Term-partitioned persistent home for the BM25 inverted index — the
  * lexical counterpart of [[IvfIndex]]'s layout argument.
  *
  * [[Retrieval.bm25TopK]] already restricts COMPUTE to the query's
  * terms, but a serving path that starts from
  * `spark.read.parquet(postings)` still SCANS every postings file
  * before the term filter drops rows — at 100 TB the scan is the bill.
  * This layout moves the term predicate into the scan:
  *
  *  - `postings/` — (term, id, tf, dl) partitioned by
  *    `(__batch_id, __tp)` where `__tp = pmod(xxhash64(term), parts)`.
  *    A query hashes its terms to partition ids (one tiny Spark job, so
  *    driver and layout can never disagree on the hash) and reads with
  *    `__tp IN (...)`: parquet partition pruning skips every file of
  *    every untouched term partition, and the residual `term IN (...)`
  *    predicate pushes into the row-group scan of the survivors.
  *  - `stats/` — one (n_docs, sum_dl) row per batch; corpus-level
  *    n_docs/avgdl is their exact Long sum, so appends update the
  *    statistics without rescanning the corpus.
  *
  * `__batch_id` is the outer level for the same reasons as IvfIndex:
  * dynamic partition overwrite makes at-least-once appends replay-safe
  * (stats rows overwrite per batch too), and
  * [[graft.core.BatchCompaction]] folds old batches by renaming a
  * directory level. Queries collapse duplicates per (term, id), so a
  * compaction crash (duplicate rows, never lost rows) cannot change
  * results. Batches must be disjoint document sets — re-ingesting a
  * document under a new batch id would double-count df and its stats
  * contribution, same contract as IvfIndex appends.
  */
object PostingsIndex {

  val TermPart = "__tp"

  private def postingsPath(root: String) = s"$root/postings"
  private def statsPath(root: String) = s"$root/stats"
  private val Meta = IndexMeta("_postings_meta.json")

  def exists(spark: SparkSession, root: String): Boolean =
    IndexMeta.exists(spark, postingsPath(root))

  def termPartition(term: Column, parts: Int): Column =
    pmod(xxhash64(term), lit(parts.toLong))

  private[graft] def readParts(spark: SparkSession, root: String): Int =
    Meta.read(spark, root, "parts").head

  private val BytesPerPart = 18L << 10

  /** Size-derived term-partition count for [[build]] — the Par.widthFor
    * discipline applied to the index LAYOUT: a constant `parts` is
    * wrong at both ends (a tiny corpus pays `parts` directory commits
    * per batch for postings that would fit in one file; a 100 TB corpus
    * at 64 parts gets no useful pruning). One term partition per
    * 18 KiB of source bytes ([[BytesPerPart]], sized so the sf0.1 suite
    * corpus derives ≈ the 32 the pruning asserts were baselined on),
    * clamped to [8, 4096]. The floor keeps narrow-corpus pruning
    * non-trivial; the cap bounds the per-batch file count (one file per
    * touched partition). Unknown stats (the defaultSizeInBytes sentinel)
    * keep the old constant default. */
  def derivedParts(docs: DataFrame): Int = {
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes >= BigInt(Long.MaxValue)) 64
    else (bytes / BytesPerPart).max(8).min(4096).toInt
  }

  /** Build the index over the initial corpus (batch 0). `parts` is
    * frozen in the meta file — every append and query must agree on it
    * or partition routing would silently miss postings. */
  def build(docs: DataFrame, root: String, parts: Int = 64,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    require(!exists(spark, root), s"index already exists at $root — " +
      "appends must reuse the frozen partition count, not rebuild")
    // an empty build corpus writes nothing (the IvfIndex contract): a
    // fileless postings/ dir would flip exists() true and break schema
    // inference; the streaming twin's next non-empty batch builds
    if (docs.isEmpty) return
    Meta.write(spark, root, "parts" -> parts)
    appendBatch(docs, root, 0L, textCol, idCol, parts)
  }

  /** Append one batch of NEW documents. Idempotent on `batchId`
    * (dynamic partition overwrite of both postings and stats). */
  def append(docs: DataFrame, root: String, batchId: Long,
      textCol: String = "text", idCol: String = "doc_id"): Unit = {
    require(batchId > 0, "batch 0 is the build corpus; append with id > 0")
    val parts = readParts(docs.sparkSession, root)
    appendBatch(docs, root, batchId, textCol, idCol, parts)
  }

  /** Replay path for the streaming twin ([[graft.streaming.LexStream]]):
    * an at-least-once re-delivery of the BUILD batch (id 0) re-derives
    * postings under the already-frozen partition count and overwrites
    * its own partitions. Package-private: the batch API keeps batch 0
    * reserved for [[build]]. */
  private[graft] def replayAppend(docs: DataFrame, root: String,
      batchId: Long, textCol: String, idCol: String): Unit = {
    val parts = readParts(docs.sparkSession, root)
    appendBatch(docs, root, batchId, textCol, idCol, parts)
  }

  private def appendBatch(docs: DataFrame, root: String, batchId: Long,
      textCol: String, idCol: String, parts: Int): Unit = {
    // one file per (batch, term-partition); rows sorted by term inside
    // each file so the residual term predicate also skips row groups
    BatchSink.write(Retrieval.postings(docs, textCol, idCol)
      .withColumn(TermPart, termPartition(col("term"), parts))
      .repartition(col(TermPart))
      .sortWithinPartitions(col(TermPart), col("term")),
      batchId, postingsPath(root), TermPart)
    BatchSink.write(
      docs.select(size(Retrieval.termsOf(col(textCol))).as("__dl"))
        .agg(count(lit(1)).as("n_docs"), sum(col("__dl")).as("sum_dl")),
      batchId, statsPath(root))
  }

  /** Corpus scalars summed exactly over the per-batch stats rows —
    * same (n_docs, avgdl) shape [[Retrieval.corpusStats]] produces. */
  def stats(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(statsPath(root))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("__sd"))
      .select(col("n_docs"),
        (col("__sd").cast("double") / col("n_docs")).as("avgdl"))

  /** Postings read restricted to the touched term partitions; the `IN`
    * on the partition column prunes at file level (PostingsIndexSpec
    * asserts selectedPartitions). */
  private[operators] def prunedPostings(spark: SparkSession, root: String,
      tps: Seq[Long]): DataFrame =
    BatchSink.read(spark, postingsPath(root), TermPart, tps)

  /** BM25 top-k against the persisted index, with file-level pruning.
    * Equivalent to `Retrieval.bm25TopK(<whole corpus>, queries)` — the
    * scorer is literally shared (PostingsIndexSpec asserts the
    * equivalence) — but the scan reads only the query terms' partitions.
    *
    * One tiny driver action bounds the plan: collecting the distinct
    * query terms and their partition ids (both ≤ |query terms|) so the
    * pruned read is planned with literal filters. */
  def query(spark: SparkSession, root: String, queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75, idCol: String = "doc_id",
      queryIdCol: String = "query_id",
      queryTextCol: String = "query_text"): DataFrame = {
    val qterms = Retrieval.queryTerms(queries, queryIdCol, queryTextCol)
      .localCheckpoint() // term collect + scorer joins share one eval
    Retrieval.scoreBm25(touchedFor(spark, root, qterms, idCol),
      stats(spark, root), qterms, k, k1, b, idCol, queryIdCol)
  }

  /** The partition-pruned postings restricted to a term set: hash the
    * terms to partition ids (one tiny Spark job, so driver and layout
    * can never disagree on the hash), scan only those partitions, and
    * keep one row per (term, document). Shared by [[query]] and
    * [[prfQuery]]'s two passes. */
  private def touchedFor(spark: SparkSession, root: String,
      qterms: DataFrame, idCol: String): DataFrame = {
    val parts = readParts(spark, root)
    val termRows = qterms
      .select(col("term"), termPartition(col("term"), parts).as(TermPart))
      .distinct().collect()
    val terms = termRows.map(_.getString(0)).toSeq
    val tps = termRows.map(_.getLong(1)).distinct.toSeq
    prunedPostings(spark, root, tps)
      .where(col("term").isin(terms: _*))
      // replay/compaction tolerance: one row per (term, document)
      .dropDuplicates("term", idCol)
      .select(col("term"), col(idCol), col("dl"), col("tf"))
  }

  /** Index-backed pseudo-relevance feedback — the serving path of
    * [[Retrieval.prfTopK]] (same RM3-family semantics, same exact-long
    * expansion weights, bit-identical answers): both scoring passes
    * read partition-PRUNED postings instead of building an index per
    * query batch, so at 100 TB each pass's IO is the touched term
    * partitions, not the corpus. The feedback docs' own term censuses
    * come from tokenizing just those fbDocs·|queries| documents out of
    * `docs` (broadcast semi-join on the id BEFORE tokenize) — the one
    * piece of the pipeline the term-partitioned layout cannot serve,
    * and corpus-free by construction. */
  def prfQuery(spark: SparkSession, root: String, docs: DataFrame,
      queries: DataFrame, k: Int, fbDocs: Int = 5, fbTerms: Int = 5,
      textCol: String = "text", idCol: String = "doc_id",
      queryIdCol: String = "query_id", queryTextCol: String = "query_text",
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val st = stats(spark, root)
    val qterms = Retrieval.queryTerms(queries, queryIdCol, queryTextCol)
      .localCheckpoint()
    val fb = Retrieval.scoreBm25(touchedFor(spark, root, qterms, idCol),
        st, qterms, fbDocs, k1, b, idCol, queryIdCol)
      .select(col(queryIdCol), col(idCol))
    val fbPost = docs
      .join(broadcast(fb.select(idCol).distinct()), Seq(idCol))
      .select(col(idCol),
        explode(Retrieval.termsOf(col(textCol))).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val expTerms = fbPost.join(broadcast(fb), Seq(idCol))
      .groupBy(col(queryIdCol), col("term"))
      .agg(sum(col("tf")).as("__w"))
      .join(qterms, Seq(queryIdCol, "term"), "left_anti")
      .withColumn("__trank", row_number().over(
        Window.partitionBy(col(queryIdCol))
          .orderBy(col("__w").desc, col("term").asc)))
      .filter(col("__trank") <= fbTerms)
      .select(col(queryIdCol), col("term"))
    val q2 = qterms.unionByName(expTerms).distinct().localCheckpoint()
    Retrieval.scoreBm25(touchedFor(spark, root, q2, idCol),
      st, q2, k, k1, b, idCol, queryIdCol)
  }
}
