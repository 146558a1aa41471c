package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BatchSink

/** Persistent IVF-PQ index — the compressed serving layout of
  * [[Similarity.ivfPqTopK]], completing the serving-index family
  * ([[IvfIndex]] raw vectors, [[LshIndex]] band keys,
  * [[PostingsIndex]] term postings):
  *
  *  - `centroids/` — (centroid_id, __centroid), frozen at build;
  *  - `codebook/` — (j, c, __cb), the PQ sub-codebooks, frozen at
  *    build (codes written under a different codebook would silently
  *    corrupt ADC scores — the same contract as frozen centroids);
  *  - `codes/` — (vec_id, codes) partitioned by (__batch_id, __cell):
  *    m small ints per vector, m·log₂(ksub) bits at rest. A query
  *    resolves its nprobe cells against the broadcast centroids and
  *    reads `codes/` with the partition filter — parquet prunes every
  *    unprobed cell's files, so per-query IO is nprobe/nlist of an
  *    ALREADY-COMPRESSED corpus: the two multiplicative reductions
  *    the faiss IVFPQ architecture exists for.
  *
  * The raw-vector store is NOT duplicated into the index: exact rerank
  * fetches candidates from the caller's source-of-truth table by
  * broadcast id join (≤ queries·rerank rows) — the index stays
  * codes-only. `__batch_id` gives replay-safe at-least-once appends
  * (dynamic partition overwrite), same as the sibling indexes; queries
  * collapse duplicate vec_ids, so replay or compaction duplicates
  * cannot change results. */
object IvfPqIndex {

  val CellPart = "__cell"

  private def codesPath(root: String) = s"$root/codes"
  private def centroidsPath(root: String) = s"$root/centroids"
  private def codebookPath(root: String) = s"$root/codebook"
  private def metaFile(root: String) = new Path(s"$root/_ivfpq_index_meta.json")

  private def fileSystem(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, root: String): Boolean =
    fileSystem(spark, root).exists(new Path(codesPath(root)))

  private[operators] def readMeta(spark: SparkSession,
      root: String): (Int, Int, Int, Int) = {
    val fs = fileSystem(spark, root)
    val in = fs.open(metaFile(root))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    def field(k: String): Int =
      (s""""$k"\\s*:\\s*(\\d+)""").r.findFirstMatchIn(txt) match {
        case Some(m) => m.group(1).toInt
        case None => sys.error(s"malformed ${metaFile(root)}: $txt")
      }
    (field("nlist"), field("m"), field("ksub"), field("dim"))
  }

  private def writeMeta(spark: SparkSession, root: String, nlist: Int,
      m: Int, ksub: Int, dim: Int): Unit = {
    val fs = fileSystem(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(metaFile(root), true)
    try out.write(
      s"""{"nlist":$nlist,"m":$m,"ksub":$ksub,"dim":$dim}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** Build: seed (optionally refine) IVF centroids AND the PQ codebook
    * from the corpus, then land the corpus as batch 0 of encoded,
    * cell-partitioned codes. */
  def build(corpus: DataFrame, root: String, nlist: Int, m: Int,
      ksub: Int, dim: Int, kmeansIters: Int = 0, pqIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    require(!exists(spark, root), s"index already exists at $root — " +
      "rebuilding under a live index would orphan its codes")
    // an empty build corpus writes nothing (the IvfIndex contract):
    // the streaming twin's next non-empty batch trains instead
    if (corpus.isEmpty) return
    val seeded = Similarity.seedCentroids(corpus, nlist, idCol, vecCol)
    val cents =
      if (kmeansIters == 0) seeded
      else Similarity.kmeansRefine(corpus, seeded, kmeansIters, idCol, vecCol)
    val codebook = Similarity.pqTrain(corpus, m, ksub, dim, pqIters,
      idCol, vecCol)
    writeMeta(spark, root, nlist, m, ksub, dim)
    cents.write.mode(SaveMode.Overwrite).parquet(centroidsPath(root))
    codebook.write.mode(SaveMode.Overwrite).parquet(codebookPath(root))
    appendEncoded(corpus, root, 0L, idCol, vecCol)
  }

  def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(centroidsPath(root))

  def codebook(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(codebookPath(root))

  /** Append one batch of new vectors, assigned and encoded under the
    * FROZEN build artifacts. Idempotent on `batchId`. */
  def append(newVecs: DataFrame, root: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    require(batchId > 0, "batch 0 is the build corpus; append with id > 0")
    readMeta(newVecs.sparkSession, root)
    appendEncoded(newVecs, root, batchId, idCol, vecCol)
  }

  /** Replay path for the streaming twin ([[graft.streaming.AnnStream]]):
    * an at-least-once re-delivery of the BUILD batch (id 0) must
    * re-encode under the already-frozen artifacts and overwrite its
    * own partitions — not re-train. */
  private[graft] def replayAppend(vecs: DataFrame, root: String,
      batchId: Long, idCol: String, vecCol: String): Unit = {
    readMeta(vecs.sparkSession, root)
    appendEncoded(vecs, root, batchId, idCol, vecCol)
  }

  private def appendEncoded(vecs: DataFrame, root: String, batchId: Long,
      idCol: String, vecCol: String): Unit = {
    val spark = vecs.sparkSession
    val (_, m, _, dim) = readMeta(spark, root)
    val cells = Similarity.assignCells(
      vecs.select(col(idCol), col(vecCol)),
      centroids(spark, root), idCol, vecCol)
    BatchSink.write(
      Similarity.pqEncode(vecs, codebook(spark, root), m, dim, idCol, vecCol)
        .join(cells.select(col(idCol), col("centroid_id").as(CellPart)),
          Seq(idCol)),
      batchId, codesPath(root), CellPart)
  }

  private[graft] def prunedCodes(spark: SparkSession, root: String,
      probed: Seq[Long]): DataFrame = {
    val all = spark.read.parquet(codesPath(root))
    if (probed.isEmpty) all.where(lit(false))
    else all.where(col(CellPart).isin(probed: _*))
  }

  /** ANN top-k against the persisted index: probe → pruned compressed
    * scan → ADC → exact rerank against `corpus` (the raw source-of-
    * truth table). Equivalent to `Similarity.ivfPqTopK` on the same
    * artifacts (IvfPqIndexSpec asserts it); the code scan reads only
    * probed partitions of the codes table. */
  def query(spark: SparkSession, root: String, corpus: DataFrame,
      queries: DataFrame, k: Int, rerank: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (_, m, _, dim) = readMeta(spark, root)
    val cents = centroids(spark, root)
    val cb = codebook(spark, root)
    val qs = queries.select(col(queryIdCol), col(vecCol).as("__qv"),
      Similarity.unitNorm(col(vecCol)).as("__nq"))
    val wq = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__sim").desc, col("centroid_id").asc)
    val probes = qs.select(col(queryIdCol), col("__qv"))
      .join(broadcast(cents))
      .withColumn("__sim", Similarity.cosine(col("__qv"), col("__centroid")))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col(queryIdCol), col("centroid_id"))
      .localCheckpoint() // probed-cell collect + probe join share one eval
    val probed = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val codes = prunedCodes(spark, root, probed)
      .dropDuplicates(idCol)
      .select(col(idCol), col("codes"),
        col(CellPart).cast("long").as("centroid_id"))
    val probeLut = probes
      .join(Similarity.adcLut(qs, cb, m, dim / m, queryIdCol), Seq(queryIdCol))
    val scored = codes.join(broadcast(probeLut), Seq("centroid_id"))
      .withColumn("qscore", Similarity.adcScore(col("codes"), col("__lut")))
    Similarity.pqRerank(scored, corpus, qs, k, rerank, idCol, vecCol,
      queryIdCol)
  }
}
