package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.BatchSink
import graft.core.BatchSink.BatchCol

/** Cell-partitioned persistent home for the IVF ANN index — the
  * similarity-search counterpart of [[LshIndex]]'s layout argument.
  *
  * [[Similarity.ivfTopK]] already prunes COMPUTE to nprobe/nlist of the
  * corpus, but a serving path that starts from
  * `spark.read.parquet(cells)` still SCANS every cell's files before
  * the probe filter drops them — at 100 TB the scan, not the scoring,
  * is the bill. This layout moves the probe predicate into the scan:
  *
  *  - `centroids/` — (centroid_id, __centroid), nlist rows, broadcast
  *    on every query; frozen at build time so cell assignment of later
  *    appends stays consistent (the standard IVF contract — re-train by
  *    rebuilding, not by drifting centroids under a live index).
  *  - `cells/` — (vec_id, embedding) partitioned by
  *    `(__batch_id, __cell)` where `__cell` is the assigned
  *    centroid_id. A query resolves its nprobe cells against the
  *    broadcast centroids (driver-side, ≤ |queries|·nprobe ids), then
  *    reads `cells/` with `__cell IN (...)` — parquet partition pruning
  *    skips every file of every unprobed cell, so per-query IO is
  *    nprobe/nlist of the corpus by layout, not by filter.
  *
  * `__batch_id` is the outer level for the same reasons as LshIndex:
  * dynamic partition overwrite makes at-least-once appends replay-safe,
  * and [[graft.core.BatchCompaction]] folds old batches by renaming a
  * directory level. Queries collapse duplicates per vec_id, so a
  * compaction crash (duplicate rows, never lost rows) cannot change
  * results. `nlist` is pinned in `_ivf_index_meta.json` and enforced on
  * append — cells assigned under a different centroid set would
  * silently corrupt recall.
  */
object IvfIndex {

  val CellPart = "__cell"

  private def cellsPath(root: String) = s"$root/cells"
  private def centroidsPath(root: String) = s"$root/centroids"
  private def metaFile(root: String) = new Path(s"$root/_ivf_index_meta.json")

  private def fileSystem(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sessionState.newHadoopConf())

  def exists(spark: SparkSession, root: String): Boolean =
    fileSystem(spark, root).exists(new Path(cellsPath(root)))

  private[operators] def readNlist(spark: SparkSession, root: String): Int = {
    val fs = fileSystem(spark, root)
    val in = fs.open(metaFile(root))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    """"nlist"\s*:\s*(\d+)""".r.findFirstMatchIn(txt) match {
      case Some(m) => m.group(1).toInt
      case None => sys.error(s"malformed ${metaFile(root)}: $txt")
    }
  }

  private def writeMeta(spark: SparkSession, root: String, nlist: Int): Unit = {
    val fs = fileSystem(spark, root)
    fs.mkdirs(new Path(root))
    val out = fs.create(metaFile(root), true)
    try out.write(s"""{"nlist":$nlist}""".getBytes("UTF-8"))
    finally out.close()
  }

  /** Build the index: seed (optionally k-means-refine) centroids from
    * the corpus, assign every vector, persist both sides. The corpus
    * lands as batch 0; later [[append]] batches reuse the frozen
    * centroids. */
  def build(corpus: DataFrame, root: String, nlist: Int,
      kmeansIters: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val spark = corpus.sparkSession
    require(!exists(spark, root), s"index already exists at $root — " +
      "rebuilding under a live index would orphan its cell assignments")
    // an empty build corpus writes nothing: freezing an empty centroid
    // set would wedge every later probe/append, and fileless table
    // dirs would break schema inference — the streaming twin's next
    // non-empty batch builds instead (freeze-on-first-DATA semantics)
    if (corpus.isEmpty) return
    val seeded = Similarity.seedCentroids(corpus, nlist, idCol, vecCol)
    val centroids =
      if (kmeansIters == 0) seeded
      else Similarity.kmeansRefine(corpus, seeded, kmeansIters, idCol, vecCol)
    writeMeta(spark, root, nlist)
    centroids.write.mode(SaveMode.Overwrite).parquet(centroidsPath(root))
    appendAssigned(corpus, root, 0L, idCol, vecCol)
  }

  def centroids(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(centroidsPath(root))

  /** Append one batch of new vectors, assigned under the FROZEN build
    * centroids. Idempotent on `batchId` (dynamic partition overwrite). */
  def append(newVecs: DataFrame, root: String, batchId: Long,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val spark = newVecs.sparkSession
    require(batchId > 0, "batch 0 is the build corpus; append with id > 0")
    readNlist(spark, root) // meta must exist ⇔ centroids are frozen
    appendAssigned(newVecs, root, batchId, idCol, vecCol)
  }

  /** Replay path for the streaming twin ([[graft.streaming.AnnStream]]):
    * an at-least-once re-delivery of the BUILD batch (id 0) must
    * re-assign under the already-frozen centroids and overwrite its own
    * partitions — not re-train. Package-private: the batch API keeps
    * batch 0 reserved for [[build]]. */
  private[graft] def replayAppend(vecs: DataFrame, root: String,
      batchId: Long, idCol: String, vecCol: String): Unit = {
    readNlist(vecs.sparkSession, root)
    appendAssigned(vecs, root, batchId, idCol, vecCol)
  }

  private def appendAssigned(vecs: DataFrame, root: String, batchId: Long,
      idCol: String, vecCol: String): Unit = {
    val cents = centroids(vecs.sparkSession, root)
    BatchSink.write(Similarity.assignCells(vecs, cents, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("centroid_id").as(CellPart)),
      batchId, cellsPath(root), CellPart)
  }

  /** Cell read restricted to the probed partitions — the `IN` on the
    * partition column is what parquet prunes at file level
    * (IvfIndexSpec asserts selectedPartitions == probed cells). */
  private[graft] def prunedCells(spark: SparkSession, root: String,
      probed: Seq[Long], sinceBatch: Option[Long] = None): DataFrame = {
    val all = spark.read.parquet(cellsPath(root))
    val horizon = sinceBatch
      .map(b => all.where(col(BatchCol) >= b)).getOrElse(all)
    if (probed.isEmpty) horizon.where(lit(false))
    else horizon.where(col(CellPart).isin(probed: _*))
  }

  /** ANN top-k against the persisted index, with file-level pruning.
    * Equivalent to `Similarity.ivfTopK(<all cells>, centroids, queries)`
    * (IvfIndexSpec asserts the equivalence) — but the cell scan reads
    * only the ≤ |queries|·nprobe probed partitions.
    *
    * One tiny driver action bounds the plan: collecting the probed cell
    * ids (≤ |queries|·nprobe longs) so the pruned read is planned with
    * a literal partition filter. */
  def query(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame =
    querySince(spark, root, queries, k, nprobe, sinceBatch = None,
      idCol, vecCol, queryIdCol)

  /** [[query]] restricted to index batches with id ≥ `sinceBatch` —
    * the freshness-horizon policy ("retrieve only against vectors
    * ingested in the last N batches/days"). The batch floor is a
    * predicate on the FIRST partition column (`partitionBy(batch,
    * cell)`), so parquet prunes whole batch directories before the
    * probed-cell pruning applies. `sinceBatch = None` is [[query]]. */
  def querySince(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, nprobe: Int, sinceBatch: Option[Long],
      idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = centroids(spark, root)
    val wq = Window.partitionBy(col(queryIdCol))
      .orderBy(col("__sim").desc, col("centroid_id").asc)
    val probes = queries.select(col(queryIdCol), col(vecCol).as("__qv"))
      .join(broadcast(cents))
      .withColumn("__sim", Similarity.cosine(col("__qv"), col("__centroid")))
      .withColumn("__rn", row_number().over(wq))
      .filter(col("__rn") <= nprobe)
      .select(col(queryIdCol), col("__qv"), col("centroid_id"))
      .localCheckpoint() // probed-cell collect + probe join share one eval
    val probed = probes.select(col("centroid_id")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val cells = prunedCells(spark, root, probed, sinceBatch)
      // replay/compaction tolerance: one row per vector id
      .dropDuplicates(idCol)
      .select(col(idCol), col(vecCol).as("__cv"),
        col(CellPart).cast("long").as("centroid_id"))
    val scored = cells.join(broadcast(probes), Seq("centroid_id"))
      .withColumn("cosine", Similarity.cosine(col("__cv"), col("__qv")))
    val w = Window.partitionBy(col(queryIdCol))
      .orderBy(col("cosine").desc, col(idCol).asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col(idCol), col("cosine"), col("rank"))
  }
}
