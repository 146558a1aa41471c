package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PartitionedWriter

/** SummingMergeTree semantics — the additive sibling of
  * [[Replacing]]'s latest-wins dedup. The reference's engine family
  * offers both table kinds; its repo uses Replacing for gold tables
  * (`clickhouse/init/03_gold_tables.sql:12`) and this is the
  * pre-aggregation counterpart: the table stores PARTIAL sums, readers
  * fold rows with equal keys by adding measures, and a background
  * merge collapses the stored rows without changing what readers see.
  *
  * Why it matters at 100 TB: a counter table fed by every micro-batch
  * appends partial rows cheaply (no read-modify-write, no state), and
  * the fold is a per-key SUM that combines map-side — the write path
  * never contends, the read path shrinks as merges run. Long measures
  * only: additive folding must be associative-exact, and long addition
  * is (doubles would drift with merge order — callers scale to
  * micro-units first, as the suite convention does everywhere).
  */
object Summing {

  /** Reader fold: collapse stored partial rows to one row per key by
    * summing the measure columns — ClickHouse's `SELECT … FINAL`.
    * One map-side-combined aggregation; returns keys + measures and is
    * invariant to merge state. */
  def summedView(stored: DataFrame, keyCols: Seq[String],
      measureCols: Seq[String]): DataFrame =
    stored.groupBy(keyCols.map(col): _*)
      .agg(sum(col(measureCols.head)).as(measureCols.head),
        measureCols.tail.map(m => sum(col(m)).as(m)): _*)

  /** Append a batch of partial sums to the date-partitioned store —
    * blind and cheap by design (dedup/merging is the readers' and
    * [[merge]]'s job, exactly the MergeTree write discipline).
    *
    * Partials are SMALL by construction (pre-aggregated), so each
    * date's rows are routed to one task before the partitioned write:
    * a blind append otherwise emits one file per (task × date) and a
    * cadence of appends grows the store's file count ~32× faster than
    * it needs to — every later merge, read and listing pays for it.
    * (Bronze ingest keeps the unrouted fast path: raw batches are big
    * and date-skewed, where per-date routing would bottleneck.) */
  def appendPartials(df: DataFrame, path: String, tsCol: String): Unit = {
    PartitionedWriter.append(df.repartition(to_date(col(tsCol))), path, tsCol)
    ()
  }

  case class MergeStats(partition: String, rowsBefore: Long, rowsAfter: Long)

  /** The explicit background merge: rewrite date partitions with
    * equal-key rows folded — measures summed, the timestamp carried as
    * the per-key max (deterministic; stays inside the partition's
    * date). [[summedView]] answers are identical before, during and
    * after (the fold only re-associates long additions); the stored
    * row count shrinks to one per (key, date partition).
    *
    * `sinceDate` scopes the scan: a cadenced merge only re-reads the
    * partitions appends could have touched since the last run —
    * without it, a daily merge of a year-long counter table would
    * re-scan the cold 99% every day. The fold, its receipts and the
    * staged swap are [[fold]]'s. */
  def merge(spark: SparkSession, path: String, keyCols: Seq[String],
      measureCols: Seq[String], tsCol: String,
      sinceDate: Option[java.time.LocalDate] = None): Seq[MergeStats] = {
    val (fs, root) = PartitionedWriter.fsRoot(spark, path)
    if (!PartitionedWriter.healTable(fs, root)) return Nil
    val tbl = spark.read.parquet(path)
    val scan = sinceDate.fold(tbl)(since => tbl.filter(
      col(PartitionedWriter.DateCol) >= lit(java.sql.Date.valueOf(since))))
    fold(fs, root, scan, keyCols, measureCols, tsCol, carried = Nil)
  }

  /** The family's `TTL … GROUP BY … SET v = sum(v)` storage
    * lifecycle: partitions OLDER than `cutoff` are aggregated to a
    * coarser grain instead of dropped — measures summed, the
    * timestamp carried as the per-group max (stays inside the
    * partition's date), every other column carried as the per-group
    * MIN (the family keeps "any value from the group"; min is the
    * deterministic reading — documented divergence). Fresh partitions
    * are untouched; totals are invariant by construction; the stored
    * row count in expired partitions collapses to one per
    * (date, rollup key).
    *
    * Same [[fold]] as [[merge]], and the scan is bounded by the
    * EXPIRED date set, never the table: the cadenced lifecycle job
    * reads each cold partition exactly once, on the day it expires. */
  def ttlRollup(spark: SparkSession, path: String,
      cutoff: java.time.LocalDate, rollupKeys: Seq[String],
      measureCols: Seq[String], tsCol: String): Seq[MergeStats] = {
    val DateCol = PartitionedWriter.DateCol
    val (fs, root) = PartitionedWriter.fsRoot(spark, path)
    if (!PartitionedWriter.healTable(fs, root)) return Nil
    val expired = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$DateCol="))
      .map(_.getPath.getName.stripPrefix(s"$DateCol="))
      .filter(d => java.time.LocalDate.parse(d).isBefore(cutoff))
      .sorted
    if (expired.isEmpty) return Nil

    val scan = spark.read.parquet(path)
      .filter(col(DateCol).isin(expired.map(java.sql.Date.valueOf): _*))
    val carried = scan.columns.toSeq
      .filterNot((DateCol +: rollupKeys).contains).filterNot(measureCols.contains)
      .filterNot(_ == tsCol)
    fold(fs, root, scan, rollupKeys, measureCols, tsCol, carried)
  }

  /** What [[merge]] and [[ttlRollup]] share: two fixed-size jobs —
    * cost scales with the data, never with the partition count. ONE
    * aggregation of `scan` to one row per (date, `keys`) — partial-row
    * count, max `tsCol`, summed measures, min of `carried` — yields both
    * the receipts and the folded rows: the per-date receipts
    * re-aggregate that already-tiny persisted frame, and ONE staged
    * partitioned write reuses it for the dates the fold shrinks, which
    * are then swapped in (crash-healed like compaction/purge).
    * Already-folded partitions are never rewritten. */
  private def fold(fs: FileSystem, root: Path, scan: DataFrame,
      keys: Seq[String], measureCols: Seq[String], tsCol: String,
      carried: Seq[String]): Seq[MergeStats] = {
    val DateCol = PartitionedWriter.DateCol
    val aggs = Seq(count(lit(1)).as("__n"), max(col(tsCol)).as(tsCol)) ++
      measureCols.map(m => sum(col(m)).as(m)) ++
      carried.map(c => min(col(c)).as(c))
    val folded = scan.groupBy((DateCol +: keys).map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .persist()
    try {
      val stats = folded.groupBy(col(DateCol).cast("string").as("__d"))
        .agg(sum(col("__n")).as("__before"), count(lit(1)).as("__after"))
        .collect()
        .map(r => MergeStats(s"$DateCol=${r.getString(0)}",
          r.getLong(1), r.getLong(2)))
        .sortBy(_.partition).toSeq
      val foldable = stats.filter(s => s.rowsAfter < s.rowsBefore).map(_.partition)
      if (foldable.nonEmpty) {
        val dates = foldable.map(p => java.sql.Date.valueOf(p.stripPrefix(s"$DateCol=")))
        // one file per folded partition — the merge's entire point is
        // shrinking the stored row/file count
        PartitionedWriter.rewritePartitions(fs, root, PartitionedWriter.MergeStaging,
          folded.filter(col(DateCol).isin(dates: _*))
            .select(scan.columns.map(col).toIndexedSeq: _*) // original order
            .repartition(col(DateCol)),
          foldable)
      }
      stats
    } finally { folded.unpersist(); () }
  }
}
