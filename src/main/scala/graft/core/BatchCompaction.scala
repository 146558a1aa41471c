package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

import BatchSink.BatchCol

/** Compaction for `__batch_id`-partitioned streaming sinks.
  *
  * Replay-safe sinks (graft.streaming.DedupStream, graft.operators
  * .LshIndex) write one partition per micro-batch so an at-least-once
  * replay overwrites in place — but a long-running stream then
  * accumulates one directory per trigger forever: partition discovery,
  * file listing, and small-file overhead all grow O(#batches).
  * [[compact]] bounds that: every batch partition EXCEPT the newest
  * `keepRecent` real batches — plus every previous compacted segment —
  * is rewritten into ONE new segment, then the sources are deleted.
  *
  * Replay idempotency is preserved for the batches that can still
  * replay: Structured Streaming only re-runs batch ids at-or-after the
  * last uncommitted checkpoint offset, so with `keepRecent` ≥ the
  * number of in-flight triggers (1 for serial foreachBatch; keep a
  * margin), a replayed id still owns its own live partition and
  * overwrites it dynamically. Compacted segments take ids counting DOWN
  * from −1 — real batch ids are non-negative, so the namespaces never
  * collide and a re-compaction folds earlier segments in by id sign
  * alone.
  *
  * Crash safety, stated precisely: the merged segment is committed by
  * the parquet job before any source is deleted, so a crash between
  * write and delete leaves duplicate ROWS (merged + stale source), not
  * lost rows. Readers of these sinks are duplicate-tolerant (LshIndex
  * probes collapse per (bucket, id) / per id; pair consumers treat the
  * pair list as a set), and the next [[compact]] call heals the
  * duplication: it merges the stale sources and the previous segment
  * together and `dropDuplicates` collapses them.
  */
object BatchCompaction {

  /** Fold old batch partitions of the table at `path` into one new
    * compacted segment, keeping the newest `keepRecent` real batches
    * live for replay. Returns the new segment id, or None when there
    * was nothing to merge (missing table, or ≤1 foldable source). */
  def compact(spark: SparkSession, path: String,
      keepRecent: Int): Option[Long] = {
    require(keepRecent >= 0, "keepRecent must be >= 0")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    val ids = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$BatchCol="))
      .map(_.getPath.getName.stripPrefix(s"$BatchCol=").toLong)
    val real = ids.filter(_ >= 0).sorted
    val segments = ids.filter(_ < 0)
    val victims = segments ++ real.dropRight(keepRecent)
    // one source would be a pure rewrite — no consolidation to gain
    if (victims.size <= 1) return None
    val newSegment = (segments :+ 0L).min - 1
    // sub-partition levels (e.g. LshIndex's __pb/__gp) from the layout
    // itself, so one compactor serves every __batch_id-outer table
    val subCols = partitionColsBelow(fs,
      new Path(root, s"$BatchCol=${victims.head}"))
    val merged = spark.read.option("basePath", path)
      .parquet(victims.map(b => s"$path/$BatchCol=$b"): _*)
      .drop(BatchCol)
      // collapses cross-batch duplicates (redelivered ids, healed
      // crash leftovers); batch provenance is gone by design here
      .dropDuplicates()
    BatchSink.write(merged, newSegment, path, subCols: _*)
    victims.foreach(b => fs.delete(new Path(root, s"$BatchCol=$b"), true))
    Some(newSegment)
  }

  /** Partition column names below a batch directory, in nesting order,
    * read off the `name=value` directory chain. */
  private def partitionColsBelow(fs: FileSystem, dir: Path): Seq[String] = {
    val cols = scala.collection.mutable.ArrayBuffer.empty[String]
    var cur = dir
    var descending = true
    while (descending) {
      fs.listStatus(cur)
          .find(s => s.isDirectory && s.getPath.getName.contains("=")) match {
        case Some(s) =>
          cols += s.getPath.getName.split("=", 2)(0)
          cur = s.getPath
        case None => descending = false
      }
    }
    cols.toSeq
  }
}
