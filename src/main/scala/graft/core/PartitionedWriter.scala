package graft.core

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Date-partitioned parquet table layout + the two write disciplines the
  * reference's storage engine provides implicitly.
  *
  * Layout mirrors MergeTree `PARTITION BY toDate(event_ts) ORDER BY
  * (event_ts, event_id)` (/root/reference/clickhouse/init/01_bronze_tables.sql:25-27):
  * Hive-style `event_date=` directories give partition pruning for every
  * windowed scan (SURVEY.md §4), and sortWithinPartitions gives parquet
  * row-group min/max locality on the ORDER BY columns.
  *
  * Write disciplines:
  *  - [[append]] — blind append (bronze ingest; dedupe happens on read or
  *    downstream via anti-joins).
  *  - [[appendIfAbsent]] — the reference's idempotent insert: one row
  *    per key from the input, anti-joined against the existing rows *in
  *    the touched window only* before appending
  *    (fact_wazuh_events.sql:76-79). Reading only the window's
  *    partitions keeps the anti-join bounded regardless of table size.
  *
  * Per-micro-batch `__batch_id` replay writes are a different layout,
  * owned by [[BatchSink]].
  */
object PartitionedWriter {

  val DateCol = "event_date"

  def withDate(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(DateCol, to_date(col(tsCol)))

  /** Heal-first-everywhere: EVERY write entry point heals crash
    * staging before touching the table. An append into a partition
    * whose live dir is missing after a mid-swap crash would otherwise
    * recreate the live dir, making the next heal treat the bak as
    * stale and delete it — permanently dropping the pre-crash copy
    * (the resurrection-window class the swap protocol closes). */
  private def healFirst(spark: SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(root)) healAllStaging(fs, root)
  }

  def append(df: DataFrame, path: String, tsCol: String,
      orderCols: Seq[String] = Nil): DataFrame = {
    healFirst(df.sparkSession, path)
    val dated = withDate(df, tsCol)
    val sorted =
      if (orderCols.nonEmpty)
        dated.repartition(col(DateCol))
          .sortWithinPartitions((DateCol +: orderCols).map(col).toIndexedSeq: _*)
      else dated
    sorted.write.mode(SaveMode.Append).partitionBy(DateCol).parquet(path)
    dated
  }

  /** Append rows whose `keys` are not already present in the target's
    * partitions overlapping [the rows' own dates]; rows repeating a key
    * within `df` (at-least-once redeliveries) land once. Returns rows
    * appended. An all-duplicates (or empty) input writes nothing —
    * parquet dirs never end up file-less/schema-less. */
  def appendIfAbsent(df: DataFrame, path: String, tsCol: String,
      keys: Seq[String]): Long = {
    val spark = df.sparkSession
    healFirst(spark, path)
    val dated = withDate(df, tsCol).dropDuplicates(keys)
    val fresh =
      if (exists(spark, path)) {
        // restrict the existing-side scan to the touched dates (partition
        // pruning via an IN filter over the partition column)
        val dates = dated.select(DateCol).distinct()
        val existing = spark.read.parquet(path)
          .join(org.apache.spark.sql.functions.broadcast(dates), Seq(DateCol), "left_semi")
          .select(keys.map(col).toIndexedSeq: _*)
        dated.join(existing, keys, "left_anti")
      } else dated
    fresh.cache()
    val n = fresh.count()
    if (n > 0)
      fresh.write.mode(SaveMode.Append).partitionBy(DateCol).parquet(path)
    fresh.unpersist()
    n
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p)
  }

  case class CompactStats(partition: String, filesBefore: Int, filesAfter: Int)

  /** Rewrite date partitions that accumulated too many files into
    * size-targeted, range-sorted ones. Every cadence append writes its
    * own file set, so a 10-minute pipeline leaves ~144 files per
    * partition per day — file listing, scan task count, and row-group
    * locality all degrade without a periodic fold (the reference's
    * storage engine merges parts in the background continuously; this
    * is the explicit Spark-side equivalent).
    *
    * Only partitions with ≥ `minFiles` data files are touched. The
    * compacted copy is range-partitioned + sorted on `orderCols` (the
    * table's ORDER BY), restoring global sort order so parquet row-group
    * min/max pruning works across the whole partition again — appends
    * keep locality only within each append's own files.
    *
    * Swap discipline per partition, same as GoldContext.rewriteDim:
    * write to a staging dir OUTSIDE the table root (a tmp dir inside it
    * would corrupt Hive-style partition discovery), rename live → bak,
    * staged → live, delete bak; a crash between the renames is healed
    * on the next call (bak restored when live is missing). Readers see
    * the partition missing only between two metadata-speed renames.
    * Content is byte-for-byte the same rows, so appendIfAbsent's
    * key-level idempotency is unaffected. */
  def compactPartitions(spark: SparkSession, path: String,
      orderCols: Seq[String] = Nil, minFiles: Int = 8,
      targetFileBytes: Long = 128L << 20): Seq[CompactStats] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // staging is derived from the NORMALIZED root, exactly as
    // healAllStaging derives it — building it from the raw `path`
    // string would diverge on a trailing slash (the staging dir would
    // even land INSIDE the table root) and crash baks would never heal
    val staging = new Path(root.toString + "__compact")

    healAllStaging(fs, root)
    // list AFTER the heal: a partition the heal just restored must be
    // visible to this very compaction pass, not deferred a full cycle
    val parts = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$DateCol="))

    val stats = parts.flatMap { p =>
      val dataFiles = fs.listStatus(p.getPath)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      if (dataFiles.length < minFiles) None
      else {
        val bytes = dataFiles.map(_.getLen).sum
        val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
        val part = spark.read.parquet(p.getPath.toString)
        val shaped =
          if (orderCols.nonEmpty)
            part.repartitionByRange(files, orderCols.map(col).toIndexedSeq: _*)
              .sortWithinPartitions(orderCols.map(col).toIndexedSeq: _*)
          else part.repartition(files)
        swapPartition(fs, staging, p.getPath) { tmp =>
          shaped.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        }
        val after = fs.listStatus(p.getPath)
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        Some(CompactStats(p.getPath.getName, dataFiles.length, after))
      }
    }
    if (fs.exists(staging) && fs.listStatus(staging).isEmpty)
      fs.delete(staging, true)
    stats
  }

  /** The staging-dir suffixes every lifecycle operation may leave a
    * crash behind in. Healing must cover ALL of them on EVERY
    * lifecycle entry — a compact-crash bak healed only by the next
    * compact would survive an intervening purge/TTL drop of the same
    * partition and resurrect the removed rows when compact finally
    * runs. Heal-first-everywhere (single writer assumed, as
    * documented) means no stale bak exists at the moment any
    * legitimate partition drop happens. */
  private val StagingSuffixes = Seq("__compact", "__purge")

  private[graft] def healAllStaging(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit =
    StagingSuffixes.foreach(sfx => healStaging(fs, root,
      new org.apache.hadoop.fs.Path(root.toString + sfx)))

  /** Heal a crash from a previous swap: live partition gone, bak
    * present → restore the bak. Live partition PRESENT → the swap
    * completed (only the bak delete was lost), so the bak is stale and
    * must be removed here: leaving it open a resurrection window where
    * a later legitimate drop of the partition (TTL expiry, full purge)
    * is undone by the next heal restoring pre-purge rows. */
  private[graft] def healStaging(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(staging)) fs.listStatus(staging).toSeq
      .filter(_.getPath.getName.endsWith(".bak"))
      .foreach { b =>
        val live = new org.apache.hadoop.fs.Path(root,
          b.getPath.getName.stripSuffix(".bak"))
        if (!fs.exists(live)) fs.rename(b.getPath, live)
        else fs.delete(b.getPath, true)
      }

  /** Atomic-ish partition replacement: stage the rewrite OUTSIDE the
    * table root, rename live → bak, staged → live, drop bak. A crash
    * between the renames is healed by [[healStaging]] on the next
    * call; readers see the partition missing only between two
    * metadata-speed renames. */
  private def swapPartition(fs: org.apache.hadoop.fs.FileSystem,
      staging: org.apache.hadoop.fs.Path,
      live: org.apache.hadoop.fs.Path)(
      write: org.apache.hadoop.fs.Path => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    def mustRename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    val tmp = new Path(staging, live.getName + ".tmp")
    val bak = new Path(staging, live.getName + ".bak")
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(bak)) fs.delete(bak, true)
    write(tmp)
    mustRename(live, bak)
    try mustRename(tmp, live)
    catch {
      case e: java.io.IOException =>
        if (!fs.exists(live)) fs.rename(bak, live)
        throw e
    }
    fs.delete(bak, true)
  }

  case class PurgeStats(partition: String, rowsBefore: Long, rowsRemoved: Long)

  /** Right-to-be-forgotten: delete every row whose `keyCol` appears in
    * `keys`, rewriting ONLY the date partitions that actually contain a
    * match (reference has no erasure story beyond ALTER TABLE DELETE
    * mutations, `clickhouse/init/03_gold_tables.sql` tables are
    * append-only; a lakehouse needs an explicit one for GDPR/CCPA).
    *
    * Three fixed-size passes — cost scales with the DATA touched,
    * never with the partition count (a driver loop over partitions
    * would serialize thousands of fixed-overhead jobs on a year-long
    * 100 TB table):
    *  1. locate — a column-pruned scan of (keyCol, partition col) only,
    *     semi-joined against the broadcast deletion set (deletion
    *     requests are small by nature; a million keys is ~8 MB). At
    *     100 TB this reads one column's pages, not the table.
    *  2. receipt — one aggregation over the affected partitions
    *     (partition-pruned IN filter) counting rows and matches per
    *     partition.
    *  3. rewrite — ONE anti-join job writes every surviving row of
    *     the affected partitions into a staged partitioned layout;
    *     live partitions are then replaced by metadata-speed renames
    *     (live → bak, staged → live, drop bak — crash-healed by
    *     [[healStaging]]). Untouched partitions are never opened, let
    *     alone rewritten — the specs pin that their files are
    *     byte-identical afterwards.
    *
    * A partition whose every row is purged is dropped entirely. The
    * returned receipts (partition, rowsBefore, rowsRemoved) are the
    * audit evidence an erasure request requires; re-running the same
    * purge removes 0 rows (idempotent). */
  def purgeKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Seq[PurgeStats] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // normalized-root staging, same derivation as healAllStaging
    val staging = new Path(root.toString + "__purge")
    healAllStaging(fs, root)

    val del = keys.select(col(keyCol)).distinct()
    val affected = locateAffected(spark, path, keyCol, del)
      .collect().map(_.getString(0)).sorted
    if (affected.isEmpty) return Nil
    val affectedDates = affected.map(java.sql.Date.valueOf).toSeq

    val tbl = spark.read.parquet(path)
      .filter(col(DateCol).isin(affectedDates: _*))
    val marked = tbl.join(
      broadcast(del.withColumn("__del", lit(1))), Seq(keyCol), "left")

    val stats = marked.groupBy(col(DateCol).cast("string").as("__d"))
      .agg(count(lit(1)).as("__before"),
        sum(when(col("__del").isNotNull, 1L).otherwise(0L)).as("__removed"))
      .collect()
      .map(r => PurgeStats(s"$DateCol=${r.getString(0)}",
        r.getLong(1), r.getLong(2)))
      .sortBy(_.partition)

    // one job stages every survivor partition's rewrite; the staged
    // output is partitioned identically to the live table
    val survivors = stats.filter(s => s.rowsRemoved < s.rowsBefore)
    if (survivors.nonEmpty) {
      val stagedOut = new Path(staging, "out")
      if (fs.exists(stagedOut)) fs.delete(stagedOut, true)
      marked.filter(col("__del").isNull).drop("__del")
        .write.mode(SaveMode.Overwrite)
        .partitionBy(DateCol).parquet(stagedOut.toString)
      swapStagedPartitions(fs, root, staging, stagedOut,
        survivors.map(_.partition).toSeq)
    }
    stats.filter(s => s.rowsRemoved == s.rowsBefore)
      .foreach(s => fs.delete(new Path(root, s.partition), true))
    if (fs.exists(staging) && fs.listStatus(staging).isEmpty)
      fs.delete(staging, true)
    stats.toSeq
  }

  /** Swap a set of pre-staged partition directories into the live
    * table by metadata-speed renames (live → bak, staged → live, drop
    * bak), then drop the staging output. Crash between renames is
    * healed by [[healStaging]] on the next lifecycle call. */
  private[graft] def swapStagedPartitions(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path,
      stagedOut: org.apache.hadoop.fs.Path,
      partitions: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    def mustRename(from: Path, to: Path): Unit =
      if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
    partitions.foreach { p =>
      val live = new Path(root, p)
      val bak = new Path(staging, p + ".bak")
      if (fs.exists(bak)) fs.delete(bak, true)
      mustRename(live, bak)
      try mustRename(new Path(stagedOut, p), live)
      catch {
        case e: java.io.IOException =>
          if (!fs.exists(live)) fs.rename(bak, live)
          throw e
      }
      fs.delete(bak, true)
    }
    fs.delete(stagedOut, true)
  }

  case class ExpireStats(partition: String, files: Int, bytes: Long)

  /** TTL retention (the engine family's `TTL event_ts + INTERVAL n DAY
    * DELETE`, applied at partition granularity like its
    * `ttl_only_drop_parts` fast path): drop every date partition
    * strictly OLDER than `cutoff`. Pure metadata work — directories
    * are listed and deleted, no file is ever opened, so expiring a
    * year costs the same on a 100 TB table as on a test fixture.
    * Returns per-partition receipts (files/bytes freed) for the
    * retention audit trail. */
  def expirePartitions(spark: SparkSession, path: String,
      cutoff: java.time.LocalDate): Seq[ExpireStats] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    // heal BEFORE deleting anything: a stale bak from a crashed swap
    // must not outlive this expiry and resurrect the dropped rows
    healAllStaging(fs, root)
    fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$DateCol="))
      .filter { s =>
        val d = s.getPath.getName.stripPrefix(s"$DateCol=")
        java.time.LocalDate.parse(d).isBefore(cutoff)
      }
      .sortBy(_.getPath.getName)
      .map { s =>
        val files = fs.listStatus(s.getPath).filter(_.isFile)
        val stats = ExpireStats(s.getPath.getName,
          files.length, files.map(_.getLen).sum)
        fs.delete(s.getPath, true)
        stats
      }
  }

  /** Purge pass 1: the partitions containing any deletion key — a
    * column-pruned (keyCol + partition col only) scan semi-joined
    * against the broadcast deletion set. Package-visible so the plan
    * shape (broadcast semi, two-column ReadSchema) is CI-asserted. */
  private[graft] def locateAffected(spark: SparkSession, path: String,
      keyCol: String, del: DataFrame): DataFrame =
    spark.read.parquet(path)
      .select(col(keyCol), col(DateCol))
      .join(broadcast(del), Seq(keyCol), "left_semi")
      .select(col(DateCol).cast("string")).distinct()

  def readTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)
}
