package graft.core

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Date-partitioned parquet table layout + the two write disciplines the
  * reference's storage engine provides implicitly, + the one crash-safe
  * swap every table rewrite goes through.
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
  *  - [[appendCounted]] — an append that returns its row count, counted
  *    inside the write itself ([[writeCounted]]: one execution of the
  *    plan, no cache, no count job); a zero-row append leaves the table
  *    exactly as it was (gold dims).
  *  - [[appendIfAbsent]] — the reference's idempotent insert: one row
  *    per key from the input, anti-joined against the existing rows *in
  *    the touched window only*, then [[appendCounted]]
  *    (fact_wazuh_events.sql:76-79). Reading only the window's
  *    partitions keeps the anti-join bounded regardless of table size.
  *
  * Rewrites — compaction, purge, `Summing.merge`/`ttlRollup` and
  * `GoldContext.rewriteDim` — replace data by [[swap]] and recover a
  * crashed swap by [[heal]]. Partition rewrites stage beside the table
  * root in one dir per lifecycle ([[stagingDir]]), and every write or
  * lifecycle entry heals all of them first ([[healTable]]).
  *
  * Per-micro-batch `__batch_id` replay writes are a different layout,
  * owned by [[BatchSink]].
  */
object PartitionedWriter {

  val DateCol = "event_date"

  def withDate(df: DataFrame, tsCol: String): DataFrame =
    df.withColumn(DateCol, to_date(col(tsCol)))

  /** The table at `path` by its normalized root, and its file system. */
  private[graft] def fsRoot(spark: SparkSession, path: String): (FileSystem, Path) = {
    val root = new Path(path)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Heal-first-everywhere: EVERY write entry point heals crash
    * staging before touching the table. An append into a partition
    * whose live dir is missing after a mid-swap crash would otherwise
    * recreate the live dir, making the next heal treat the bak as
    * stale and delete it — permanently dropping the pre-crash copy
    * (the resurrection-window class the swap protocol closes). Returns
    * whether a table is at `path`. */
  private def healFirst(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsRoot(spark, path)
    healTable(fs, root)
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
    * appended, counted by the append itself ([[appendCounted]]). */
  def appendIfAbsent(df: DataFrame, path: String, tsCol: String,
      keys: Seq[String]): Long = {
    val spark = df.sparkSession
    val existed = healFirst(spark, path)
    val dated = withDate(df, tsCol).dropDuplicates(keys)
    val fresh =
      if (existed) {
        // restrict the existing-side scan to the touched dates (partition
        // pruning via an IN filter over the partition column); the key
        // columns are read with the incoming rows' types, so the target's
        // schema is never inferred (a Spark job per append)
        val dates = dated.select(DateCol).distinct()
        val keySchema = StructType(dated.schema
          .filter(f => f.name == DateCol || keys.contains(f.name)))
        val existing = spark.read.schema(keySchema).parquet(path)
          .join(broadcast(dates), Seq(DateCol), "left_semi")
          .select(keys.map(col).toIndexedSeq: _*)
        dated.join(existing, keys, "left_anti")
      } else dated
    appendCounted(fresh, path, DateCol)
  }

  /** Run `write` on `rows` observed, so the write's own execution counts
    * the rows it writes: the plan is evaluated once, with no cache and
    * no separate count job. Returns the count. */
  def writeCounted(rows: DataFrame)(write: DataFrame => Unit): Long = {
    val seen = Observation()
    write(rows.observe(seen, count(lit(1)).as("n")))
    seen.get("n").asInstanceOf[Long]
  }

  /** Append `rows` to the table at `path`, partitioned by `partitionCols`,
    * counted by [[writeCounted]]. A zero-row append leaves the table as
    * it was: Spark still creates an absent table's root, and an
    * unpartitioned append still writes one schema-only file, so the root
    * is dropped if this append made it, and a flat table loses the files
    * that appeared during this append (a partitioned table gets no data
    * file, so its tree is never listed). Returns the rows appended. */
  def appendCounted(rows: DataFrame, path: String, partitionCols: String*): Long = {
    val (fs, root) = fsRoot(rows.sparkSession, path)
    val existed = fs.exists(root)
    def flat(): Set[Path] =
      if (existed && partitionCols.isEmpty) fs.listStatus(root).map(_.getPath).toSet else Set.empty
    val before = flat()
    val n = writeCounted(rows)(
      _.write.mode(SaveMode.Append).partitionBy(partitionCols: _*).parquet(path))
    if (n == 0 && !existed) fs.delete(root, true)
    else if (n == 0) (flat() -- before).foreach(fs.delete(_, false))
    n
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val (fs, root) = fsRoot(spark, path)
    fs.exists(root)
  }

  // ---- the crash-safe swap ----

  /** FileSystem.rename reports many failures by returning false, not
    * throwing (quota, permissions, concurrent recreation of the
    * destination) — an unchecked false followed by the bak delete would
    * destroy the only remaining copy of the data. */
  private def mustRename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) throw new IOException(s"rename $from -> $to failed")

  /** Replace `live` with `staged` by two metadata-speed renames: drop a
    * stale `bak`, rename live → bak (when live exists), staged → live,
    * then drop bak. Readers see `live` missing only between the two
    * renames. If staged → live fails, live is put back before the
    * failure surfaces; a crash between the renames leaves bak, which
    * [[heal]] restores. */
  private[graft] def swap(fs: FileSystem, staged: Path, live: Path, bak: Path): Unit = {
    fs.delete(bak, true)
    val hadLive = fs.exists(live)
    if (hadLive) mustRename(fs, live, bak)
    try mustRename(fs, staged, live)
    catch {
      case e: IOException =>
        if (hadLive && !fs.exists(live)) fs.rename(bak, live)
        throw e
    }
    if (hadLive) fs.delete(bak, true)
  }

  /** Recover a crashed [[swap]]: live gone, bak present → restore the
    * bak. Live PRESENT → the swap completed (only the bak delete was
    * lost), so the bak is stale and must be removed here: leaving it
    * open a resurrection window where a later legitimate drop of the
    * partition (TTL expiry, full purge) is undone by the next heal
    * restoring pre-purge rows. */
  private[graft] def heal(fs: FileSystem, live: Path, bak: Path): Unit =
    if (fs.exists(bak)) {
      if (fs.exists(live)) fs.delete(bak, true)
      else mustRename(fs, bak, live)
    }

  // ---- partition staging ----

  private val CompactStaging = "__compact"
  private val PurgeStaging = "__purge"
  private[graft] val MergeStaging = "__merge"

  /** The staging-dir suffixes every lifecycle operation may leave a
    * crash behind in. Healing must cover ALL of them on EVERY
    * lifecycle entry — a compact-crash bak healed only by the next
    * compact would survive an intervening purge/TTL drop of the same
    * partition and resurrect the removed rows when compact finally
    * runs. Heal-first-everywhere (single writer assumed, as
    * documented) means no stale bak exists at the moment any
    * legitimate partition drop happens. */
  private val StagingSuffixes = Seq(CompactStaging, PurgeStaging, MergeStaging)

  /** A lifecycle's staging dir: BESIDE the table root (a dir inside it
    * would corrupt Hive-style partition discovery), derived from the
    * NORMALIZED root — the raw path string would diverge on a trailing
    * slash, landing staging inside the root where no heal looks. */
  private def stagingDir(root: Path, suffix: String): Path =
    new Path(root.toString + suffix)

  /** Heal every lifecycle's staging dir beside `root`: each `<p>.bak`
    * is healed against partition `<p>`, and a staging dir left empty is
    * dropped. Returns false when no table is at `root`. */
  private[graft] def healTable(fs: FileSystem, root: Path): Boolean =
    fs.exists(root) && {
      StagingSuffixes.map(stagingDir(root, _)).filter(fs.exists).foreach { staging =>
        fs.listStatus(staging).map(_.getPath).filter(_.getName.endsWith(".bak"))
          .foreach(b => heal(fs, new Path(root, b.getName.stripSuffix(".bak")), b))
        dropIfEmpty(fs, staging)
      }
      true
    }

  private def dropIfEmpty(fs: FileSystem, dir: Path): Unit =
    if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, true)

  /** The staged partition rewrite: ONE job writes `rows` partitioned by
    * date into `<staging>/out`, each of `partitions` is swapped into the
    * live table, and the staging output is dropped. */
  private[graft] def rewritePartitions(fs: FileSystem, root: Path,
      suffix: String, rows: DataFrame, partitions: Seq[String]): Unit = {
    val staging = stagingDir(root, suffix)
    val out = new Path(staging, "out")
    fs.delete(out, true)
    rows.write.mode(SaveMode.Overwrite).partitionBy(DateCol).parquet(out.toString)
    partitions.foreach(p =>
      swap(fs, new Path(out, p), new Path(root, p), new Path(staging, p + ".bak")))
    fs.delete(out, true)
    dropIfEmpty(fs, staging)
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
    * One write per touched partition (each gets its own size-derived
    * file count), staged as `<p>.tmp` in the compact staging dir and
    * replaced by [[swap]]. Content is byte-for-byte the same rows, so
    * appendIfAbsent's key-level idempotency is unaffected. */
  def compactPartitions(spark: SparkSession, path: String,
      orderCols: Seq[String] = Nil, minFiles: Int = 8,
      targetFileBytes: Long = 128L << 20): Seq[CompactStats] = {
    val (fs, root) = fsRoot(spark, path)
    if (!healTable(fs, root)) return Nil
    val staging = stagingDir(root, CompactStaging)
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
        val name = p.getPath.getName
        val tmp = new Path(staging, name + ".tmp")
        shaped.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        swap(fs, tmp, p.getPath, new Path(staging, name + ".bak"))
        val after = fs.listStatus(p.getPath)
          .count(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        Some(CompactStats(name, dataFiles.length, after))
      }
    }
    dropIfEmpty(fs, staging)
    stats
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
    *     the affected partitions through [[rewritePartitions]]; live
    *     partitions are then replaced by metadata-speed renames.
    *     Untouched partitions are never opened, let alone rewritten —
    *     the specs pin that their files are byte-identical afterwards.
    *
    * A partition whose every row is purged is dropped entirely. The
    * returned receipts (partition, rowsBefore, rowsRemoved) are the
    * audit evidence an erasure request requires; re-running the same
    * purge removes 0 rows (idempotent). */
  def purgeKeys(spark: SparkSession, path: String, keyCol: String,
      keys: DataFrame): Seq[PurgeStats] = {
    val (fs, root) = fsRoot(spark, path)
    if (!healTable(fs, root)) return Nil

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

    val survivors = stats.filter(s => s.rowsRemoved < s.rowsBefore)
    if (survivors.nonEmpty)
      rewritePartitions(fs, root, PurgeStaging,
        marked.filter(col("__del").isNull).drop("__del"),
        survivors.map(_.partition).toSeq)
    stats.filter(s => s.rowsRemoved == s.rowsBefore)
      .foreach(s => fs.delete(new Path(root, s.partition), true))
    stats.toSeq
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
    val (fs, root) = fsRoot(spark, path)
    // heal BEFORE deleting anything: a stale bak from a crashed swap
    // must not outlive this expiry and resurrect the dropped rows
    if (!healTable(fs, root)) return Nil
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
}
