package graft.pipelines

import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.PartitionedWriter
import graft.ingest.Bronze

/** Warehouse handle for the medallion layout: bronze + gold tables as
  * date-partitioned (facts/bronze) or flat (dims) parquet directories.
  *
  * Mirrors the reference's table universe
  * (/root/reference/clickhouse/init/01_bronze_tables.sql,
  * 03_gold_tables.sql) with Spark-native storage. Dim tables are small
  * by construction (SURVEY.md §4 "small-dim joins"), so they are stored
  * unpartitioned and rewritten wholesale by SCD2 updates via an
  * atomic-enough temp-write-and-swap; facts/bridges/bronze are
  * `event_date=`-partitioned append-only tables.
  *
  * Every read of a warehouse table goes through [[read]], with a schema
  * resolved once per context: recorded by the context's first write of
  * the table (as the table reads back), else inferred from disk by the
  * first read (a Spark job). Every gold write counts its own rows
  * (`PartitionedWriter.writeCounted`), and [[rows]] keeps each table's
  * row count from those counts: a table that existed before the context
  * is counted from disk once, and a failed write makes the next [[rows]]
  * count again. Both rely on the single-writer contract: only this
  * context's pipelines write the tables it reads, and they never change
  * a table's schema except through [[rewriteDim]]. A schema or row
  * changed on disk by another writer is not seen here;
  * [[Monitoring.schemaDrift]] infers from disk to catch exactly that,
  * and [[count]] counts on disk.
  */
class GoldContext(
    val spark: SparkSession,
    val root: String,
    val tz: String = "Asia/Jakarta") {

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = PartitionedWriter.exists(spark, path(table))

  /** table -> schema, recorded by this context's first write of the
    * table or else inferred from disk by its first [[read]] */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** table -> rows it holds, kept by this context's writes */
  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  /** An existing table, read with its schema resolved once per context:
    * concurrent first reads wait on one inference. */
  def read(table: String): DataFrame = {
    val schema = schemas.computeIfAbsent(table, t => spark.read.parquet(path(t)).schema)
    spark.read.schema(schema).parquet(path(table))
  }

  /** Rows `table` holds: counted from disk on first use, then kept by
    * this context's writes (0 for an absent table). */
  def rows(table: String): Long =
    counts.computeIfAbsent(table, t => if (exists(t)) read(t).count() else 0L)

  /** Run `write`, which writes `written` into `table` and returns how
    * many rows it wrote. A rewrite sets the table's known count, an append
    * adds to it, and a write that throws forgets it, so the next [[rows]]
    * counts from disk. The schema the table is read back with
    * (`written`'s columns, plus a partition column found from the table's
    * directories) is recorded by a rewrite, and by an append when none is
    * known yet. */
  private def recorded(table: String, written: DataFrame, rewrite: Boolean)(
      write: => Long): Long = {
    val n = try write catch { case e: Throwable => counts.remove(table); throw e }
    if (rewrite) counts.put(table, n)
    else counts.computeIfPresent(table, (_, c) => Long.box(c + n))
    def readBack(t: String) = spark.read.schema(written.schema).parquet(path(t)).schema
    if (rewrite) schemas.put(table, readBack(table))
    else if (exists(table)) schemas.computeIfAbsent(table, t => readBack(t))
    n
  }

  /** Bronze table for a source; empty frame with the projection's schema
    * if nothing was ingested yet. */
  def bronze(source: String): DataFrame =
    if (exists(s"bronze_$source")) read(s"bronze_$source")
    else Bronze.projection(source, spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], StructType(Seq(StructField(Bronze.Raw, StringType)))))

  /** Bronze rows in [start, end) — the universal incremental window scan
    * (B1). The event_date predicate is derived from the window bounds so
    * partition pruning never depends on inferring it from event_ts. */
  def bronzeWindow(source: String, w: TimeWindow): DataFrame = {
    val df = bronze(source)
    val pruned =
      if (df.columns.contains(PartitionedWriter.DateCol))
        df.filter(col(PartitionedWriter.DateCol)
          .between(to_date(lit(w.start)), to_date(lit(w.end))))
      else df
    pruned.filter(col("event_ts") >= lit(w.start) && col("event_ts") < lit(w.end))
  }

  /** Gold table; empty frame with `schema` if absent. */
  def gold(table: String, schema: StructType): DataFrame =
    if (exists(table)) read(table)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Append new dim rows (C1 insert-if-absent output), evaluated once. */
  def appendDim(table: String, rows: DataFrame): Long =
    recorded(table, rows, rewrite = false)(
      PartitionedWriter.appendCounted(rows, path(table)))

  /** Full rewrite of a dim table: write it once to `__tmpraw`, counting
    * its rows in that write, resize it to a byte-derived file count only
    * when it came out in more files than that, and swap it in. The SCD2
    * "ALTER TABLE UPDATE" close-step (dim_agent_scd2.sql:1-25) becomes a
    * rewrite because parquet has no in-place mutation.
    *
    * The swap is `PartitionedWriter.swap`, the one every table rewrite
    * uses: rename live → `__bak`, rename the staged copy → live, delete
    * `__bak`. The table is missing only between two metadata-speed
    * renames — never for the duration of a recursive delete. A crash
    * between the renames leaves `__bak`, which the next rewrite heals
    * (`PartitionedWriter.heal`) before proceeding, so the table always
    * reappears.
    *
    * File count is sized from actual bytes (targeting 128 MB files),
    * not hardcoded to 1: dims here are broadcast-sized today, but a dim
    * that grows keeps scan parallelism instead of bottlenecking on one
    * file. A raw copy in more files than that is read back once (with
    * the written frame's schema, so nothing infers it) and rewritten to
    * `__tmp`. An empty result is one schema-bearing file, which Spark's
    * empty write already makes, so the table stays readable. */
  def rewriteDim(table: String, df: DataFrame): Long = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path(table))
    val raw = new Path(path(table) + "__tmpraw")
    val tmp = new Path(path(table) + "__tmp")
    val bak = new Path(path(table) + "__bak")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionedWriter.heal(fs, target, bak)

    recorded(table, df, rewrite = true) {
      val n = PartitionedWriter.writeCounted(df)(
        _.write.mode(SaveMode.Overwrite).parquet(raw.toString))
      val targetFileBytes = 128L << 20
      val bytes = fs.getContentSummary(raw).getLength
      val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)
      val staged =
        if (fs.listStatus(raw).count(_.getPath.getName.endsWith(".parquet")) <= files) raw
        else {
          spark.read.schema(df.schema).parquet(raw.toString).repartition(files.toInt)
            .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
          tmp
        }
      PartitionedWriter.swap(fs, staged, target, bak)
      Seq(raw, tmp).foreach(fs.delete(_, true))
      n
    }
  }

  /** Idempotent fact/bridge append: anti-join on `keys` within the
    * touched partitions (C2), then append. Returns rows appended. */
  def appendFact(table: String, rows: DataFrame, tsCol: String,
      keys: Seq[String]): Long =
    recorded(table, rows, rewrite = false)(
      PartitionedWriter.appendIfAbsent(rows, path(table), tsCol, keys))

  /** Rows of `table` on disk, counted now (0 for an absent table). */
  def count(table: String): Long =
    if (exists(table)) read(table).count() else 0L

  /** Fold a fact/bronze table's accumulated per-append files into
    * size-targeted sorted ones (the background-merge equivalent; see
    * PartitionedWriter.compactPartitions). Run off-cadence. */
  def compactTable(table: String,
      orderCols: Seq[String] = Seq("event_ts", "event_id"),
      minFiles: Int = 8): Seq[PartitionedWriter.CompactStats] =
    PartitionedWriter.compactPartitions(spark, path(table), orderCols, minFiles)
}

/** Half-open incremental window [start, end) (gold_pipeline.py:27-49). */
case class TimeWindow(start: Timestamp, end: Timestamp)

object TimeWindow {
  def of(start: String, end: String): TimeWindow =
    TimeWindow(parse(start), parse(end))

  /** Accepts `yyyy-MM-dd[ HH:mm:ss[.fff]]` or ISO `yyyy-MM-ddTHH:mm:ss`. */
  def parse(s: String): Timestamp = {
    val t = s.replace('T', ' ')
    Timestamp.valueOf(if (t.contains(' ')) t else t + " 00:00:00")
  }

  /** Default window: [now - minutes, now) — the reference's 10-minute
    * overlapping window (10_metadata.sql:53). */
  def lastMinutes(minutes: Int): TimeWindow = {
    val now = System.currentTimeMillis()
    TimeWindow(new Timestamp(now - minutes * 60000L), new Timestamp(now))
  }
}
