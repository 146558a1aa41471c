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
  * Every read of a warehouse table goes through [[read]], which infers
  * the table's schema from disk once per context (a Spark job) and
  * reads with it after that. This relies on the single-writer contract:
  * only this context's pipelines write the tables it reads, and they
  * never change a table's schema except through [[rewriteDim]], which
  * records the schema it writes. A schema changed on disk by another
  * writer is not seen here; [[Monitoring.schemaDrift]] infers from disk
  * to catch exactly that.
  */
class GoldContext(
    val spark: SparkSession,
    val root: String,
    val tz: String = "Asia/Jakarta") {

  def path(table: String): String = s"$root/$table"

  def exists(table: String): Boolean = PartitionedWriter.exists(spark, path(table))

  /** table -> schema as inferred from disk by the first [[read]] */
  private val schemas = new ConcurrentHashMap[String, StructType]()

  /** An existing table, read with its schema resolved once per context:
    * concurrent first reads wait on one inference. */
  def read(table: String): DataFrame = {
    val schema = schemas.computeIfAbsent(table, t => spark.read.parquet(path(t)).schema)
    spark.read.schema(schema).parquet(path(table))
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
    PartitionedWriter.writeIfNonEmpty(rows)(
      _.write.mode(SaveMode.Append).parquet(path(table)))

  /** Full rewrite of a dim table: write temp, compact to size-based
    * file count, two-step swap. The SCD2 "ALTER TABLE UPDATE" close-step
    * (dim_agent_scd2.sql:1-25) becomes a rewrite because parquet has no
    * in-place mutation.
    *
    * The swap is `PartitionedWriter.swap`, the one every table rewrite
    * uses: rename live → `__bak`, rename `__tmp` → live, delete
    * `__bak`. The table is missing only between two metadata-speed
    * renames — never for the duration of a recursive delete. A crash
    * between the renames leaves `__bak`, which the next rewrite heals
    * (`PartitionedWriter.heal`) before proceeding, so the table always
    * reappears.
    *
    * File count is sized from actual bytes (targeting 128 MB files),
    * not hardcoded to 1: dims here are broadcast-sized today, but a dim
    * that grows keeps scan parallelism instead of bottlenecking on one
    * file. Compaction reads the temp parquet back — one cheap IO pass —
    * rather than re-evaluating the (SCD2 chain) plan for a count, and
    * reads it with the written frame's schema, so neither read-back nor
    * the next [[read]] of the table infers it. */
  def rewriteDim(table: String, df: DataFrame): Long = {
    import org.apache.hadoop.fs.Path
    val target = new Path(path(table))
    val raw = new Path(path(table) + "__tmpraw")
    val tmp = new Path(path(table) + "__tmp")
    val bak = new Path(path(table) + "__bak")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    PartitionedWriter.heal(fs, target, bak)

    df.write.mode(SaveMode.Overwrite).parquet(raw.toString)
    val hasData = fs.listStatus(raw)
      .exists(s => s.getLen > 0 && s.getPath.getName.endsWith(".parquet"))
    if (hasData) {
      val bytes = fs.getContentSummary(raw).getLength
      val targetFileBytes = 128L << 20
      val files = math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
      spark.read.schema(df.schema).parquet(raw.toString).repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    } else {
      // empty result: still write one schema-bearing parquet file so the
      // table stays readable
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema)
        .repartition(1).write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    }
    fs.delete(raw, true)
    val written = spark.read.schema(df.schema).parquet(tmp.toString)
    val n = written.count()

    PartitionedWriter.swap(fs, tmp, target, bak)
    schemas.put(table, written.schema)
    n
  }

  /** Idempotent fact/bridge append: anti-join on `keys` within the
    * touched partitions (C2), then append. Returns rows appended. */
  def appendFact(table: String, rows: DataFrame, tsCol: String,
      keys: Seq[String]): Long =
    PartitionedWriter.appendIfAbsent(rows, path(table), tsCol, keys)

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
