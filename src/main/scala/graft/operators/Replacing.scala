package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedupe-on-read view — the Spark equivalent of ClickHouse
  * `ReplacingMergeTree(updated_at)` (every gold table,
  * /root/reference/clickhouse/init/03_gold_tables.sql:12,124-126):
  * storage stays append-only, the canonical read keeps the latest row
  * per key by the version column.
  *
  * Implemented as `max(struct(version, tiebreak..., payload))` per key
  * rather than a row_number window: a groupBy aggregates map-side
  * (partial aggregation) before the shuffle, so at 100 TB the shuffle
  * carries one row per key per map task instead of every duplicate —
  * strictly better than window+filter, which shuffles all rows.
  * Struct comparison is lexicographic, so ties on the version column
  * resolve deterministically by the remaining columns (ClickHouse keeps
  * an arbitrary row on ties; we are deterministic — strictly stronger).
  */
object Replacing {

  /** Latest row per `keys` by `versionCol`. Result has the input schema. */
  def latestByKey(df: DataFrame, keys: Seq[String], versionCol: String): DataFrame = {
    val payload = df.columns.filterNot(keys.contains).toSeq
    val ordered = versionCol +: payload.filterNot(_ == versionCol)
    val packed = df
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max(struct(ordered.map(col).toIndexedSeq: _*)).as("__latest"))
    val cols = df.columns.toSeq.map {
      case k if keys.contains(k) => col(k)
      case c => col("__latest")(c).as(c)
    }
    packed.select(cols.toIndexedSeq: _*)
  }
}
