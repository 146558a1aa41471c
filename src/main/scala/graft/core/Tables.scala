package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * The `events` table's `ts` column has drifted across driver versions:
  * INT64 TIMESTAMP(NANOS) (read via the legacy `nanosAsLong` conf as a
  * plain Long), then parquet `timestamp[us]` (reads as TIMESTAMP_NTZ).
  * `load` normalizes every variant to a session-UTC `TimestampType` so the
  * rest of the engine never sees the drift. TablesSchemaSpec is the canary:
  * a future format change fails one clearly-named test, not 20 oracle rows.
  */
object Tables {

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory. Sets no conf: the `nanosAsLong`
    * read of the ns variant comes from [[GraftSession]]. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    name match {
      case "events" =>
        import org.apache.spark.sql.types._
        df.schema("ts").dataType match {
          case LongType =>
            // ts: ns-since-epoch Long -> TimestampType (µs, truncated).
            // `div` keeps the arithmetic in integers: a double division
            // loses precision (ns epochs ≈ 1.7e18 exceed double's 2^53
            // exact range) and can shift values by ±1 µs.
            df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
          case _: TimestampNTZType =>
            // With the session tz pinned to UTC this cast is a pure
            // re-tag of the same µs epoch value, no wall-clock shift.
            df.withColumn("ts", col("ts").cast(TimestampType))
          case _: TimestampType => df
          case other =>
            throw new IllegalStateException(
              s"events.ts has unsupported parquet-loaded type $other; " +
                "extend Tables.load for the new testdata format")
        }
      case _ => df
    }
  }

  /** Register every table as a temp view (for spark.sql use). Footer
    * reads are driver-side and independent — run them concurrently
    * (10 sequential schema inferences cost ~2 s; parallel, ~the max of
    * one). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    // register what the directory HAS: the bench's synthetic-scale
    // dirs materialize only the table under test (events), and a
    // query that never touches the absent tables must still run.
    // Presence goes through the Hadoop FileSystem API so hdfs:///s3a:/
    // sfDirs resolve too (java.io.File would silently skip them all).
    val hconf = spark.sessionState.newHadoopConf()
    val present = all.filter { n =>
      val p = new org.apache.hadoop.fs.Path(s"$sfDir/$n.parquet")
      p.getFileSystem(hconf).exists(p)
    }
    val fs = present.map(n => Future {
      load(spark, sfDir, n).createOrReplaceTempView(n)
    })
    Await.result(Future.sequence(fs), 5.minutes)
    ()
  }
}
