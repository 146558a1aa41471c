package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: run only queries whose name contains it
    // (targeted re-checks; the driver always passes exactly two args)
    val only = args.drop(2).headOption
    val spark = graft.core.GraftSession.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(name.contains) }
      .foreach { case (name, fn) =>
      // operators cache intermediates (LSH block tables etc.); scope
      // them to the query so a 99-query run doesn't accumulate blocks
      spark.catalog.clearCache()
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
