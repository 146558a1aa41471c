package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Streaming histogram states: per-batch bounded states land
  * replay-safe, the merged view carries the exact distribution in
  * the uncompressed regime, and quantiles read off the fold. */
class HistStreamSpec extends SparkSpec {
  import spark.implicits._

  test("view folds states exactly; replay rewrites its own partition") {
    val base = java.nio.file.Files.createTempDirectory("graft_hst").toString
    new java.io.File(s"$base/in").mkdirs()

    def writeBatch(rows: Seq[(String, Double)]): Unit =
      rows.toDF("g", "v").coalesce(1)
        .write.mode("append").parquet(s"$base/in")
    def run(): Unit = {
      val src = spark.readStream.schema("g STRING, v DOUBLE")
        .parquet(s"$base/in")
      val q = HistStream.start(src, Seq("g"), "v",
        s"$base/states", s"$base/ckpt", nbins = 32,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(120000)
    }

    // two batches over ≤ 32 distinct values → exact regime
    writeBatch((0 until 100).map(i => ("a", (i % 10).toDouble)))
    run()
    writeBatch((0 until 50).map(i => ("a", (i % 5).toDouble)) ++
      (0 until 30).map(i => ("b", (i % 3).toDouble)))
    run()

    def view = HistStream.histView(
        spark.read.parquet(s"$base/states"), Seq("g"), nbins = 32)
    val a = view.filter(col("g") === "a")
      .select(explode(col("hist"))).select("col.centroid", "col.cnt")
      .as[(Double, Long)].collect().toMap
    // value 0..4 seen 10+10 times, 5..9 seen 10
    assert((0 to 4).forall(v => a(v.toDouble) == 20L), a.toString)
    assert((5 to 9).forall(v => a(v.toDouble) == 10L), a.toString)

    // at-least-once replay of batch 1 is a no-op (partition rewrite)
    HistStream.processBatch(
      ((0 until 50).map(i => ("a", (i % 5).toDouble)) ++
        (0 until 30).map(i => ("b", (i % 3).toDouble))).toDF("g", "v"),
      1L, Seq("g"), "v", s"$base/states", nbins = 32)
    val a2 = view.filter(col("g") === "a")
      .select(explode(col("hist"))).select("col.centroid", "col.cnt")
      .as[(Double, Long)].collect().toMap
    assert(a2 == a, "replay must not double-count")

    // quantiles read straight off the fold
    view.createOrReplaceTempView("hist_states")
    val p50 = spark.sql(
      """SELECT g, hist_quantile(hist, 1, 2) AS p50 FROM hist_states""")
      .as[(String, Double)].collect().toMap
    // a: W=150, cums at v: 0→20 … 3→80 (80*2 ≥ 150) → p50 = 3
    assert(p50("a") == 3.0, p50.toString)
    assert(p50("b") == 1.0, p50.toString)

    // state stays bounded: one row per key per batch
    assert(spark.read.parquet(s"$base/states").count() == 3)
  }
}
