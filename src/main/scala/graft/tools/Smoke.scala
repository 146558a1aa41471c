package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{GraftSession, Keys, Tables}
import graft.ingest.Fixtures

/** Tiny CLI smoke-driver: loads the driver testdata through the public
  * library API and prints a few observable results. Usage:
  *   sbt "runMain graft.tools.Smoke /root/testdata/sf0.001"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()

    val ev = Tables.load(spark, sfDir, "events")
    ev.printSchema()
    ev.orderBy("event_id").show(3, false)

    val probe = spark.sql("select cast(null as string) a, '' b")
    probe.select(
      Keys.surrogateKey(col("a")).as("k_null"),
      Keys.surrogateKey(col("b")).as("k_empty"),
      Keys.dateKey(lit("2024-01-05 10:11:12").cast("timestamp")).as("dk"),
      Keys.timeKey(lit("2024-01-05 10:11:12").cast("timestamp")).as("tk")
    ).show(false)

    Tables.registerAll(spark, sfDir)
    spark.sql("select count(*) c from lineitem").show()

    if (args.contains("entry")) {
      val df = graft.SparkEntry.entry(spark)
      println(s"entry rows = ${df.count()}")
      df.show(5, false)
    }
    if (args.contains("ops")) opsDemo(spark, sfDir)
    if (args.contains("ingest")) ingestDemo(spark)
    if (args.contains("llm")) llmDemo(spark, sfDir)
    spark.stop()
  }

  /** Drives dedup / similarity / text ops over the driver testdata. */
  def llmDemo(spark: SparkSession, sfDir: String): Unit = {
    import graft.operators.{Dedup, Similarity}
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, sfDir, "documents")
    val emb = Tables.load(spark, sfDir, "embeddings")
    println(s"docs=${docs.count()} exactDedup=${Dedup.exact(docs, "text", "doc_id").count()}")
    val cand = Dedup.minhashCandidates(docs, "text", "doc_id")
    println(s"minhash candidate pairs=${cand.count()} (>=0.8: ${cand.filter(col("jaccard") >= 0.8).count()})")
    println(s"simhash pairs<=3: ${Dedup.simhashPairs(docs, "text", "doc_id").count()}")
    val queries = emb.limit(3).select(col("vec_id").as("query_id"), col("embedding"))
    Similarity.bruteForceTopK(emb, queries, 5).show(15, false)
    val centroids = Similarity.seedCentroids(emb, 16)
    val cells = Similarity.assignCells(emb, centroids)
    println("ivf top5:")
    Similarity.ivfTopK(cells, centroids, queries, 5, nprobe = 4).show(15, false)
    docs.select(
      TextFunctions.langId(col("text")).as("lang_pred"),
      TextFunctions.tokenCount(col("text")).as("toks"),
      TextFunctions.qualityScore(col("text")).as("q"))
      .groupBy("lang_pred").agg(count(lit(1)).as("n"), avg("toks").as("avg_toks"),
        avg("q").as("avg_q")).show(false)
  }

  /** Drives the bronze ingest projections over the reference fixtures. */
  def ingestDemo(spark: SparkSession): Unit = {
    import spark.implicits._
    val payloads = graft.ingest.Bronze.Sources.map(Fixtures.payload)
    val routed = graft.ingest.Bronze.route(payloads.toDF("raw"))
    routed.foreach { case (src, df) =>
      println(s"== $src (${df.count()} rows)")
      df.drop("raw_data").show(2, 60, vertical = true)
    }
  }

  /** Drives the core operators over real testdata (verification surface). */
  def opsDemo(spark: SparkSession, sfDir: String): Unit = {
    import spark.implicits._
    import graft.operators.{AsOfJoin, Replacing}
    val ev = Tables.load(spark, sfDir, "events")
    val errs = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts", $"event_id")
    val signups = ev.filter($"event_type" === "signup")
      .select($"user_id", $"ts".as("signup_ts"), $"event_id".as("signup_event"))
    val bc = AsOfJoin.broadcast(errs, signups, Seq("user_id"), "ts", "signup_ts")
    val mg = AsOfJoin.merge(errs, signups, Seq("user_id"), "ts", "signup_ts")
    println(s"asof: errs=${errs.count()} bc=${bc.count()} mg=${mg.count()}")
    val b = bc.select($"event_id", $"signup_event").as[(Long, Option[Long])].collect().toMap
    val m = mg.select($"event_id", $"signup_event").as[(Long, Option[Long])].collect().toMap
    println(s"asof variants agree: ${b == m} (nonNull=${b.values.count(_.isDefined)})")
    val latest = Replacing.latestByKey(ev, Seq("user_id"), "ts")
    println(s"replacing: latest=${latest.count()} distinctUsers=${ev.select("user_id").distinct().count()}")
  }
}
