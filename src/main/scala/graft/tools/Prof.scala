package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

import graft.core.{GraftSession, Tables}
import graft.operators.Dedup

/** Stage-level profiler for the heavy operators: prints per-stage task
  * time so slow spots are measured instead of guessed.
  * Usage: runMain graft.tools.Prof SF_DIR [l2|l4|...]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = args.drop(1).headOption.getOrElse("l2")
    val spark = GraftSession.local()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = si.taskMetrics.executorRunTime
        val wall = (for { s <- si.submissionTime; c <- si.completionTime }
          yield (c - s) / 1000.0).getOrElse(-1.0)
        println(f"[stage ${si.stageId}%3d] tasks=${si.numTasks}%4d " +
          f"wall=$wall%6.2f s taskTime=${ms / 1000.0}%8.2f s  ${si.name.take(80)}")
      }
    })

    // in-JVM stack sampler: counts executor-thread frames while the
    // query runs (external jstack attach is unreliable under sbt fork)
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = false
    // getAllStackTraces forces a global safepoint every tick, which
    // inflates executorRunTime ~10x — keep it opt-in so stage timings
    // stay honest when not hunting hot frames.
    val sampleOn = sys.env.get("GRAFT_PROF_SAMPLE").contains("1")
    val sampler = new Thread(() => {
      while (true) {
        if (sampling && sampleOn) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (t, frames) =>
            if (t.getName.startsWith("Executor task launch")) {
              frames.take(12).foreach { f =>
                frameCounts.merge(f.getClassName + "." + f.getMethodName,
                  1, (a, b) => a + b)
              }
            }
          }
        }
        Thread.sleep(5)
      }
    })
    sampler.setDaemon(true)
    sampler.start()

    def run(label: String)(df: => DataFrame): Unit = {
      val t0 = System.nanoTime()
      // noop sink, not count(): count lets Catalyst prune every computed
      // column, which silently profiles an empty projection
      sampling = true
      df.write.format("noop").mode("overwrite").save()
      sampling = false
      println(f"== $label wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
      import scala.jdk.CollectionConverters._
      frameCounts.asScala.toSeq.sortBy(-_._2).take(30).foreach { case (k, v) =>
        println(f"[hot] $v%6d  $k")
      }
    }

    val docs = Tables.load(spark, sfDir, "documents")
    what match {
      case "l2sig" =>
        // signature stage only
        run("signatures") {
          import org.apache.spark.sql.functions._
          val par = spark.sparkContext.defaultParallelism
          val sh = docs.repartition(par, col("doc_id"))
            .select(col("doc_id").as("__id"),
              array_distinct(Dedup.shingles(col("text"), 3)).as("__sh"))
          val exploded = sh.select(col("__id"), explode(col("__sh")).as("__s"))
          val minAggs = (0 until 64).map(i =>
            min(xxhash64(lit(i), col("__s"))).as(s"__m$i"))
          exploded.groupBy(col("__id")).agg(minAggs.head, minAggs.tail: _*)
        }
      case "l2" =>
        run("minhashCandidates")(
          Dedup.minhashCandidates(docs, "text", "doc_id"))
      case "l4" =>
        import org.apache.spark.sql.functions._
        run("ngramJaccard")(
          Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 2)
            .filter(col("jaccard") >= 0.3))
      case "l2plan" =>
        Dedup.minhashCandidates(docs, "text", "doc_id").explain("formatted")
      case "l10" =>
        import org.apache.spark.sql.functions._
        run("fingerprints") {
          docs.repartition(spark.sparkContext.defaultParallelism)
            .select(col("doc_id"),
              graft.functions.TextFunctions.contentFingerprint(col("text")).as("fp"),
              graft.functions.TextFunctions.rollingFingerprint(col("text")).as("rfp"))
        }
      case "l10c" =>
        import org.apache.spark.sql.functions._
        run("content only") {
          docs.repartition(spark.sparkContext.defaultParallelism)
            .select(col("doc_id"),
              graft.functions.TextFunctions.contentFingerprint(col("text")).as("fp"))
        }
      case "l10r" =>
        import org.apache.spark.sql.functions._
        run("rolling only") {
          docs.repartition(spark.sparkContext.defaultParallelism)
            .select(col("doc_id"),
              graft.functions.TextFunctions.rollingFingerprint(col("text")).as("rfp"))
        }
      case "l19" =>
        run("prefixJaccard")(
          Dedup.prefixJaccardPairs(docs, "text", "doc_id", 0.3, 2))
      case "l114" =>
        import org.apache.spark.sql.functions._
        val excerpts = docs.filter(col("doc_id") < 40)
          .select((col("doc_id") + 200000).as("doc_id"),
            concat_ws(" ", slice(Dedup.tokens(col("text")), 1, 12)).as("text"))
        val store = docs.select(col("doc_id"), col("text"))
          .unionByName(excerpts)
        for (i <- 1 to 3)
          run(s"containment#$i")(Dedup.selfContainmentPairs(
            store, "text", "doc_id", shingleN = 4, threshold = 0.9))
        val (c, p) = Dedup.containmentCensus(store, "text", "doc_id",
          threshold = 0.9, shingleN = 4)
        println(s"census: cands=$c verified=$p")
      case "l19stages" =>
        import org.apache.spark.sql.functions._
        val th = sys.env.getOrElse("GRAFT_T", "0.8").toDouble
        val par = spark.sparkContext.defaultParallelism
        val t0 = System.nanoTime()
        // same gram shape as the shipped prefixJaccardPairs (multi-arg
        // hashed SORTED grams) so stage timings reflect production
        val prepped = docs.repartition(par, col("doc_id"))
          .select(col("doc_id").as("__id"),
            Dedup.hashedShingles(col("text"), 2).as("__sh")).cache()
        println(s"docs=${prepped.count()} t=${(System.nanoTime()-t0)/1e9}")
        val gramDf = prepped.select(explode(col("__sh")).as("__g"))
          .groupBy("__g").agg(count(lit(1)).as("__df"))
        println(s"grams=${gramDf.count()} t=${(System.nanoTime()-t0)/1e9}")
        println(gramDf.agg(max("__df"), avg("__df")).collect().mkString)
        val sorted = prepped.select(col("__id"), explode(col("__sh")).as("__g"))
          .join(gramDf, "__g").groupBy("__id")
          .agg(array_sort(collect_list(struct(col("__df"), col("__g")))).as("__dg"))
          .select(col("__id"),
            transform(col("__dg"), s => s.getField("__g")).as("__sorted")).cache()
        println(s"sorted=${sorted.count()} t=${(System.nanoTime()-t0)/1e9}")
        val prefixes = sorted.select(col("__id"),
          size(col("__sorted")).as("__n"),
          posexplode(slice(col("__sorted"), lit(1),
            (size(col("__sorted")) - ceil(lit(th) * size(col("__sorted"))).cast("int") + 1)))
            .as(Seq("__pos", "__p"))).cache()
        println(s"prefixRows=${prefixes.count()} t=${(System.nanoTime()-t0)/1e9}")
        val alpha = ceil(lit(th / (1 + th)) * (col("l.__n") + col("r.__n")))
        val pairs = prefixes.as("l").join(prefixes.as("r"),
            col("l.__p") === col("r.__p") && col("l.__id") < col("r.__id") &&
              least(col("l.__n"), col("r.__n")) >=
                ceil(lit(th) * greatest(col("l.__n"), col("r.__n"))) &&
              least(col("l.__n") - col("l.__pos"), col("r.__n") - col("r.__pos")) >= alpha)
          .select(col("l.__id").as("id_a"), col("r.__id").as("id_b")).distinct().cache()
        println(s"candidates=${pairs.count()} t=${(System.nanoTime()-t0)/1e9}")
        val isect = {
          import org.apache.spark.sql.GraftColumnBridge.{column, expression}
          (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
            column(graft.functions.SortedIntersectSize(expression(a), expression(b)))
        }
        val verified = pairs
          .join(prepped.select(col("__id").as("id_a"), col("__sh").as("__sh_a")), "id_a")
          .join(prepped.select(col("__id").as("id_b"), col("__sh").as("__sh_b")), "id_b")
          .withColumn("__i", isect(col("__sh_a"), col("__sh_b")))
          .filter(col("__i").cast("double") /
            (size(col("__sh_a")) + size(col("__sh_b")) - col("__i")) >= th)
        println(s"final=${verified.count()} t=${(System.nanoTime()-t0)/1e9}")
      case "l4plan" =>
        import org.apache.spark.sql.functions._
        Dedup.ngramJaccardPairs(docs, "text", "doc_id", "source", 2)
          .filter(col("jaccard") >= 0.3).explain("formatted")
      case "l7" =>
        import org.apache.spark.sql.functions._
        run("langid") {
          docs.select(graft.functions.TextFunctions.langId(col("text")).as("lang_pred"))
            .groupBy("lang_pred").agg(count(lit(1)).as("n"))
        }
      case p if p.startsWith("plan:") =>
        // formatted physical plan of any suite query, e.g. plan:l25_idf_quality
        graft.queries.Suite.queries(p.stripPrefix("plan:"))(spark, sfDir)
          .explain("formatted")
      case p if p.startsWith("q:") =>
        // stage-profiled noop run of any suite query (reps via GRAFT_REPS),
        // e.g. q:l110_lsh_horizon — the bench's timing shape, with the
        // per-stage listener above attributing the wall time
        val name = p.stripPrefix("q:")
        graft.queries.Suite.stagePersistedRoots(spark, sfDir)
        val reps = sys.env.getOrElse("GRAFT_REPS", "3").toInt
        for (i <- 1 to reps) {
          spark.catalog.clearCache()
          run(s"$name rep$i")(
            graft.queries.Suite.queries(name)(spark, sfDir))
        }
      case _ => sys.error(s"unknown: $what")
    }
    spark.stop()
  }
}
