package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame

import graft.core.GraftSession

/** Stage-level profiler for suite queries: prints per-stage task time
  * so slow spots are measured instead of guessed.
  * Usage: runMain graft.tools.Prof SF_DIR plan:<query>|q:<query>
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = args.drop(1).headOption.getOrElse("")
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

    what match {
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
      case _ => sys.error(s"unknown mode '$what': use plan:<query> or q:<query>")
    }
    spark.stop()
  }
}
