package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.current_timestamp
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.core.Runner.Task

/** The one concurrent runner: its input-order check, the job group of
  * `Tables.registerAll`'s jobs (`RegistryDagSpec` and `BronzeStreamSpec`
  * cover its other two callers and the rest of its contract), and the
  * guard that keeps thread pools out of every other `src/main` file. */
class RunnerSpec extends SparkSpec with Eventually {

  test("a task that waits for a later id is refused before anything runs") {
    val ran = new AtomicInteger
    val tasks = Seq(Task("a", Seq("b"), () => ran.incrementAndGet()),
      Task("b", Nil, () => ran.incrementAndGet()))
    val e = intercept[IllegalArgumentException](Runner.run(tasks, 2))
    assert(e.getMessage.contains("'b'"), e.getMessage)
    assert(ran.get == 0)
  }

  test("two registerAll calls under two job groups give each call's jobs its own group") {
    val marker = "graft.spec.stub"
    val jobs = new ConcurrentLinkedQueue[String]() // job groups, in delivery order
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty(marker) != null).foreach(p =>
          jobs.add(String.valueOf(p.getProperty("spark.jobGroup.id"))))
    }
    val sc = spark.sparkContext
    // a job under `group` whose arrival bounds the jobs before it:
    // listener events arrive in order
    def fence(group: String): Unit = {
      sc.setJobGroup(group, "RunnerSpec")
      try spark.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)))(assert(jobs.contains(group)))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_runner").toString
    Tables.all.foreach(n => spark.range(3).withColumn("ts", current_timestamp())
      .write.parquet(s"$dir/$n.parquet"))
    // its own temp-view catalog, so the shared session's views stay as they are
    val session = spark.newSession()
    sc.setLocalProperty(marker, "registerAll")
    sc.addSparkListener(listener)
    try {
      for (round <- 1 to 2) {
        val group = s"runner-spec-$round"
        fence(s"$group-before")
        sc.setJobGroup(group, "RunnerSpec")
        try Tables.registerAll(session, dir)
        finally sc.clearJobGroup()
        fence(s"$group-after")
        val seen = jobs.asScala.toSeq
        // a fence's count may run more than one job
        val call = seen.slice(seen.lastIndexOf(s"$group-before") + 1, seen.indexOf(s"$group-after"))
        // one schema inference per table at least
        assert(call.size >= Tables.all.size, call)
        assert(call.toSet == Set(group), call)
      }
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(marker, null)
    }
  }

  test("only core/Runner.scala starts thread pools in src/main") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val owner = new java.io.File(root, "graft/core/Runner.scala")
    val needles = Seq("Executors.", "ExecutorCompletionService",
      "ExecutionContext", "scala.concurrent.Future")
    val hits = for {
      f <- files(root) if f.getCanonicalPath != owner.getCanonicalPath
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      n <- needles if line.contains(n)
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $n"
    assert(hits.isEmpty, hits.mkString("\n"))
    val own = java.nio.file.Files.readString(owner.toPath)
    Seq("Executors.", "ExecutorCompletionService").foreach(n =>
      assert(own.contains(n), s"$n left Runner"))
  }
}
