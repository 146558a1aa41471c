package graft.pipelines

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.pipelines.Registry.PipelineSpec

/** The dependency-driven runner behind Registry.run, driven with stub
  * pipelines: dependency gating, overlap, the in-flight cap, the failure
  * contract, the `only` subset, and Spark job-group inheritance. */
class RegistryDagSpec extends SparkSpec with Eventually {

  private val w = TimeWindow.of("2026-01-08 00:00:00", "2026-01-08 12:00:00")

  private def freshCtx(): GoldContext =
    new GoldContext(spark, Files.createTempDirectory("graft_dag").toString, "Asia/Jakarta")

  /** Start and end of every stub run, on one shared logical clock. */
  private class Clock {
    private val tick = new AtomicLong
    val starts = new ConcurrentHashMap[String, Long]()
    val ends = new ConcurrentHashMap[String, Long]()
    def stub(id: String, deps: Seq[String] = Nil)(body: => Unit = ()): PipelineSpec =
      PipelineSpec(id, s"t_$id", deps, (_, _) => {
        starts.put(id, tick.incrementAndGet())
        try body finally ends.put(id, tick.incrementAndGet())
        1L
      })
  }

  private def ledgerIds(ctx: GoldContext): Set[String] =
    spark.read.parquet(ctx.path("_run_ledger")).select("pipelineId")
      .collect().map(_.getString(0)).toSet

  test("a pipeline starts only after all of its selected dependencies end") {
    val c = new Clock
    val nap = () => Thread.sleep(20)
    val specs = Seq(
      c.stub("d1")(nap()), c.stub("d2")(Thread.sleep(500)), c.stub("d3")(nap()),
      c.stub("f1", Seq("d1", "d2"))(nap()), c.stub("f2", Seq("d3"))(nap()),
      c.stub("b1", Seq("f1", "d3"))(nap()), c.stub("b2", Seq("f2", "f1"))(nap()))
    val ctx = freshCtx()
    val stats = Registry.runSpecs(ctx, w, specs, None)
    assert(stats.map(_.pipelineId) == Registry.topoOrder(specs).map(_.id))
    for (s <- specs; d <- s.dependsOn)
      assert(c.starts.get(s.id) > c.ends.get(d), s"${s.id} started before $d ended")
    // f2 waits for d3 only, not for the slower d2
    assert(c.starts.get("f2") < c.ends.get("d2"))
    assert(ledgerIds(ctx) == specs.map(_.id).toSet)
  }

  test("independent pipelines overlap") {
    val both = new CountDownLatch(2)
    def meet(): Unit = {
      both.countDown()
      // a sequential runner times out here instead of hanging
      if (!both.await(30, TimeUnit.SECONDS)) throw new IllegalStateException("ran alone")
    }
    val c = new Clock
    val stats = Registry.runSpecs(freshCtx(), w, Seq(c.stub("a")(meet()), c.stub("b")(meet())), None)
    assert(stats.map(_.pipelineId) == Seq("a", "b"))
  }

  test(s"at most ${Registry.MaxInFlight} pipelines are in flight") {
    val inFlight = new AtomicInteger
    val peak = new AtomicInteger
    val c = new Clock
    val specs = (1 to 12).map(i => c.stub(s"p$i") {
      peak.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      // hold the slot until the cap is reached (or a slow box gives up)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      while (peak.get < Registry.MaxInFlight && System.nanoTime() < deadline) Thread.sleep(5)
      Thread.sleep(20)
      inFlight.decrementAndGet()
    })
    assert(Registry.runSpecs(freshCtx(), w, specs, None).size == 12)
    assert(peak.get == Registry.MaxInFlight)
  }

  test("a failure blocks its dependents only; the first failure in topo order is rethrown") {
    val c = new Clock
    val slow = new IllegalStateException("slow failure")
    val fast = new IllegalStateException("fast failure")
    val specs = Seq(
      c.stub("bad1") { Thread.sleep(200); throw slow },
      c.stub("bad2")(throw fast),
      c.stub("ok1")(Thread.sleep(300)),
      c.stub("child", Seq("bad1"))(),
      c.stub("grandchild", Seq("child", "ok1"))(),
      c.stub("child2", Seq("bad2"))(),
      c.stub("ok2", Seq("ok1"))(Thread.sleep(50)))
    val ctx = freshCtx()
    val thrown = intercept[IllegalStateException](Registry.runSpecs(ctx, w, specs, None))
    assert(thrown eq slow)
    // dependents of a failure never started ...
    assert(Set("child", "grandchild", "child2").forall(id => !c.starts.containsKey(id)))
    // ... every other pipeline ran to its end before the call returned
    assert(Set("bad1", "bad2", "ok1", "ok2").forall(c.ends.containsKey))
    // and only the completed pipelines reached the ledger
    assert(ledgerIds(ctx) == Set("ok1", "ok2"))
  }

  test("with `only`, a dependency outside the subset does not block") {
    val c = new Clock
    val specs = Seq(c.stub("dim")(), c.stub("fact", Seq("dim"))(), c.stub("bridge", Seq("fact"))())
    val stats = Registry.runSpecs(freshCtx(), w, specs, Some(Set("fact", "bridge")))
    assert(stats.map(_.pipelineId) == Seq("fact", "bridge"))
    assert(!c.starts.containsKey("dim"))
    assert(c.starts.get("bridge") > c.ends.get("fact"))
  }

  test("Spark jobs of the pipelines carry the caller's job group") {
    val jobs = new ConcurrentHashMap[String, String]() // stub id -> job group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("graft.spec.stub")))
          .foreach(id => jobs.put(id, String.valueOf(e.properties.getProperty("spark.jobGroup.id"))))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // two calls under two groups: a pool started by the first call and
      // reused would hand the second call's jobs the first group
      for (round <- 1 to 2) {
        val group = s"registry-dag-spec-$round"
        jobs.clear()
        val specs = (1 to 4).map(i => PipelineSpec(s"p$i", s"t_p$i", Nil, (ctx, _) => {
          ctx.spark.sparkContext.setLocalProperty("graft.spec.stub", s"p$i")
          ctx.spark.range(10).count()
        }))
        sc.setJobGroup(group, "RegistryDagSpec")
        try Registry.runSpecs(freshCtx(), w, specs, None)
        finally sc.clearJobGroup()
        eventually(timeout(Span(30, Seconds))) { assert(jobs.size == 4) }
        assert(jobs.asScala.values.toSet == Set(group))
      }
    } finally sc.removeSparkListener(listener)
  }
}
