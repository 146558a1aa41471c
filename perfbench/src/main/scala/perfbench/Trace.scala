package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer: spans around each call the benchmark makes into a
  * layer of the program, plus a `SparkListener` that charges every Spark
  * job, stage and task to the span whose job group ran it.
  *
  * Spans live in memory and are written once, at the end of the run.
  * Until [[start]] of a traced run, [[span]] only runs its body: no job
  * group is set and no listener is installed, so set-up and untraced
  * runs measure the program alone.
  */
final class Trace(sc: SparkContext, enabled: Boolean, val runId: String) {
  import Trace._

  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Option[Span]] { override def initialValue() = None }
  /** job group -> layer charged for its work */
  private val groups = new ConcurrentHashMap[String, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  /** Spark work per job group; resolved to layers when read, so a group
    * adopted after its first job still counts in full. */
  private val counts = new ConcurrentHashMap[String, Counts]()

  @volatile private var started = false
  def on: Boolean = started

  /** Turns tracing on, if this is a traced run. */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(Listener)
    started = true
  }

  /** Runs `body` as span `name` of `layer`, nested under this thread's
    * open span. */
  def span[T](layer: String, name: String)(body: => T): T = {
    if (!on) return body
    val parent = current.get()
    val s = Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), layer, name, System.nanoTime())
    val group = s"$runId:${s.id}"
    groups.put(group, layer)
    val prevGroup = Option(sc.getLocalProperty(JobGroupKey))
    sc.setJobGroup(group, name)
    current.set(Some(s))
    try body
    finally {
      s.end = System.nanoTime()
      current.set(parent)
      prevGroup match {
        case Some(g: String) => sc.setJobGroup(g, "")
        case Some(_) => ()
        case None => sc.clearJobGroup()
      }
      done.add(s)
    }
  }

  /** Charges the jobs of a job group this thread does not set (a
    * streaming query runs its batches under its own run id) to `layer`. */
  def adopt(group: String, layer: String): Unit = if (on) groups.put(group, layer)

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.start)

  /** Spark work charged to `layer` (zeros when it ran none). */
  def layer(l: String): Counts = {
    val sum = new Counts
    counts.asScala.foreach { case (g, c) => if (groups.get(g) == l) sum.merge(c) }
    sum
  }

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(JobGroupKey)))
        .foreach { g =>
          c(g).jobs.incrementAndGet()
          e.stageIds.foreach(stageGroup.put(_, g))
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach(g => c(g).stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { g =>
        val m = e.taskMetrics
        if (m != null) c(g).add(e.taskInfo.duration, m)
      }
    private def c(g: String): Counts = counts.computeIfAbsent(g, _ => new Counts)
  }
}

object Trace {

  /** The local property Spark keeps a thread's job group in. */
  private val JobGroupKey = "spark.jobGroup.id"

  final case class Span(id: Long, parent: Long, layer: String, name: String, start: Long) {
    @volatile var end: Long = 0L
    def seconds: Double = (end - start) / 1e9
  }

  /** Spark work of one layer, summed over its tasks. */
  final class Counts {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    private val taskMs = mutable.ArrayBuffer.empty[Long]
    private var cpuNs, gcMs, shuffleBytes, spillBytes, peakMem = 0L

    def merge(o: Counts): Unit = o.synchronized {
      jobs.addAndGet(o.jobs.get); stages.addAndGet(o.stages.get)
      synchronized {
        taskMs ++= o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
        shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
        peakMem = math.max(peakMem, o.peakMem)
      }
    }

    def add(durationMs: Long, m: org.apache.spark.executor.TaskMetrics): Unit = synchronized {
      taskMs += durationMs
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
    }

    /** The per-layer Spark metrics, keyed without the layer prefix. */
    def metrics: Seq[(String, Double, String)] = synchronized {
      val sorted = taskMs.sorted
      val median = if (sorted.isEmpty) 0L else sorted(sorted.size / 2)
      Seq(
        ("jobs", jobs.get.toDouble, "count"),
        ("stages", stages.get.toDouble, "count"),
        ("tasks", taskMs.size.toDouble, "count"),
        ("task_s", taskMs.sum / 1e3, "s"),
        ("task_skew", if (median > 0) sorted.last.toDouble / median else 0.0, "ratio"),
        ("shuffle_mb", shuffleBytes / 1e6, "MB"),
        ("spill_mb", spillBytes / 1e6, "MB"),
        ("peak_exec_mem_mb", peakMem / 1e6, "MB"),
        ("cpu_s", cpuNs / 1e9, "s"),
        ("gc_s", gcMs / 1e3, "s"))
    }
  }
}
