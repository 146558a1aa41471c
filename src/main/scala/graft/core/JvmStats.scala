package graft.core

import com.fasterxml.jackson.databind.node.ObjectNode

/** Process-level run-condition probes shared by every timed receipt
  * (the bench's suite receipts and the gold runner's per-pipeline
  * ledger): wall time alone cannot distinguish "the plan is slow" from
  * "the box was busy" or "the JVM was collecting" — cpu ≈ wall·cores
  * reads hot plan, low cpu with flat gc reads co-tenant load, high gc
  * reads heap pressure. [[receiptOf]] is the one place that takes the
  * deltas. */
object JvmStats {

  /** Cumulative process CPU seconds (-1 when the platform bean is
    * unavailable). */
  def procCpuSec: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean =>
        b.getProcessCpuTime / 1e9
      case _ => -1.0
    }

  /** Cumulative stop-the-world GC seconds across all collectors. */
  def gcSec: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum / 1000.0
  }

  /** `x` rounded half-up to `scale` decimals, as a JSON number keeps it
    * (a double would print 1.0, not 1.000). */
  def rounded(x: Double, scale: Int = 3): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(x).setScale(scale, java.math.RoundingMode.HALF_UP)

  /** One timed block's run condition in seconds: wall clock, this JVM's
    * process-CPU delta, GC-time delta. util = cpu/(wall·cores) — low
    * util with flat gc reads "the box was busy", cpu ≫ wall·cores is
    * impossible, cpu ≈ wall·cores is a genuinely hot plan. */
  case class Receipt(wall: Double, cpu: Double, gc: Double) {
    def util(cpus: Int): Double = if (wall > 0) cpu / (wall * cpus) else 0.0

    /** Puts `<p>` (wall), `<p>_cpu`, `<p>_gc` and `<p>_util` into
      * `node`, 3 decimals each, and returns it. `withWall = false`
      * leaves `<p>` out, for a block whose wall already has a key. */
    def putInto(node: ObjectNode, p: String, cpus: Int,
        withWall: Boolean = true): ObjectNode = {
      if (withWall) node.put(p, rounded(wall))
      node.put(s"${p}_cpu", rounded(cpu)).put(s"${p}_gc", rounded(gc))
        .put(s"${p}_util", rounded(util(cpus)))
    }
  }

  /** Runs `fn` and returns its result with its [[Receipt]]. */
  def receiptOf[T](fn: => T): (T, Receipt) = {
    val c0 = procCpuSec
    val g0 = gcSec
    val t0 = System.nanoTime()
    val r = fn
    (r, Receipt((System.nanoTime() - t0) / 1e9, procCpuSec - c0, gcSec - g0))
  }
}
