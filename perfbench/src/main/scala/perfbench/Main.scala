package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}


import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.core.GraftSession

final case class Metric(name: String, value: Double, unit: String, n: Int)

/** What a workload hands back: set-up it had to do after the measured
  * part began (added to `setup_s`), operations attempted and failed (a
  * failed operation is one that threw or gave a wrong answer), its
  * end-to-end and per-layer metrics, and why anything failed. */
final case class Outcome(setupS: Double, attempted: Long, failed: Long, e2e: Seq[Metric], layers: Seq[Metric],
    notes: Seq[String])

object Stats {
  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload cadence|suite --seed N --seconds S --trace 0|1
  *                --work DIR --data DIR --expected FILE --out FILE
  * perfbench.Main --record --data DIR --work DIR --expected FILE
  * }}}
  *
  * The session is `GraftSession.local(nproc)`, the factory the program
  * ships. Set-up time runs from JVM start to the end of the workload's
  * set-up. The result goes to `--out` as JSON: the contract metrics
  * (end-to-end, or per-layer with `--trace 1`) and a full report.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = Files.createDirectories(Path.of(opt("work")))
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cores)
    try {
      if (args.contains("--record")) {
        SuiteRun.record(spark, opt("data"), Path.of(opt("expected")))
        return
      }
      val workload = opt("workload")
      val seed = opt("seed").toLong
      val seconds = opt("seconds").toInt
      val trace = new Trace(spark.sparkContext, opt("trace") == "1", s"$workload-$seed")
      val measure: () => Outcome = workload match {
        case "cadence" =>
          val c = new Cadence(spark, trace, work, seed)
          c.setup()
          () => c.measure(seconds)
        case "suite" =>
          val s = new SuiteRun(spark, trace, opt("data"), Path.of(opt("expected")), seed)
          s.setup()
          () => s.measure(seconds)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val setupS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      trace.start()
      val out = measure()
      write(Path.of(opt("out")), workload, seed, cores, spark.conf.getAll, setupS, out, trace)
    } finally spark.stop()
  }

  private def write(path: Path, workload: String, seed: Long, cores: Int, confs: Map[String, String],
      setupS: Double, o: Outcome, trace: Trace): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", workload).put("seed", seed).put("cores", cores).put("traced", trace.on)
    root.put("attempted", o.attempted).put("failed", o.failed)
    def put(node: ObjectNode, ms: Seq[Metric]): Unit = ms.foreach { x =>
      node.putObject(x.name).put("value", x.value).put("unit", x.unit).put("n", x.n)
    }
    put(root.putObject("e2e"), Metric("setup_s", setupS + o.setupS, "s", 1) +: o.e2e)
    val layers = o.layers ++ Seq("streaming", "pipelines", "queries", "operators").flatMap { l =>
      trace.layer(l).metrics.map { case (k, v, u) => Metric(s"$l.$k", v, u, 1) }
    }
    put(root.putObject("layers"), layers)
    val sql = root.putObject("sql_confs")
    // the warehouse location is where this run wrote, not a setting
    confs.toSeq.sorted.foreach { case (k, v) =>
      if (k.startsWith("spark.sql.") && k != "spark.sql.warehouse.dir") sql.put(k, v)
    }
    val notes = root.putArray("notes")
    o.notes.foreach(notes.add)
    val spans = root.putArray("spans")
    trace.spans.foreach { s =>
      spans.addObject().put("run", trace.runId).put("id", s.id).put("parent", s.parent)
        .put("layer", s.layer).put("name", s.name).put("start_ns", s.start).put("end_ns", s.end)
    }
    m.writerWithDefaultPrettyPrinter().writeValue(path.toFile, root)
  }
}
