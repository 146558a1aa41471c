package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.queries.GoldViews

/** The BI client: one dashboard user sending fresh SQL text over the
  * registered gold views in a closed loop.
  *
  * Every request is new text (its time range and top-k are drawn per
  * request), so each one is parsed, analysed and planned like a
  * dashboard refresh; re-collecting a frame the client already holds
  * would skip planning and time only execution.
  */
object Bi {

  /** Board -> requests per deck of 20: the `GoldViews.acceptance`
    * boards plus a join on the current `dim_rule` versions, skewed
    * toward the top boards. Requests are dealt from shuffled decks, so
    * every run sends the same mix and the seed only orders it. */
  private val boards: Seq[(String, Int)] = Seq(
    "severity_topk" -> 5, "five_minute_severity" -> 4, "wazuh_daily_counts" -> 3,
    "daily_top_signatures" -> 3, "current_rule_levels" -> 3, "protocol_share_of_day" -> 2)
  private val deckSize = boards.map(_._2).sum

  private val currentRuleLevels =
    """SELECT r.rule_name, r.rule_level, count(*) AS event_count
      |FROM fact_wazuh_events f JOIN dim_rule r ON f.rule_key = r.rule_key
      |WHERE r.is_current = 1
      |GROUP BY r.rule_name, r.rule_level
      |ORDER BY event_count DESC, r.rule_name LIMIT 10""".stripMargin

  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
  def ts(ms: Long): String = fmt.format(java.time.Instant.ofEpochMilli(ms))

  /** A request: a board over the events since a drawn instant of the
    * first tick, with a drawn top-k. */
  final case class Request(board: String, since: Long, k: Int) {
    def sql: String = {
      val base = if (board == "current_rule_levels") currentRuleLevels else GoldViews.acceptance(board)
      base.replaceAll("FROM (fact_\\w+_events)", s"FROM (SELECT * FROM $$1 WHERE event_ts >= TIMESTAMP '${ts(since)}')")
        .replaceAll("LIMIT \\d+", s"LIMIT $k")
    }
  }

  /** Endless requests: decks of boards in seeded order, each with a
    * drawn instant and top-k. */
  def requests(rnd: Random): Iterator[Request] =
    Iterator.continually(rnd.shuffle(boards.flatMap { case (b, n) => Seq.fill(n)(b) })).flatten
      .map(b => Request(b, Gen.T0 - 60000 + rnd.nextInt(4 * 60000), 5 + rnd.nextInt(46)))

  /** One untimed deck, so the timed requests find the planner and the
    * boards' code compiled: on 4 cores a request still takes about 0.4 s
    * after one request per board and falls to 0.2-0.3 s over the
    * following dozen. */
  def warmUp(spark: SparkSession, rnd: Random): Unit =
    requests(rnd).take(deckSize).foreach(r => spark.sql(r.sql).collect())

  /** The answer the generator predicts, for the boards it can predict. */
  def expected(r: Request, gen: Gen): Option[Set[Seq[Any]]] = r.board match {
    case "severity_topk" =>
      Some(gen.suricataSeverity.filter(_._1 >= r.since).groupBy(_._2).toSeq
        .sortBy(-_._2.size).take(r.k).map { case (sev, es) => Seq[Any](sev.toString, es.size.toLong) }.toSet)
    case "wazuh_daily_counts" =>
      Some(gen.wazuhTimes.filter(_ >= r.since).groupBy(t => java.time.LocalDate.ofEpochDay(t / 86400000L)).toSeq
        .sortBy(_._1).reverse.take(r.k).map { case (d, es) => Seq[Any](d.toString, es.size.toLong) }.toSet)
    case _ => None
  }

  /** Rows read by the file scans of an executed plan. */
  def rowsScanned(plan: SparkPlan): Long = plan match {
    case a: AdaptiveSparkPlanExec => rowsScanned(a.executedPlan)
    case q: QueryStageExec => rowsScanned(q.plan)
    case s: FileSourceScanExec => s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case p => (p.children ++ p.subqueries).map(rowsScanned).sum
  }

  final case class Result(latency: Seq[Double], attempted: Int, failed: Int,
      errors: Seq[String], layers: Seq[Metric])

  /** Sends requests back to back for at least `seconds`, in whole decks:
    * the boards cost up to twice each other, so a part deck would let the
    * seed change the mix the latencies come from. A request fails when it
    * throws, returns no rows, or differs from the generator's answer. */
  def session(spark: SparkSession, trace: Trace, gen: Gen, rnd: Random, seconds: Int): Result = {
    val latency = mutable.ArrayBuffer.empty[Double]
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted, failed = 0
    var planS, execS = 0.0
    var scanned, returned = 0L
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val next = requests(rnd)
    while (System.nanoTime() < end || attempted % deckSize != 0) {
      val r = next.next()
      attempted += 1
      try trace.span("queries", s"bi ${r.board}") {
        val t0 = System.nanoTime()
        val df = spark.sql(r.sql)
        val plan = df.queryExecution.executedPlan
        val t1 = System.nanoTime()
        val rows = df.collect()
        val t2 = System.nanoTime()
        planS += (t1 - t0) / 1e9
        execS += (t2 - t1) / 1e9
        latency += (t2 - t0) / 1e9
        if (trace.on) { scanned += rowsScanned(plan); returned += rows.length }
        val got = rows.map((x: Row) => x.toSeq.map { case d: java.sql.Date => d.toString; case v => v }).toSet
        if (rows.isEmpty) { failed += 1; errors += s"${r.board} returned no rows" }
        else expected(r, gen).filter(_ != got).foreach { e =>
          failed += 1
          errors += s"${r.board} since ${ts(r.since)}: got ${got.take(3)}, expected ${e.take(3)}"
        }
      } catch {
        case e: Exception => failed += 1; errors += s"${r.board}: ${e.getMessage}"
      }
    }
    Result(latency.toSeq, attempted, failed, errors.toSeq, Seq(
      Metric("queries.plan_s", planS, "s", attempted),
      Metric("queries.exec_s", execS, "s", attempted),
      Metric("queries.rows_scanned_per_row", if (returned > 0) scanned.toDouble / returned else 0.0, "ratio", attempted)))
  }
}
