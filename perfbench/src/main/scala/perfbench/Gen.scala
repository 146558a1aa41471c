package perfbench

import scala.collection.mutable
import scala.util.Random

/** Seeded SIEM event stream in the three shapes `Bronze.route` accepts
  * (wazuh, suricata, zeek): one 5-minute tick as a JSON-lines file.
  *
  * The seed is the only input; the program sees only the files. The
  * generator keeps its own account of what it emitted, so the checks in
  * [[Cadence]] compare the warehouse against numbers computed here and
  * never against the program's own output.
  *
  * What varies, and why:
  *  - key skew: agents, hosts, rules and signatures are drawn Zipf-like,
  *    so a few keys carry most events (the hot-key shape of real alerts);
  *  - redelivery: a fixed share of lines repeats another line of the
  *    tick byte for byte (at-least-once delivery);
  *  - lateness: a fixed share of events carries an event time inside the
  *    5 minutes before the tick, which the overlapping 10-minute window
  *    must still pick up;
  *  - attribute churn: the tick moves a few agents and hosts to a new IP
  *    and re-levels a few rules, so it runs the SCD2 close-and-insert
  *    path.
  */
final class Gen(seed: Long, val eventsPerTick: Int) {
  import Gen._

  private val rnd = new Random(seed)
  private val agentZ = new Zipf(Agents, rnd)
  private val hostZ = new Zipf(Hosts, rnd)
  private val ruleZ = new Zipf(Rules, rnd)
  private val sigZ = new Zipf(Signatures, rnd)

  // attribute timelines: change time (ms) -> value, per key
  private val agentIp = Array.tabulate(Agents)(a => mutable.TreeMap(Long.MinValue -> s"10.$a.0.1"))
  private val hostIp = Array.tabulate(Hosts)(h => mutable.TreeMap(Long.MinValue -> s"10.${100 + h}.0.1"))
  private val ruleLevel = Array.tabulate(Rules)(r => mutable.TreeMap(Long.MinValue -> (1 + r % 12)))

  /** Distinct events per source: what the fact views must hold. */
  val distinctEvents: mutable.Map[String, Long] = mutable.Map("wazuh" -> 0L, "suricata" -> 0L, "zeek" -> 0L)
  /** Event times of the distinct wazuh events, and (event time,
    * severity) of the distinct suricata events. */
  val wazuhTimes: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  val suricataSeverity: mutable.ArrayBuffer[(Long, Int)] = mutable.ArrayBuffer.empty
  /** wazuh (agent, event time) -> agent IP, over every distinct event. */
  private val agentSeen = Array.fill(Agents)(mutable.TreeMap.empty[Long, String])
  /** Distinct wazuh events timed inside the tick (not late). */
  private var wazuhInTick = 0L
  /** Lines in the tick's file, redelivered copies included. */
  private var tickLines = 0L

  private def at[V](tl: mutable.TreeMap[Long, V], ts: Long): V = tl.rangeTo(ts).last._2

  /** The lines of the tick, in file order. The tick's events are timed
    * from [[T0]]; late ones fall inside the 5 minutes before it. */
  def tick(): IndexedSeq[String] = {
    // attribute churn, at seeded instants inside the tick
    for (_ <- 0 until ChangesPerTick) {
      val a = agentZ.draw(); val ta = T0 + rnd.nextInt(TickMs.toInt)
      agentIp(a)(ta) = s"10.$a.${agentIp(a).size}.1"
      val h = hostZ.draw(); val th = T0 + rnd.nextInt(TickMs.toInt)
      hostIp(h)(th) = s"10.${100 + h}.${hostIp(h).size}.1"
      val r = ruleZ.draw(); val tr = T0 + rnd.nextInt(TickMs.toInt)
      ruleLevel(r)(tr) = 1 + (at(ruleLevel(r), tr) + 1 + rnd.nextInt(10)) % 12
    }
    val stride = TickMs / eventsPerTick
    require(stride >= 2, "at most 150k events per tick keep event times distinct")
    val late = rnd.shuffle((0 until eventsPerTick).toIndexedSeq)
      .take((eventsPerTick * LateShare).toInt).toSet
    val fresh = (0 until eventsPerTick).map { i =>
      // a late event sits one ms past a slot of the previous 5 minutes,
      // so it never shares an event time with an on-time event
      val ts = if (late(i)) T0 - TickMs + i * stride + 1 else T0 + i * stride
      if (i % 3 == 0 && !late(i)) wazuhInTick += 1
      event(s"$seed-0-$i", i % 3, ts)
    }
    // redeliveries: byte copies of seeded lines, each placed right after
    // a seeded line of the file
    val copies = Seq.fill((eventsPerTick * DuplicateShare).toInt)(
      rnd.nextInt(fresh.size) -> fresh(rnd.nextInt(fresh.size))).groupMap(_._1)(_._2)
    val lines = fresh.indices.flatMap(i => fresh(i) +: copies.getOrElse(i, Nil))
    tickLines = lines.size
    lines
  }

  private def event(id: String, source: Int, ts: Long): String = {
    val iso = isoTime(ts)
    source match {
      case 0 =>
        val a = agentZ.draw(); val h = hostZ.draw(); val r = ruleZ.draw()
        val ip = at(agentIp(a), ts)
        distinctEvents("wazuh") += 1
        wazuhTimes += ts
        agentSeen(a)(ts) = ip
        s"""{"event":{"hash":"w$id","provider":"wazuh","dataset":"alert","kind":"alert","module":"audit"},""" +
          s""""@timestamp":"$iso","agent":{"name":"agent-$a","ip":"$ip"},""" +
          s""""host":{"name":"host-$h","ip":"${at(hostIp(h), ts)}"},""" +
          s""""rule":{"id":"${100 + r}","level":${at(ruleLevel(r), ts)},"name":"rule-$r","ruleset":["syscheck"]},""" +
          s""""tags":["t${r % 5}","t${a % 7}"],"message":"m$id"}"""
      case 1 =>
        val s = sigZ.draw(); val sev = 1 + s % 4
        distinctEvents("suricata") += 1
        suricataSeverity += ((ts, sev))
        s"""{"suricata":{"timestamp":"$iso","flow_id":"f$id","alert":{"severity":$sev,"signature":"sig-$s","action":"allowed"},"http":{"url":"/u/${s % 97}"}},""" +
          s""""event":{"hash":"s$id","provider":"suricata","dataset":"alert","kind":"alert","module":"ids"},""" +
          s""""@timestamp":"$iso","host":{"name":"sensor-${s % Sensors}"},""" +
          s""""source":{"ip":"10.1.${s % 200}.${ts % 250}","port":${1024 + ts % 40000}},"destination":{"ip":"10.2.${s % 50}.7","port":443},""" +
          s""""network":{"application":"${Apps(s % Apps.size)}","bytes":${40 + ts % 9000},"packets":${1 + ts % 60}},""" +
          s""""rule":{"id":"${2000 + s}","name":"sig-$s","category":["c${s % 6}"]},"tags":["t${s % 5}"],"message":"alert $id"}"""
      case _ =>
        val s = sigZ.draw()
        distinctEvents("zeek") += 1
        s"""{"zeek":{"uid":"z$id","ts":"$iso"},""" +
          s""""event":{"hash":"z$id","provider":"zeek","dataset":"conn","kind":"event","module":"conn","category":["network"]},""" +
          s""""@timestamp":"$iso","host":{"name":"sensor-${s % Sensors}"},""" +
          s""""source":{"ip":"10.3.${s % 200}.${ts % 250}","port":${1024 + ts % 40000}},"destination":{"ip":"10.4.${s % 50}.9","port":53},""" +
          s""""network":{"application":"${Apps((s + 1) % Apps.size)}","type":"ipv4","direction":"outbound","community_id":"1:x${ts % 1000}","bytes":${40 + ts % 9000}}}"""
    }
  }

  /** Expected current `dim_agent` state: agent name -> (current IP,
    * version count). A version is a run of equal IPs in event-time order
    * over the agent's events, which is what the SCD2 chain keeps. */
  def expectedAgents: Map[String, (String, Int)] =
    agentSeen.zipWithIndex.collect { case (seen, a) if seen.nonEmpty =>
      val ips = seen.valuesIterator.toSeq
      val runs = 1 + ips.sliding(2).count { case Seq(x, y) => x != y; case _ => false }
      // bronze normalises IPv4 to its IPv4-mapped IPv6 form
      s"agent-$a" -> (s"::ffff:${ips.last}", runs)
    }.toMap

  /** What the warehouse must show once the tick is in gold. */
  def expectation(): Expect = Expect(distinctEvents.toMap, expectedAgents, wazuhInTick, tickLines)
}

object Gen {
  /** 2026-01-08 00:00:00 UTC: event time of tick 0. */
  val T0: Long = 1767830400000L
  val TickMs: Long = 300000L
  val Agents = 40
  val Hosts = 30
  val Rules = 60
  val Signatures = 80
  val Sensors = 12
  val Apps: IndexedSeq[String] = IndexedSeq("http", "dns", "tls", "ssh", "smb")
  val SourceNames: IndexedSeq[String] = IndexedSeq("wazuh", "suricata", "zeek")
  val ChangesPerTick = 3
  val DuplicateShare = 0.03
  val LateShare = 0.05

  /** @param distinct distinct events per source
    * @param agents current IP and version count per agent
    * @param wazuhInTick distinct wazuh events timed inside the tick
    * @param lines lines in the tick's file, redelivered copies included;
    *   all of them fall inside the tick's 10-minute gold window */
  final case class Expect(distinct: Map[String, Long], agents: Map[String, (String, Int)],
      wazuhInTick: Long, lines: Long)

  private val isoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(java.time.ZoneOffset.UTC)
  private def isoTime(ms: Long): String = isoFmt.format(java.time.Instant.ofEpochMilli(ms))

  /** Zipf(s = 1.1) over `n` keys by inverse CDF. */
  final class Zipf(n: Int, rnd: Random) {
    private val cdf = {
      val w = (1 to n).map(i => 1.0 / math.pow(i, 1.1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
