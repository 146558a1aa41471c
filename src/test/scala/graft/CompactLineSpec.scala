package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The driver's bench capture keeps only the last ~2000 chars of stdout;
  * a compact line longer than that loses its head and can never parse
  * (rounds 1-5 and round 10 both recorded parsed:null). These tests pin
  * the 1800-char bound against WORST-CASE block sizes — maximal e2e /
  * e2e_stream scalar twins, a wide env block, 12 long-named heavy
  * queries — so the regression cannot recur without a red test.
  */
class CompactLineSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  // widest plausible scalar twins: every number at its format's maximum
  // realistic width (6-digit ev/s, 4-digit seconds, 2-digit sla counts)
  private val e2eWorst =
    ""","e2e":{"ingest_events_per_sec":999999,"gold_sec":9999.999,""" +
      """"gold_fresh_sec":9999.999,"rerun_appended":999999,""" +
      """"sla_healthy_critical":99,"sla_lagged_critical":99,""" +
      """"bi_connect_sec":999.999,"bi_query_sec":999.999}"""
  private val e2eStreamWorst =
    ""","e2e_stream":{"curation_docs_per_sec":999999,""" +
      """"curation_lm_docs_per_sec":999999,"drift_sec":9999.999}"""
  private val envWorst =
    ""","env":{"cpus":32,"load_avg_start":99.99,"load_avg_end":99.99,""" +
      """"gc_total_sec":99999.9,"heap_max_gb":128.0}"""

  private def heavy(n: Int, nameLen: Int): Seq[(String, Double)] =
    (1 to n).map(i => (s"q${i}_" + "x" * (nameLen - 4), 9999.999))

  test("worst-case compact line fits the 1800-char capture bound and parses") {
    val line = Bench.compactLine(
      total = 99999.999, sfDir = "/root/testdata/sf0.1", reps = 3,
      nQueries = 999, nOk = 999,
      failed = Seq.fill(3)("\"l116_containment_probe_long_name\"")
        .mkString("[", ",", "]"),
      failedReps = 99,
      heavy0 = heavy(12, 32),
      e2eCompact = e2eWorst, e2eStreamCompact = e2eStreamWorst,
      envJson = envWorst)
    assert(line.length <= 1800, s"compact line ${line.length} chars:\n$line")
    assert(line.startsWith("""{"metric":"suite_total""""))
    val node = mapper.readTree(line)
    assert(node.get("n_queries").asInt() == 999)
    assert(node.get("e2e").get("gold_sec").asDouble() == 9999.999)
    assert(node.get("e2e_stream").get("drift_sec").asDouble() == 9999.999)
  }

  test("absurdly long heavy names are shed until the line fits") {
    val line = Bench.compactLine(
      total = 1.0, sfDir = "sf", reps = 3, nQueries = 10, nOk = 10,
      failed = "[]", failedReps = 0,
      heavy0 = heavy(12, 300),
      e2eCompact = e2eWorst, e2eStreamCompact = e2eStreamWorst,
      envJson = envWorst)
    assert(line.length <= 1800)
    val node = mapper.readTree(line)
    assert(node.get("queries_truncated_to_heaviest").asInt() < 12)
  }

  test("compact line never carries per-pipeline receipt keys") {
    val line = Bench.compactLine(
      total = 1.0, sfDir = "sf", reps = 3, nQueries = 1, nOk = 1,
      failed = "[]", failedReps = 0, heavy0 = heavy(1, 10),
      e2eCompact = e2eWorst, e2eStreamCompact = e2eStreamWorst,
      envJson = envWorst)
    assert(!line.contains("pipelines"))
    assert(!line.contains("receipts"))
    assert(!line.contains("\"reps\":["))
  }

  test("a run where every query fails sheds failed names until the line fits") {
    // a wrong SF dir fails all 310 queries: the failed list alone is
    // ~14 KB, and the capture window would cut the line's head off
    val names = (1 to 310).map(i => f"q$i%03d_" + "failing_query_long_name" * 2)
    val line = Bench.compactLine(
      total = 0.0, sfDir = "/no/such/sf", reps = 3,
      nQueries = 310, nOk = 0,
      failed = names.map("\"" + _ + "\"").mkString("[", ",", "]"),
      failedReps = 930, heavy0 = Nil,
      e2eCompact = e2eWorst, e2eStreamCompact = e2eStreamWorst,
      envJson = envWorst)
    assert(line.length <= 1800, s"compact line ${line.length} chars")
    val node = mapper.readTree(line)
    val kept = node.get("failed")
    assert(kept.size > 0 && kept.size < 310)
    assert(node.get("failed_truncated_to").asInt() == kept.size)
    assert((0 until kept.size).map(kept.get(_).asText()) == names.take(kept.size))
    assert(node.get("n_ok").asInt() == 0)
  }
}
