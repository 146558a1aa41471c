package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Bench.artifact` builds BENCH_FULL.json as one Jackson tree: every
  * string is escaped by the writer, and the keys `tools/compare_bench.py`
  * reads are present. */
class BenchArtifactSpec extends AnyFunSuite {

  private val mapper = Bench.mapper

  test("the artifact parses with a failed query and a quote and backslash in the SF dir") {
    val sfDir = """/data/sf "0.1"\x"""
    val env = mapper.createObjectNode().put("cpus", 4)
      .put("gc_total_sec", new java.math.BigDecimal("12.5"))
    val block = mapper.createObjectNode().put("ingest_sec", 1.5)
    val root = Bench.artifact(sfDir, reps = 3,
      results = Seq(("a_ok", Some(1.0), 0), ("b_fails", None, 3), ("c_ok", Some(2.25), 1)),
      blocks = Seq("e2e" -> Some(block), "e2e_stream" -> None), env = env)
    val node = mapper.readTree(mapper.writeValueAsString(root))
    assert(node.get("sf").asText() == sfDir)
    assert(node.get("value").asDouble() == 3.25)
    assert(node.get("queries").size == 2)
    assert(node.get("queries").get("c_ok").asDouble() == 2.25)
    assert(node.get("failed").size == 1 && node.get("failed").get(0).asText() == "b_fails")
    assert(node.get("failed_reps").asInt() == 4)
    assert(node.get("env").get("cpus").asInt() == 4)
    assert(node.get("env").get("gc_total_sec").asDouble() == 12.5)
    assert(node.get("e2e").get("ingest_sec").asDouble() == 1.5)
    assert(!node.has("e2e_stream"))
    // seconds keep 3 decimals in the written text
    assert(mapper.writeValueAsString(root).contains("\"value\":3.250"))
  }
}
