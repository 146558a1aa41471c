package graft.ingest

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Golden tests over the reference's three captured events
  * ([[Fixtures]], FIXTURES.md §1 — its only concrete fixtures), each fed
  * as its bare payload in the raw string.
  */
class BronzeSpec extends SparkSpec {

  private def rawDf(payloads: String*): DataFrame = {
    import spark.implicits._
    payloads.toDF("raw")
  }

  private lazy val suriPayload = Fixtures.payload("suricata")
  private lazy val wazuhPayload = Fixtures.payload("wazuh")
  private lazy val zeekPayload = Fixtures.payload("zeek")
  private lazy val all = rawDf(suriPayload, wazuhPayload, zeekPayload)

  test("router sends each fixture to exactly one bronze table") {
    val routed = Bronze.route(all)
    assert(routed("suricata").count() == 1)
    assert(routed("wazuh").count() == 1)
    assert(routed("zeek").count() == 1)
  }

  test("malformed / hash-less rows are dropped, not failed") {
    val junk = rawDf("{not json", """{"suricata":{},"event":{"hash":""}}""",
      """{"suricata":{},"event":{}}""", "null")
    assert(Bronze.route(junk).values.map(_.count()).sum == 0)
  }

  test("suricata projection extracts the documented fields") {
    val r = Bronze.suricata(rawDf(suriPayload)).collect().head
    assert(r.getAs[String]("sensor_name") == "orion-sensor01")
    assert(r.getAs[String]("event_type") == "alert")
    assert(r.getAs[String]("src_ip") == "::ffff:192.168.1.2")
    assert(r.getAs[String]("dest_ip") == "::ffff:151.101.2.132")
    assert(r.getAs[Int]("src_port") == 57062)
    assert(r.getAs[Int]("dest_port") == 80)
    assert(r.getAs[Int]("signature_id") == 2013504)
    assert(r.getAs[String]("category") == "Not Suspicious Traffic")
    assert(r.getAs[String]("alert_action") == "allowed")
    assert(r.getAs[Long]("bytes") == 3145L)
    assert(r.getAs[Long]("packets") == 14L)
    assert(r.getAs[String]("protocol") == "http")
    assert(r.getAs[java.sql.Timestamp]("event_ts") != null)
    assert(r.getAs[String]("event_id").nonEmpty)
  }

  test("wazuh projection: epoch-ms fallbacks, raw ruleset, message fallback") {
    val r = Bronze.wazuh(rawDf(wazuhPayload)).collect().head
    assert(r.getAs[String]("event_id") == "8SQjsWRlaK91JT0oT0QmFw")
    assert(r.getAs[String]("agent_name") == "agent7-centos-bash")
    assert(r.getAs[String]("agent_ip") == "::ffff:10.110.90.38")
    assert(r.getAs[String]("rule_id") == "200178")
    assert(r.getAs[Int]("rule_level") == 12)
    // event.start = 1767864514640 epoch-ms
    assert(r.getAs[java.sql.Timestamp]("event_start_ts").getTime == 1767864514640L)
    // @timestamp 2026-01-08T09:28:34.640Z
    assert(r.getAs[java.sql.Timestamp]("event_ts").toInstant.toString
      == "2026-01-08T09:28:34.640Z")
    assert(r.getAs[String]("rule_ruleset").contains("audit"))
    // message is null upstream -> falls back to rule.name
    assert(r.getAs[String]("message") == r.getAs[String]("rule_name"))
  }

  test("single-parse projections are byte-identical to per-path probing") {
    // reference fixtures + adversarial shapes: numbers where strings are
    // expected (and vice versa), empty strings, missing branches, space
    // timestamps — every case where from_json(schema) could diverge
    // from per-field get_json_object
    val corpus = rawDf(suriPayload, wazuhPayload, zeekPayload,
      """{"event":{"hash":"x1","provider":"wazuh","start":"1767864514640"},"rule":{"id":7,"level":"5","name":""},"message":""}""",
      """{"zeek":{"conn":{"orig_pkts":"2","duration":0.5}},"event":{"hash":"z9"},"tags":["a","b"],"@timestamp":"2026-01-08 01:02:03"}""",
      """{"suricata":{"alert":{"severity":3}},"event":{"hash":"s9","severity_tags":["t1"]},"rule":{"category":["c1","c2"]}}""",
      """{"suricata":{},"event":{"hash":"s10"},"node":"n1","totDataBytes":99}""")
    val variants = Seq(
      ("suricata", Bronze.suricata(corpus), Bronze.suricata(corpus, singleParse = false)),
      ("wazuh", Bronze.wazuh(corpus), Bronze.wazuh(corpus, singleParse = false)),
      ("zeek", Bronze.zeek(corpus), Bronze.zeek(corpus, singleParse = false)))
    for ((name, single, legacy) <- variants) {
      assert(single.schema.map(f => (f.name, f.dataType)) ==
        legacy.schema.map(f => (f.name, f.dataType)), s"$name schema")
      assert(single.collect().toSeq == legacy.collect().toSeq, s"$name rows")
      assert(single.count() > 0, s"$name routed rows")
    }
  }

  test("zeek projection: string numerics try-cast, IPv6 dest, conn fields") {
    val r = Bronze.zeek(rawDf(zeekPayload)).collect().head
    assert(r.getAs[String]("zeek_uid") == "CWVDHLj037LlFJ04a")
    assert(r.getAs[String]("dest_ip") == "ff02::1:3") // IPv6 stays canonical
    assert(r.getAs[Long]("orig_pkts") == 2L)          // "2" as string upstream
    assert(r.getAs[Double]("duration") == 0.420037)   // "0.420037" string
    assert(r.getAs[String]("mac_address") == "bc:f1:71:f5:f8:7f") // source.mac[0] first
    // upstream tags:[] is non-null -> no fallthrough to event.category
    // (ClickHouse ifNull(JSONExtract(...)) semantics)
    assert(r.getAs[scala.collection.Seq[String]]("tags").isEmpty)
    assert(r.getAs[String]("event_id").nonEmpty)
  }
}
