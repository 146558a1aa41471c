package graft.ingest

/** The three captured reference events (FIXTURES.md §1), one per bronze
  * source, kept on the classpath as `fixtures/<source>.json` in bare
  * payload JSON: the string bronze ingest receives as `raw`, with no
  * Kafka-console envelope to unwrap. */
object Fixtures {

  /** The captured event of `source` ("suricata", "wazuh" or "zeek"), as a
    * single-line JSON string. */
  def payload(source: String): String = {
    val in = getClass.getResourceAsStream(s"/fixtures/$source.json")
    require(in != null, s"no fixture for $source on the classpath")
    try new String(in.readAllBytes(), "UTF-8").trim finally in.close()
  }
}
