package graft

import org.apache.spark.sql.functions._

/** The SQL function surface must produce the exact trees the DataFrame
  * API builds — asserted by comparing results per function — and be
  * injected into the session through SparkSessionExtensions. */
class GraftExtensionsSpec extends SparkSpec {

  private lazy val ready: Unit = {
    import spark.implicits._
    Seq(
      (1L, "The quick brown fox jumps over the lazy dog", "10.0.0.1",
        Array(1.0f, 0.0f, 2.0f)),
      (2L, "der hund und die katze sind nicht zu hause heute", "junk",
        Array(0.0f, 3.0f, 4.0f)),
      (3L, "contact me at bob@example.com right now", "::1",
        Array(1.0f, 1.0f, 1.0f))
    ).toDF("id", "text", "ip", "vec").createOrReplaceTempView("ext_docs")
  }

  test("native expressions callable from SQL, equal to the Scala API") {
    ready
    val sql = spark.sql(
      """SELECT id, normalize_ip(ip) AS nip,
        |  vec_cosine(vec, vec) AS self_cos,
        |  sorted_intersect_size(array(1L, 3L, 5L), array(3L, 5L, 9L)) AS isz,
        |  simhash64(text_tokens(text)) AS sh
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val api = spark.table("ext_docs")
      .select(col("id"), graft.functions.IpNorm.normalizeIp(col("ip")).as("nip"),
        graft.operators.Similarity.cosine(col("vec"), col("vec")).as("self_cos"),
        lit(2).as("isz"),
        graft.operators.Dedup.simhash(col("text")).as("sh"))
      .orderBy("id").collect()
    assert(sql.toSeq == api.toSeq)
    assert(sql.head.getAs[String]("nip") == "::ffff:10.0.0.1")
    assert(sql.forall(r => math.abs(r.getAs[Double]("self_cos") - 1.0) < 1e-12))
  }

  test("text analysis family callable from SQL, equal to the Scala API") {
    ready
    import graft.functions.TextFunctions
    val sql = spark.sql(
      """SELECT id, lang_id(text) AS lang, token_count(text) AS n,
        |  round(quality_score(text), 6) AS q, redact_pii(text) AS red,
        |  content_fingerprint(text) AS fp, rolling_fingerprint(text, 3) AS rfp,
        |  hashed_shingles(text, 2) AS hs, surrogate_key(text, id) AS sk
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val api = spark.table("ext_docs")
      .select(col("id"), TextFunctions.langId(col("text")).as("lang"),
        TextFunctions.tokenCount(col("text")).as("n"),
        round(TextFunctions.qualityScore(col("text")), 6).as("q"),
        TextFunctions.redactPii(col("text")).as("red"),
        TextFunctions.contentFingerprint(col("text")).as("fp"),
        TextFunctions.rollingFingerprint(col("text"), 3).as("rfp"),
        graft.operators.Dedup.hashedShingles(col("text"), 2).as("hs"),
        graft.core.Keys.surrogateKey(col("text"), col("id")).as("sk"))
      .orderBy("id").collect()
    assert(sql.toSeq == api.toSeq)
    assert(sql.map(_.getAs[String]("lang")).toSeq == Seq("en", "de", "unknown"))
    assert(sql(2).getAs[String]("red").contains("<EMAIL>"))
  }

  test("readability family callable from SQL, equal to the Scala API") {
    ready
    import graft.functions.TextFunctions
    val sql = spark.sql(
      """SELECT id, sentence_count(text) AS s, syllable_count(text) AS y,
        |  flesch_kincaid_micro(text) AS fk
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val api = spark.table("ext_docs")
      .select(col("id"), TextFunctions.sentenceCount(col("text")).as("s"),
        TextFunctions.syllableCount(col("text")).as("y"),
        TextFunctions.fleschKincaidMicro(col("text")).as("fk"))
      .orderBy("id").collect()
    assert(sql.toSeq == api.toSeq)
    assert(sql.forall(_.getAs[Long]("s") >= 1L))
  }

  test("round-5 additions callable from SQL, equal to the Scala API") {
    ready
    import graft.functions.TextFunctions
    val sql = spark.sql(
      """SELECT id,
        |  strip_markup('<p>' || text || '</p> &amp; tail') AS clean,
        |  winnow_fingerprints(text) AS fp,
        |  winnow_fingerprints(text, 2, 3) AS fp23,
        |  vec_dot_int(array(1, 2, 3), array(4, 5, 6)) AS di
        |FROM ext_docs ORDER BY id""".stripMargin).collect()
    val api = spark.table("ext_docs")
      .select(col("id"),
        TextFunctions.stripMarkup(
          concat(lit("<p>"), col("text"), lit("</p> &amp; tail"))).as("clean"),
        TextFunctions.winnowFingerprints(col("text")).as("fp"),
        TextFunctions.winnowFingerprints(col("text"), 2, 3).as("fp23"),
        lit(32L).as("di"))
      .orderBy("id").collect()
    assert(sql.toSeq == api.toSeq)
    assert(sql.head.getAs[String]("clean").endsWith("& tail"))
  }

  test("hyperplane_sig from SQL buckets identical vectors together") {
    ready
    val rows = spark.sql(
      """SELECT hyperplane_sig(vec, 3, 16, 42L) AS sig FROM ext_docs"""
    ).collect().map(_.getLong(0))
    val api = spark.table("ext_docs")
      .select(graft.operators.Similarity
        .hyperplaneSignature(3, 16, 42L)(col("vec")).as("sig"))
      .collect().map(_.getLong(0))
    assert(rows.toSeq == api.toSeq)
    // non-literal config args are rejected with a useful message
    val err = intercept[Exception](
      spark.sql("SELECT hyperplane_sig(vec, id) FROM ext_docs").collect())
    assert(err.getMessage.contains("integer literal")
      || Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("extensions class injects the full family; registry resolves them") {
    ready
    val names = GraftExtensions.descriptions.map(_._1.funcName).toSet
    assert(names.size == GraftExtensions.descriptions.size) // no collisions
    assert(Set("normalize_ip", "vec_dot", "vec_cosine", "simhash64",
      "hyperplane_sig", "lang_id", "quality_score", "surrogate_key",
      "hashed_shingles").subsetOf(names))
    names.foreach(n => assert(spark.catalog.functionExists(n), n))
    // the config-time class is pure forwarding over the same descriptions
    new GraftExtensions().apply(new org.apache.spark.sql.SparkSessionExtensions)
  }
}
