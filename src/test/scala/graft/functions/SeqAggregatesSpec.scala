package graft.functions

import graft.SparkSpec

/** retention / sequence_match SQL aggregates: hand-pinned semantics
  * through real shuffled partial-aggregation plans. */
class SeqAggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("retention gates later flags on the cohort bit") {
    val base = 1700000000L
    Seq(
      (1L, "signup", base), (1L, "buy", base + 100),
      (2L, "buy", base + 100),  // active later, never in cohort
      (3L, "signup", base))
      .map { case (u, t, s) => (u, t, new java.sql.Timestamp(s * 1000L)) }
      .toDF("user_id", "event_type", "ts")
      .createOrReplaceTempView("ra_events")
    val got = spark.sql(
      """SELECT user_id, r[0] AS r1, r[1] AS r2 FROM (
        |  SELECT user_id, retention(event_type = 'signup',
        |    event_type = 'buy') AS r
        |  FROM ra_events GROUP BY user_id)""".stripMargin)
      .as[(Long, Int, Int)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 1, 1), (2L, 0, 0), (3L, 1, 0)))
  }

  test("sequence_match is existential with gap in (0, max]") {
    val base = 1700000000L
    Seq(
      (1L, "error", base), (1L, "purchase", base + 30),   // match
      (2L, "purchase", base), (2L, "error", base + 30),   // reversed
      (3L, "error", base), (3L, "purchase", base + 60),   // boundary in
      (4L, "error", base), (4L, "purchase", base),        // zero gap out
      // nearest error is at zero gap but an older one is in range:
      // the EXISTENTIAL form still matches (unlike the h11 operator's
      // latest-predecessor scan)
      (5L, "error", base), (5L, "error", base + 30),
      (5L, "purchase", base + 30))
      .map { case (u, t, s) => (u, t, new java.sql.Timestamp(s * 1000L)) }
      .toDF("user_id", "event_type", "ts")
      .createOrReplaceTempView("sm_events")
    val got = spark.sql(
      """SELECT user_id, sequence_match(60L, ts,
        |  event_type = 'error', event_type = 'purchase') AS m
        |FROM sm_events GROUP BY user_id""".stripMargin)
      .as[(Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(1L -> true, 2L -> false, 3L -> true,
      4L -> false, 5L -> true))
  }
}
