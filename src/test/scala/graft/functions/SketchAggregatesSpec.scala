package graft.functions

import graft.SparkSpec

/** Misra-Gries topK and saturating uniqUpTo: exact-regime equality,
  * heavy-hitter guarantee under adversarial order, merge across a
  * real shuffled plan, bounded state. */
class SketchAggregatesSpec extends SparkSpec {
  import spark.implicits._

  test("top_k_sketch is exact when distinct <= k, across a shuffle") {
    val rows = (0 until 3000).map { i =>
      (i.toLong, Seq("a", "b", "c", "d")((i * 7) % 4))
    }
    rows.toDF("id", "v").repartition(8)
      .createOrReplaceTempView("tk_exact")
    val got = spark.sql(
      """SELECT item, est FROM (SELECT top_k_sketch(8, v) AS a
        |FROM tk_exact) LATERAL VIEW inline(a) t AS item, est""".stripMargin)
      .as[(String, Long)].collect().toMap
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    assert(got == exact, s"$got != $exact")
  }

  test("heavy-hitter guarantee: freq > N/(k+1) items survive any order") {
    // 10 counters; one item at 40% of N, 200 distinct tail items —
    // adversarial interleaving (tail between every heavy occurrence)
    val n = 5000
    val rows = (0 until n).map { i =>
      (i.toLong, if (i % 5 < 2) "HEAVY" else s"tail_${(i * 13) % 200}")
    }
    rows.toDF("id", "v").repartition(16)
      .createOrReplaceTempView("tk_heavy")
    val got = spark.sql(
      """SELECT item, est FROM (SELECT top_k_sketch(10, v) AS a
        |FROM tk_heavy) LATERAL VIEW inline(a) t AS item, est""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(got.size <= 10, s"state must stay bounded: ${got.size}")
    assert(got.contains("HEAVY"),
      s"40% item must survive: $got")
    // stored count is an underestimate by at most N/(k+1)
    val truth = rows.count(_._2 == "HEAVY").toLong
    assert(got("HEAVY") <= truth &&
      got("HEAVY") >= truth - n / 11,
      s"est ${got("HEAVY")} vs truth $truth bound ${n / 11}")
  }

  test("large k stays fast: the debt offset makes decrement-all O(1)") {
    // 200k rows over 50k distinct values with k = 5000 forces constant
    // counter churn: a naive decrement-all does ~1e9 counter writes
    // (minutes); the debt-offset version is one long increment per
    // non-resident row plus amortized purges
    // one planted heavy hitter (10% of rows) must survive the churn;
    // the uniform tail may legitimately cancel to nothing (uniform
    // data HAS no heavy hitters — MG may return an empty summary)
    spark.range(200000).selectExpr(
        "CASE WHEN id % 10 = 0 THEN 'HEAVY' " +
          "ELSE concat('t', id % 50000) END AS v")
      .repartition(8).createOrReplaceTempView("tk_big")
    val t0 = System.nanoTime()
    val got = spark.sql(
      """SELECT item, est FROM (SELECT top_k_sketch(5000, v) AS a
        |FROM tk_big) LATERAL VIEW inline(a) t AS item, est""".stripMargin)
      .as[(String, Long)].collect().toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(got.size <= 5000, s"bounded summary, got ${got.size}")
    assert(got.contains("HEAVY"), "10% item must survive")
    assert(got("HEAVY") <= 20000 && got("HEAVY") >= 20000 - 200000 / 5001,
      s"underestimate bound: ${got("HEAVY")}")
    assert(sec < 30, f"took $sec%.1f s — decrement-all regression?")
  }

  test("uniq_up_to: exact below the cap, saturates at n+1 above") {
    val rows = (0 until 4000).map(i => (i.toLong, (i % 500).toLong, s"g${i % 2}"))
    rows.toDF("id", "u", "g").repartition(8)
      .createOrReplaceTempView("uut")
    // cap above the true distinct: exact
    val below = spark.sql(
      "SELECT uniq_up_to(600, u) FROM uut").as[Long].head()
    assert(below == 500L, s"exact regime: $below")
    // cap below: saturates at n+1, never more
    val above = spark.sql(
      "SELECT uniq_up_to(100, u) FROM uut").as[Long].head()
    assert(above == 101L, s"saturated regime: $above")
    // string inputs + grouping: 500 is even, so even ids keep even
    // residues — each parity group holds 250 distinct values
    val g = spark.sql(
      "SELECT g, uniq_up_to(499, cast(u AS STRING)) AS c FROM uut GROUP BY g")
      .as[(String, Long)].collect().toMap
    assert(g == Map("g0" -> 250L, "g1" -> 250L), g.toString)
  }

  test("analysis-time rejection of bad argument types") {
    Seq((1L, 2.5)).toDF("id", "x").createOrReplaceTempView("bad_t")
    val e1 = intercept[Exception](
      spark.sql("SELECT top_k_sketch(4, x) FROM bad_t").collect())
    assert(e1.getMessage.contains("STRING"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT uniq_up_to(4, x) FROM bad_t").collect())
    assert(e2.getMessage.contains("integral"), e2.getMessage)
  }
}
