package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Sequential-behavior analytics: funnel depth, retention flags, and
  * ordered-pair matching — semantics pinned on hand-built streams. */
class FunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, String, Long)]) =
    rows.zipWithIndex.map { case ((u, t, s), i) =>
      (i.toLong, u, t, new java.sql.Timestamp(s * 1000L))
    }.toDF("event_id", "user_id", "event_type", "ts")

  private val steps = Seq(col("event_type") === "view",
    col("event_type") === "click", col("event_type") === "purchase")

  test("windowFunnel: full chain, stalled chain, out-of-window step") {
    val base = 1700000000L
    val rows = Seq(
      // user 1 completes all three inside the window
      (1L, "view", base), (1L, "click", base + 10),
      (1L, "purchase", base + 20),
      // user 2 clicks but the purchase lands after the anchor window
      (2L, "view", base), (2L, "click", base + 10),
      (2L, "purchase", base + 200),
      // user 3's click PRECEDES the view — steps must be ordered
      (3L, "click", base - 10), (3L, "view", base),
      // user 4 never does step 1 — absent from the result
      (4L, "click", base), (4L, "purchase", base + 1))
    val got = Funnel.windowFunnel(ev(rows), "user_id", "ts", steps,
        windowSec = 100L)
      .select("user_id", "level", "t1", "t2", "t3")
      .as[(Long, Int, Option[Long], Option[Long], Option[Long])]
      .collect().sortBy(_._1)
    assert(got.map(r => r._1 -> r._2).toSeq ==
      Seq(1L -> 3, 2L -> 2, 3L -> 1))
    assert(got(0)._5.contains(base + 20))
    assert(got(1)._4.contains(base + 10) && got(1)._5.isEmpty)
  }

  test("windowFunnel is earliest-first: the anchor never re-slides") {
    val base = 1700000000L
    // the FIRST view anchors at base; its window [base, base+50] misses
    // the purchase at base+100 even though a later view at base+80
    // would have caught it — greedy earliest-first semantics, pinned
    val rows = Seq(
      (1L, "view", base), (1L, "click", base + 10),
      (1L, "view", base + 80), (1L, "purchase", base + 100))
    val got = Funnel.windowFunnel(ev(rows), "user_id", "ts", steps,
        windowSec = 50L)
      .select("user_id", "level").as[(Long, Int)].collect()
    assert(got.toSeq == Seq(1L -> 2))
  }

  test("windowFunnel step matches strictly after the previous step") {
    val base = 1700000000L
    // click at the SAME second as the view must not count as step 2
    val rows = Seq((1L, "view", base), (1L, "click", base),
      (2L, "view", base), (2L, "click", base + 1))
    val got = Funnel.windowFunnel(ev(rows), "user_id", "ts", steps,
        windowSec = 100L)
      .select("user_id", "level").as[(Long, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq(1L -> 1, 2L -> 2))
  }

  test("retention: later flags are gated on the cohort condition") {
    val base = 1700000000L
    val rows = Seq(
      (1L, "signup", base), (1L, "buy", base + 100),
      (2L, "buy", base + 100), // active later but never in the cohort
      (3L, "signup", base))
    val got = Funnel.retention(ev(rows), "user_id", Seq(
        col("event_type") === "signup",
        col("event_type") === "buy"))
      .select("user_id", "r1", "r2")
      .as[(Long, Int, Int)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 1, 1), (2L, 0, 0), (3L, 1, 0)))
  }

  test("sequenceMatch: gap bounds are (0, maxGap], ordered pairs only") {
    val base = 1700000000L
    val rows = Seq(
      // user 1: error then purchase 30 s later — matches
      (1L, "error", base), (1L, "purchase", base + 30),
      // user 2: purchase BEFORE the error — no match
      (2L, "purchase", base), (2L, "error", base + 30),
      // user 3: gap exactly maxGap — inclusive upper bound
      (3L, "error", base), (3L, "purchase", base + 60),
      // user 4: same second — zero gap is excluded
      (4L, "error", base), (4L, "purchase", base),
      // user 5: two qualifying purchases after one error
      (5L, "error", base), (5L, "purchase", base + 1),
      (5L, "purchase", base + 2))
    val got = Funnel.sequenceMatch(ev(rows), "user_id", "ts", "event_id",
        col("event_type") === "error", col("event_type") === "purchase",
        maxGapSec = 60L)
      .select("user_id", "matched_s", "n_matches")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq == Seq(1L, 3L, 5L))
    assert(got(0)._2 == base + 30)
    assert(got(2)._3 == 2L, "both qualifying completions counted")
  }

  test("nextNode: direction × base variants, boundary gives null") {
    val base = 1700000000L
    val rows = Seq(
      // user 1: view, signup, click, signup, purchase
      (1L, "view", base), (1L, "signup", base + 1),
      (1L, "click", base + 2), (1L, "signup", base + 3),
      (1L, "purchase", base + 4),
      // user 2: signup is the LAST event → forward neighbor is null
      (2L, "view", base), (2L, "signup", base + 1),
      // user 3: no signup at all → absent from output
      (3L, "click", base))
    val df = ev(rows)
    val cond = col("event_type") === "signup"
    def run(dir: String, b: String) =
      Funnel.nextNode(df, "user_id", "ts", "event_id", cond,
        col("event_type"), dir, b)
        .collect().map(r => r.getLong(0) ->
          Option(r.getString(1)).getOrElse("∅")).toMap
    val fwdFirst = run("forward", "first_match")
    assert(fwdFirst == Map(1L -> "click", 2L -> "∅"))
    assert(run("forward", "last_match")(1L) == "purchase")
    assert(run("backward", "first_match")(1L) == "view")
    assert(run("backward", "last_match")(1L) == "click")
  }

  test("sequenceChain: per-gap limits, and DP beats the greedy scan") {
    val base = 1700000000L
    val rows = Seq(
      // u1: the greedy trap — BOTH clicks satisfy gap-1 (≤600), but
      // only the LATE click (base+500) leaves a purchase within its
      // 100 s gap-2 budget. A greedy earliest-chain scan commits to
      // click@+10 and reports 2; the existence DP must find 3
      (1L, "view", base), (1L, "click", base + 10),
      (1L, "click", base + 500), (1L, "purchase", base + 550),
      // u2: gap-1 violated (click 700 s after view, limit 600) —
      // level 1 even though a purchase follows the click closely
      (2L, "view", base), (2L, "click", base + 700),
      (2L, "purchase", base + 750),
      // u3: clean in-gaps chain
      (3L, "view", base), (3L, "click", base + 50),
      (3L, "purchase", base + 120),
      // u4: same-second step never chains (strict increase)
      (4L, "view", base), (4L, "click", base))
    val got = Funnel.sequenceChain(ev(rows), "user_id", "ts", steps,
        gaps = Seq(600L, 100L))
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 1, 3L -> 3, 4L -> 1), got)

    // SQL surface agrees
    ev(rows).createOrReplaceTempView("sc_events")
    val sql = spark.sql(
      """SELECT user_id, sequence_chain('600,100', ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM sc_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin).as[(Long, Int)].collect().toMap
    assert(sql == got, s"sql $sql != operator $got")
  }
}
