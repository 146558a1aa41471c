package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** window_funnel aggregate: SQL-surface levels equal the DataFrame
  * operator's, through a real partial-aggregation (shuffle) plan. */
class WindowFunnelSpec extends SparkSpec {
  import spark.implicits._

  private def ev(rows: Seq[(Long, String, Long)]) =
    rows.zipWithIndex.map { case ((u, t, s), i) =>
      (i.toLong, u, t, new java.sql.Timestamp(s * 1000L))
    }.toDF("event_id", "user_id", "event_type", "ts")

  test("aggregate levels equal the operator across a shuffled plan") {
    val base = 1700000000L
    // deterministic pseudo-random stream over 40 users, plus hand
    // shapes: full chain, out-of-window, reversed, step-2-only
    val noise = for (i <- 0 until 2000) yield {
      val u = (i * 2654435761L % 40) + 10
      val t = Seq("view", "click", "purchase", "error")((i * 40503) % 4)
      (u, t, base + (i * 7919L) % 259200)
    }
    val shaped = Seq(
      (1L, "view", base), (1L, "click", base + 10),
      (1L, "purchase", base + 20),
      (2L, "view", base), (2L, "click", base + 10),
      (2L, "purchase", base + 999999),
      (3L, "click", base - 10), (3L, "view", base),
      (4L, "click", base))
    val df = ev(shaped ++ noise)
    df.createOrReplaceTempView("wf_events")

    val got = spark.sql(
      """SELECT user_id, window_funnel(86400L, ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM wf_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin)
      .as[(Long, Int)].collect().sortBy(_._1).toSeq

    val twin = graft.operators.Funnel.windowFunnel(df, "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"), windowSec = 86400L)
      .select(col("user_id"), col("level"))
      .as[(Long, Int)].collect().sortBy(_._1).toSeq

    assert(got == twin, s"sql $got != operator $twin")
    assert(got.toMap.get(1L).contains(3) && got.toMap.get(2L).contains(2)
      && got.toMap.get(3L).contains(1) && !got.toMap.contains(4L))
    // the plan really is a partial aggregation (serialize/merge ran)
    val plan = spark.sql(
      """SELECT user_id, window_funnel(60L, ts, event_type = 'view')
        |FROM wf_events GROUP BY user_id""".stripMargin)
      .queryExecution.executedPlan.toString
    assert(plan.contains("window_funnel"), plan)
  }

  test("window_funnel_max maximizes over anchors; earliest-anchor does not") {
    val base = 1700000000L
    val shaped = Seq(
      // user 1: early stray view, then a complete chain 2 days later —
      // the reference-family case the earliest anchor misses
      (1L, "view", base), (1L, "view", base + 200000),
      (1L, "click", base + 200010), (1L, "purchase", base + 200020),
      // user 2: chain inside window from the ONLY anchor — both agree
      (2L, "view", base), (2L, "click", base + 10),
      (2L, "purchase", base + 20),
      // user 3: same-second view+click must NOT chain (strict increase)
      (3L, "view", base), (3L, "click", base),
      // user 4: step-2 only — no anchor, absent from both
      (4L, "click", base))
    val df = ev(shaped)
    df.createOrReplaceTempView("wfm_events")
    val got = spark.sql(
      """SELECT user_id, window_funnel_max(86400L, ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM wfm_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin).as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 1), got.toString)
    val earliest = spark.sql(
      """SELECT user_id, window_funnel(86400L, ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM wfm_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin).as[(Long, Int)].collect().toMap
    assert(earliest(1L) == 1, s"earliest-anchor should stall at 1: $earliest")
    // operator twin delegates to the same aggregate
    val op = graft.operators.Funnel.windowFunnelMax(df, "user_id", "ts",
        Seq(col("event_type") === "view", col("event_type") === "click",
          col("event_type") === "purchase"), windowSec = 86400L)
      .as[(Long, Int)].collect().toMap
    assert(op == got, s"operator $op != sql $got")
  }

  test("strict_dedup and strict_order modes pin the family's examples") {
    val base = 1700000000L
    val shaped = Seq(
      // u1: clean chain — all modes give 3
      (1L, "view", base), (1L, "click", base + 10),
      (1L, "purchase", base + 20),
      // u2: A→B→D→C, the family's strict_order example — D (error)
      // interrupts at level 2; dedup mode ignores D and reaches 3
      (2L, "view", base), (2L, "click", base + 10),
      (2L, "error", base + 15), (2L, "purchase", base + 20),
      // u3: A→B→A→C — the repeated view interrupts dedup at 2;
      // order mode also stops (the second view does not extend)
      (3L, "view", base), (3L, "click", base + 10),
      (3L, "view", base + 15), (3L, "purchase", base + 20),
      // u4: repeat AFTER completion never demotes the level
      (4L, "view", base), (4L, "click", base + 10),
      (4L, "purchase", base + 20), (4L, "view", base + 30),
      // u5: noise before the chain starts is ignored in every mode
      (5L, "error", base - 50), (5L, "click", base - 40),
      (5L, "view", base), (5L, "click", base + 10),
      (5L, "purchase", base + 20))
    val df = ev(shaped)
    df.createOrReplaceTempView("wf_strict_events")
    val steps = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")

    val dedup = graft.operators.Funnel.windowFunnelStrict(df, "user_id",
        "ts", steps, windowSec = 86400L, strictDedup = true)
      .as[(Long, Int)].collect().toMap
    assert(dedup == Map(1L -> 3, 2L -> 3, 3L -> 2, 4L -> 3, 5L -> 3), dedup)

    val order = graft.operators.Funnel.windowFunnelStrict(df, "user_id",
        "ts", steps, windowSec = 86400L, strictOrder = true)
      .as[(Long, Int)].collect().toMap
    assert(order == Map(1L -> 3, 2L -> 2, 3L -> 2, 4L -> 3, 5L -> 3), order)

    // SQL surface routes both modes and agrees with the operator
    val sqlOrder = spark.sql(
      """SELECT user_id, window_funnel_strict(86400L, 'order', ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM wf_strict_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin).as[(Long, Int)].collect().toMap
    assert(sqlOrder == order, s"sql $sqlOrder != operator $order")
    val sqlDedup = spark.sql(
      """SELECT user_id, window_funnel_strict(86400L, 'dedup', ts,
        |  event_type = 'view', event_type = 'click',
        |  event_type = 'purchase') AS level
        |FROM wf_strict_events GROUP BY user_id HAVING level >= 1
        |""".stripMargin).as[(Long, Int)].collect().toMap
    assert(sqlDedup == dedup, s"sql $sqlDedup != operator $dedup")
  }

  test("strict_order marker cap fails loudly past the cap, exact under it") {
    val base = 1700000000L
    // hot user 1: 50 events (1 anchor + 49 non-funnel markers);
    // user 2: a clean 3-chain, well under any cap
    val hot = (1L, "view", base) +:
      (1 to 49).map(i => (1L, "error", base + i.toLong))
    val clean = Seq((2L, "view", base), (2L, "click", base + 1),
      (2L, "purchase", base + 2))
    val df = ev(hot ++ clean)
    val steps = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    // under the cap: exact result (hot user interrupted at 1)
    val ok = graft.operators.Funnel.windowFunnelStrict(df, "user_id",
        "ts", steps, windowSec = 86400L, strictOrder = true,
        markerCap = 1000)
      .as[(Long, Int)].collect().toMap
    assert(ok == Map(1L -> 1, 2L -> 3), ok.toString)
    // over the cap: DETERMINISTIC loud failure naming the cap — never
    // a silent marker drop (which could only inflate levels)
    val e = intercept[org.apache.spark.SparkException] {
      graft.operators.Funnel.windowFunnelStrict(df, "user_id", "ts",
          steps, windowSec = 86400L, strictOrder = true, markerCap = 10)
        .collect()
    }
    def rootMessages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ rootMessages(x.getCause))
    assert(rootMessages(e).exists(m => m.contains("markerCap=10")),
      rootMessages(e).mkString(" | "))
    // dedup mode buffers only MATCHED events — the same hot key is
    // fine there at the same tiny cap (the cap is order-mode state)
    val dedup = graft.operators.Funnel.windowFunnelStrict(df, "user_id",
        "ts", steps, windowSec = 86400L, strictDedup = true,
        markerCap = 10)
      .as[(Long, Int)].collect().toMap
    assert(dedup == Map(1L -> 1, 2L -> 3), dedup.toString)
  }

  test("pre-1970 timestamps are rejected at update — the documented engine contract") {
    // the packed-long state cannot represent negative seconds (they
    // would wrap through the 48-bit mask), so pre-epoch events are
    // DROPPED: they neither extend a chain nor interrupt strict_order.
    // An oracle replaying these semantics over pre-epoch data must
    // filter epoch(ts) >= 0 first — pinned here so the contract is
    // executable, not just a comment.
    val base = 1700000000L
    val df = ev(Seq(
      // u1: a pre-epoch step-1 must not anchor; the real chain counts
      (1L, "view", -500L), (1L, "view", base),
      (1L, "click", base + 10), (1L, "purchase", base + 20),
      // u2: pre-epoch NOISE between steps must not interrupt order mode
      (2L, "view", base), (2L, "error", -100L),
      (2L, "click", base + 10), (2L, "purchase", base + 20),
      // u3: only pre-epoch events -> no rows at all
      (3L, "view", -50L)))
    val steps = Seq(col("event_type") === "view",
      col("event_type") === "click", col("event_type") === "purchase")
    val order = graft.operators.Funnel.windowFunnelStrict(df, "user_id",
        "ts", steps, windowSec = 86400L, strictOrder = true)
      .as[(Long, Int)].collect().toMap
    assert(order == Map(1L -> 3, 2L -> 3), order)
    val maxMode = graft.operators.Funnel.windowFunnelMax(df, "user_id",
        "ts", steps, windowSec = 86400L)
      .as[(Long, Int)].collect().toMap
    assert(maxMode == Map(1L -> 3, 2L -> 3), maxMode)
  }
}
