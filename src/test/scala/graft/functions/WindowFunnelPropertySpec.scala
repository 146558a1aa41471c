package graft.functions

import graft.SparkSpec

/** window_funnel_max vs an exhaustive reference: the one-pass DP must
  * equal a brute-force search over every anchor chain (strictly
  * increasing seconds, window measured from the anchor) on random
  * event streams — including same-second pileups, stray anchors, and
  * out-of-window decoys. */
class WindowFunnelPropertySpec extends SparkSpec {
  import spark.implicits._

  /** Max level over all chains e1 < e2 < … < eL with step(ei) = i and
    * sec(eL) − sec(e1) ≤ w. Exhaustive: branches over every
    * qualifying event per step. */
  private def brute(events: Seq[(Long, Int)], k: Int, w: Long): Int = {
    def extend(level: Int, lastSec: Long, anchor: Long): Int =
      if (level == k) k
      else {
        val nexts = events.filter { case (s, st) =>
          st == level + 1 && s > lastSec && s - anchor <= w }
        if (nexts.isEmpty) level
        else nexts.map { case (s, _) => extend(level + 1, s, anchor) }.max
      }
    val anchors = events.collect { case (s, 1) => s }
    if (anchors.isEmpty) 0 else anchors.map(a => extend(1, a, a)).max
  }

  test("DP equals exhaustive search on 300 random keys (k=3, dense seconds)") {
    val rnd = new scala.util.Random(20260814L)
    val base = 1700000000L
    val w = 40L
    // dense second range [0, 100) forces same-second collisions and
    // many in/out-of-window boundaries against w = 40
    val cases: Map[Long, Seq[(Long, Int)]] = (1L to 300L).map { key =>
      val n = 1 + rnd.nextInt(12)
      key -> Seq.fill(n)((base + rnd.nextInt(100).toLong, 1 + rnd.nextInt(3)))
    }.toMap
    val rows = cases.toSeq.flatMap { case (key, evs) =>
      evs.map { case (s, st) => (key, st, new java.sql.Timestamp(s * 1000L)) }
    }
    rows.toDF("user_id", "step", "ts").repartition(8)
      .createOrReplaceTempView("wfp_events")
    val got = spark.sql(
      s"""SELECT user_id, window_funnel_max(${w}L, ts,
         |  step = 1, step = 2, step = 3) AS level
         |FROM wfp_events GROUP BY user_id""".stripMargin)
      .as[(Long, Int)].collect().toMap
    val bad = cases.flatMap { case (key, evs) =>
      val expect = brute(evs, 3, w)
      if (got.getOrElse(key, 0) != expect)
        Some(s"key $key: dp=${got.getOrElse(key, 0)} brute=$expect evs=$evs")
      else None
    }
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  /** Per-anchor strict walk over the (sec, step)-sorted event list
    * (step 0 = non-funnel noise), functional formulation: dedup — a
    * repeat of an already-satisfied step ends the chain; order — ANY
    * non-extending event ends it. Max over all step-1 anchors. */
  private def bruteStrictMax(events: Seq[(Long, Int)], k: Int, w: Long,
      dedup: Boolean, order: Boolean): Int = {
    val sorted = events.sortBy(identity).toIndexedSeq
    val anchors = sorted.indices.filter(i => sorted(i)._2 == 1)
    if (anchors.isEmpty) return 0
    anchors.map { ai =>
      val anchor = sorted(ai)._1
      val walk = sorted.drop(ai + 1).foldLeft((1, anchor, false)) {
        case (acc @ (level, prev, stop), (sec, step)) =>
          if (stop || level == k) acc
          else if (dedup && step >= 1 && step <= level) (level, prev, true)
          else if (step == level + 1 && sec > prev && sec <= anchor + w)
            (level + 1, sec, false)
          else if (order) (level, prev, true)
          else acc
      }
      walk._1
    }.max
  }

  test("strict_max equals per-anchor strict walk on 400 random keys, all modes") {
    val rnd = new scala.util.Random(20260815L)
    val base = 1700000000L
    val w = 40L
    // steps 0..3: step 0 is noise that must interrupt in order mode
    // and be invisible in dedup mode; dense seconds force same-second
    // pileups where the (sec, step) sort order decides
    val cases: Map[Long, Seq[(Long, Int)]] = (1L to 400L).map { key =>
      val n = 1 + rnd.nextInt(14)
      key -> Seq.fill(n)((base + rnd.nextInt(100).toLong, rnd.nextInt(4)))
    }.toMap
    cases.toSeq.flatMap { case (key, evs) =>
      evs.map { case (s, st) => (key, st, new java.sql.Timestamp(s * 1000L)) }
    }.toDF("user_id", "step", "ts").repartition(8)
      .createOrReplaceTempView("wfsm_events")
    for ((mode, dedup, order) <- Seq(
        ("dedup", true, false), ("order", false, true),
        ("dedup_order", true, true))) {
      val got = spark.sql(
        s"""SELECT user_id, window_funnel_strict_max(${w}L, '$mode', ts,
           |  step = 1, step = 2, step = 3) AS level
           |FROM wfsm_events GROUP BY user_id""".stripMargin)
        .as[(Long, Int)].collect().toMap
      val bad = cases.flatMap { case (key, evs) =>
        val expect = bruteStrictMax(evs, 3, w, dedup, order)
        if (got.getOrElse(key, 0) != expect)
          Some(s"[$mode] key $key: dp=${got.getOrElse(key, 0)} " +
            s"brute=$expect evs=${evs.sortBy(identity)}")
        else None
      }
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
    }
  }

  /** Kuhn's augmenting-path maximum bipartite matching: cond1 event i
    * can serve cond2 event j iff sec1 < sec2 and (gap ≤ 0 or
    * sec2 − sec1 ≤ gap). */
  private def maxMatching(c1s: Seq[Long], c2s: Seq[Long], gap: Long): Int = {
    val matchOf = Array.fill(c1s.length)(-1)
    def tryAugment(j: Int, seen: Array[Boolean]): Boolean = {
      (c1s.indices).exists { i =>
        val ok = c1s(i) < c2s(j) && (gap <= 0 || c2s(j) - c1s(i) <= gap)
        if (ok && !seen(i)) {
          seen(i) = true
          if (matchOf(i) == -1 || tryAugment(matchOf(i), seen)) {
            matchOf(i) = j; true
          } else false
        } else false
      }
    }
    c2s.indices.count(j => tryAugment(j, Array.fill(c1s.length)(false)))
  }

  test("sequence_count equals maximum matching on 300 random keys, gapped and not") {
    val rnd = new scala.util.Random(20260815L)
    val base = 1700000000L
    val gap = 25L
    val cases: Map[Long, (Seq[Long], Seq[Long])] = (1L to 300L).map { key =>
      val n1 = rnd.nextInt(8)
      val n2 = rnd.nextInt(8)
      key -> (Seq.fill(n1)(base + rnd.nextInt(80).toLong),
        Seq.fill(n2)(base + rnd.nextInt(80).toLong))
    }.toMap
    val rows = cases.toSeq.flatMap { case (key, (c1s, c2s)) =>
      c1s.map(s => (key, "a", new java.sql.Timestamp(s * 1000L))) ++
        c2s.map(s => (key, "b", new java.sql.Timestamp(s * 1000L)))
    }
    rows.toDF("user_id", "t", "ts").repartition(8)
      .createOrReplaceTempView("sc_events")
    for ((g, label) <- Seq(0L -> "unlimited", gap -> s"gap=$gap")) {
      val gArg = if (g == 0) "" else s"${g}L, "
      val got = spark.sql(
        s"""SELECT user_id, sequence_count(${gArg}ts,
           |  t = 'a', t = 'b') AS n
           |FROM sc_events GROUP BY user_id""".stripMargin)
        .as[(Long, Long)].collect().toMap
      val bad = cases.flatMap { case (key, (c1s, c2s)) =>
        val expect = maxMatching(c1s, c2s, g)
        if (got.getOrElse(key, 0L) != expect)
          Some(s"[$label] key $key: greedy=${got.getOrElse(key, 0L)} " +
            s"max=$expect c1=$c1s c2=$c2s")
        else None
      }
      assert(bad.isEmpty, bad.take(5).mkString("\n"))
    }
  }

  /** Exhaustive per-gap chain existence: the deepest L with a chain
    * e1 < e2 < … < eL, step(ei) = i, sec(e_{i+1}) − sec(e_i) ≤ g_i.
    * Branches over EVERY qualifying event per step — the DP must
    * equal it everywhere, including where a greedy earliest pick
    * strands the chain. */
  private def bruteChain(events: Seq[(Long, Int)], gaps: Seq[Long]): Int = {
    val k = gaps.size + 1
    def extend(level: Int, lastSec: Long): Int =
      if (level == k) k
      else {
        val nexts = events.filter { case (s, st) =>
          st == level + 1 && s > lastSec && s - lastSec <= gaps(level - 1) }
        if (nexts.isEmpty) level
        else nexts.map { case (s, _) => extend(level + 1, s) }.max
      }
    val starts = events.collect { case (s, 1) => s }
    if (starts.isEmpty) 0 else starts.map(a => extend(1, a)).max
  }

  test("sequence_chain DP equals exhaustive search on 300 random keys") {
    val rnd = new scala.util.Random(20260815L)
    val base = 1700000000L
    val gaps = Seq(25L, 15L)
    // dense seconds against tight unequal gaps: plenty of greedy
    // traps, same-second pileups, and dead-end early matches
    val cases: Map[Long, Seq[(Long, Int)]] = (1L to 300L).map { key =>
      val n = 1 + rnd.nextInt(12)
      key -> Seq.fill(n)((base + rnd.nextInt(80).toLong, 1 + rnd.nextInt(3)))
    }.toMap
    cases.toSeq.flatMap { case (key, evs) =>
      evs.map { case (s, st) => (key, st, new java.sql.Timestamp(s * 1000L)) }
    }.toDF("user_id", "step", "ts").repartition(8)
      .createOrReplaceTempView("scp_events")
    val got = spark.sql(
      s"""SELECT user_id, sequence_chain('${gaps.mkString(",")}', ts,
         |  step = 1, step = 2, step = 3) AS level
         |FROM scp_events GROUP BY user_id""".stripMargin)
      .as[(Long, Int)].collect().toMap
    val bad = cases.flatMap { case (key, evs) =>
      val expect = bruteChain(evs, gaps)
      if (got.getOrElse(key, 0) != expect)
        Some(s"key $key: dp=${got.getOrElse(key, 0)} brute=$expect evs=$evs")
      else None
    }
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }
}
