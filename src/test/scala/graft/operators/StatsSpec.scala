package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the statistical aggregates against hand-computed and
  * closed-form references so the oracled suite queries (h22-h25)
  * can't silently drift: Welch t vs a direct scalar computation,
  * Mann-Whitney's doubled-U identity and a textbook example,
  * Cramér's V bounds and the perfect-association case, and
  * least-squares recovering an exactly-planted line. */
class StatsSpec extends SparkSpec {

  import spark.implicits._

  test("welchT matches a direct scalar computation") {
    val a = Seq(100L, 200L, 300L, 400L, 500L)
    val b = Seq(150L, 250L, 350L)
    val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "cents")
    val row = Stats.welchT(df, col("cents"), col("g"), "a", "b")
      .collect().head
    assert(row.getAs[Long]("n_a") == 5 && row.getAs[Long]("n_b") == 3)
    // direct computation
    def meanVar(xs: Seq[Long]) = {
      val n = xs.size.toDouble
      val m = xs.sum / n
      val v = xs.map(x => (x - m) * (x - m)).sum / (n - 1)
      (m, v, n)
    }
    val (ma, va, na) = meanVar(a)
    val (mb, vb, nb) = meanVar(b)
    val se = va / na + vb / nb
    val t = (ma - mb) / math.sqrt(se)
    val dfw = se * se /
      (va / na * (va / na) / (na - 1) + vb / nb * (vb / nb) / (nb - 1))
    assert(math.abs(row.getAs[Double]("t") - t) < 1e-5)
    assert(math.abs(row.getAs[Double]("df") - dfw) < 1e-5)
  }

  test("mannWhitneyU: doubled-U identity and a textbook example") {
    // example with ties: a = [1,2,2,5], b = [2,3,4]
    val df = (Seq(1L, 2L, 2L, 5L).map(("a", _)) ++
      Seq(2L, 3L, 4L).map(("b", _))).toDF("g", "v")
    val r = Stats.mannWhitneyU(df, col("v"), col("g"), "a", "b")
      .collect().head
    val (na, nb) = (r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    val (u2a, u2b) = (r.getAs[Long]("u2_a"), r.getAs[Long]("u2_b"))
    assert(na == 4 && nb == 3)
    // ranks: 1→1; the three 2s share (2+3+4)/3 = 3; 3→5; 4→6; 5→7
    // R_a = 1 + 3 + 3 + 7 = 14 → U_a = 14 − 4·5/2 = 4 → 2U_a = 8
    assert(u2a == 8L)
    assert(u2a + u2b == 2 * na * nb)
  }

  test("mannWhitneyU identity holds on a pseudo-random mix") {
    val rows = (1 to 200).map { i =>
      (if (i % 3 == 0) "a" else "b", (i * 7919 % 41).toLong)
    }
    val r = Stats
      .mannWhitneyU(rows.toDF("g", "v"), col("v"), col("g"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("u2_a") + r.getAs[Long]("u2_b") ==
      2 * r.getAs[Long]("n_a") * r.getAs[Long]("n_b"))
  }

  test("cramersV: perfect association → 1, independence → 0") {
    val perfect = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"),
      ("z", "r"), ("z", "r")).toDF("a", "b")
    val v1 = Stats.cramersV(perfect, col("a"), col("b"))
      .collect().head.getAs[Double]("v")
    assert(math.abs(v1 - 1.0) < 1e-9)
    // independent: every (a,b) combination equally frequent
    val indep = (for { a <- Seq("x", "y"); b <- Seq("p", "q", "r");
      _ <- 1 to 4 } yield (a, b)).toDF("a", "b")
    val r0 = Stats.cramersV(indep, col("a"), col("b")).collect().head
    assert(math.abs(r0.getAs[Double]("chi2")) < 1e-6)
    assert(math.abs(r0.getAs[Double]("v")) < 1e-6)
  }

  test("corrCovar: planted ±1 correlation; zero variance → null corr") {
    val rows =
      (1L to 10L).map(i => ("up", i, 3 * i + 5)) ++
      (1L to 10L).map(i => ("down", i, -2 * i)) ++
      (1L to 5L).map(i => ("const", i, 7L))
    val out = Stats.corrCovar(rows.toDF("g", "x", "y"), col("x"),
        col("y"), col("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(math.abs(out("up").getAs[Double]("corr") - 1.0) < 1e-9)
    assert(math.abs(out("down").getAs[Double]("corr") + 1.0) < 1e-9)
    assert(out("const").isNullAt(3), "zero y-variance → null corr")
    // covar of (i, 3i+5) = 3·var(i); var(1..10) sample = 55/6
    assert(math.abs(out("up").getAs[Double]("covar_samp") - 27.5) < 1e-6)
  }

  test("weightedQuantile: ⌈q·W⌉ threshold semantics, per group") {
    // g: values 1..4 with weights 1,1,1,7 (W=10): p50 threshold
    // ⌈5⌉=5 → first value with cum ≥ 5 is 4; p10 threshold 1 → 1
    val df = Seq(("g", 1L, 1L), ("g", 2L, 1L), ("g", 3L, 1L),
      ("g", 4L, 7L), ("h", 9L, 3L)).toDF("g", "v", "w")
    val out = Stats.weightedQuantile(df, col("v"), col("w"), col("g"),
        Seq(("p10", 1, 10), ("p50", 1, 2), ("p100", 1, 1)))
      .collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(g.getAs[Long]("p10") == 1L)
    assert(g.getAs[Long]("p50") == 4L)
    assert(g.getAs[Long]("p100") == 4L)
    assert(out("h").getAs[Long]("p50") == 9L)
  }

  test("weightedQuantile equals unweighted quantile when weights=1") {
    val vals = Seq(5L, 1L, 3L, 2L, 4L) // sorted: 1 2 3 4 5; median 3
    val df = vals.map(("g", _, 1L)).toDF("g", "v", "w")
    val r = Stats.weightedQuantile(df, col("v"), col("w"), col("g"),
      Seq(("p50", 1, 2))).collect().head
    assert(r.getAs[Long]("p50") == 3L)
  }

  test("entropyMicroBits: uniform → log2(k), single key → 0") {
    val uniform = (1 to 80).map(i => ("u", s"k${i % 8}"))
    val single = (1 to 10).map(_ => ("s", "only"))
    val out = Stats.entropyMicroBits((uniform ++ single).toDF("g", "k"),
        col("k"), col("g"))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(out("u") == 3000000L) // log2(8) = 3 bits exactly
    assert(out("s") == 0L)
  }

  test("spearman: monotone map → 1, reversal → -1, ties averaged") {
    // y = x³ is nonlinear but strictly monotone: Pearson < 1, rho = 1
    val mono = (1L to 20L).map(x => ("up", x, x * x * x))
    val rev = (1L to 20L).map(x => ("down", x, -x))
    val out = Stats.spearman((mono ++ rev).toDF("g", "x", "y"),
        col("x"), col("y"), col("g"))
      .collect().map(r => r.getString(0) -> r.getAs[Double]("rho")).toMap
    assert(out("up") == 1.0, s"monotone must give rho=1: $out")
    assert(out("down") == -1.0, s"reversal must give rho=-1: $out")
    // tie handling: doubled average ranks must equal the textbook
    // half-rank computation (x ties in the middle block)
    val tied = Seq(("t", 1L, 10L), ("t", 2L, 20L), ("t", 2L, 30L),
      ("t", 3L, 40L))
    val rho = Stats.spearman(tied.toDF("g", "x", "y"), col("x"),
      col("y"), col("g")).collect().head.getAs[Double]("rho")
    // ranks x: 1, 2.5, 2.5, 4; y: 1,2,3,4 → rho = 0.948683 (6dp)
    assert(math.abs(rho - 0.948683) < 1e-6, s"got $rho")
  }

  test("ksTest: identical samples → D=0 p=1; disjoint → D=1 p~0") {
    val same = (1L to 50L).flatMap(v => Seq(("a", v), ("b", v)))
    val r1 = Stats.ksTest(same.toDF("g", "v"), col("v"), col("g"),
      "a", "b").collect().head
    assert(r1.getAs[Long]("d_micro") == 0L)
    assert(r1.getAs[Double]("p_asymptotic") == 1.0)
    val disjoint = (1L to 50L).map(v => ("a", v)) ++
      (100L to 149L).map(v => ("b", v))
    val r2 = Stats.ksTest(disjoint.toDF("g", "v"), col("v"), col("g"),
      "a", "b").collect().head
    assert(r2.getAs[Long]("d_micro") == 1000000L)
    assert(r2.getAs[Double]("p_asymptotic") < 1e-9)
  }

  test("skewKurt: symmetric → skew 0; known asymmetric case; flat → null") {
    // symmetric around 0: skew exactly 0; two-point ±1 has kurt 1
    val sym = Seq(-1L, 1L, -1L, 1L).map(("s", _))
    // {0,0,0,4}: deviations {-1,-1,-1,3} → m2=3, m3=6, m4=21
    // → skew 6/3^1.5, kurt 21/9
    val asym = Seq(0L, 0L, 0L, 4L).map(("a", _))
    val flat = Seq(7L, 7L).map(("f", _))
    val out = Stats.skewKurt((sym ++ asym ++ flat).toDF("g", "x"),
        col("x"), col("g"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("s").getAs[Double]("skew_pop") == 0.0)
    assert(out("s").getAs[Double]("kurt_pop") == 1.0)
    assert(math.abs(out("a").getAs[Double]("skew_pop")
      - 6.0 / math.pow(3.0, 1.5)) < 1e-6)
    assert(math.abs(out("a").getAs[Double]("kurt_pop") - 21.0 / 9.0) < 1e-6)
    assert(out("f").isNullAt(2) && out("f").isNullAt(3))
  }

  test("linFit recovers an exactly planted line; degenerate x → null") {
    val pts = (0L to 10L).map(x => ("g", x, 300L * x + 700L)) ++
      Seq(("flat", 5L, 100L), ("flat", 5L, 200L))
    val out = Stats.linFit(pts.toDF("g", "x", "y"), col("x"), col("y"),
      col("g")).collect().map(r => r.getString(0) -> r).toMap
    val g = out("g")
    assert(math.abs(g.getAs[Double]("slope") - 300.0) < 1e-9)
    assert(math.abs(g.getAs[Double]("intercept") - 700.0) < 1e-9)
    assert(out("flat").isNullAt(2) && out("flat").isNullAt(3))
  }

  test("assocMeasures: perfect association → 1s; independence → 0s") {
    // bijection a↔b: every statistic at its maximum
    val perfect = Seq.tabulate(30)(i => (s"a${i % 3}", s"b${i % 3}"))
    val p = Stats.assocMeasures(perfect.toDF("a", "b"),
      col("a"), col("b")).collect().head
    assert(math.abs(p.getAs[Double]("theils_u_ab") - 1.0) < 1e-6)
    assert(math.abs(p.getAs[Double]("theils_u_ba") - 1.0) < 1e-6)
    assert(math.abs(p.getAs[Double]("tschuprow_t") - 1.0) < 1e-6)
    // C maxes at sqrt((k−1)/k) for a k×k table, not 1
    assert(math.abs(p.getAs[Double]("contingency_c")
      - math.sqrt(2.0 / 3.0)) < 1e-6)
    // exact independence (full uniform cross): everything 0, and the
    // femto-rounded φ² must CLAMP to 0, never go sqrt-of-negative
    val indep = for {
      i <- 0 until 3; j <- 0 until 2; _ <- 0 until 5
    } yield (s"a$i", s"b$j")
    val q = Stats.assocMeasures(indep.toDF("a", "b"),
      col("a"), col("b")).collect().head
    assert(q.getAs[Double]("theils_u_ab") == 0.0)
    assert(q.getAs[Double]("contingency_c") == 0.0)
    assert(q.getAs[Double]("tschuprow_t") == 0.0)
    assert(q.getAs[Double]("cramers_v_bc") == 0.0)
  }

  test("assocMeasures Theil's U is asymmetric the right way") {
    // b determines a (each b maps to one a) but a does not determine
    // b (a0 splits over b0/b1) → U(a|b) = 1, U(b|a) < 1
    val rows = Seq(("a0", "b0"), ("a0", "b0"), ("a0", "b1"),
      ("a0", "b1"), ("a1", "b2"), ("a1", "b2"))
    val r = Stats.assocMeasures(rows.toDF("a", "b"), col("a"), col("b"))
      .collect().head
    assert(math.abs(r.getAs[Double]("theils_u_ab") - 1.0) < 1e-5)
    assert(r.getAs[Double]("theils_u_ba") < 0.999)
  }

  test("studentT equals welchT at equal group sizes; df is integral") {
    val a = Seq(100L, 200L, 300L, 400L)
    val b = Seq(150L, 260L, 370L, 480L)
    val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "c")
    val s = Stats.studentT(df, col("c"), col("g"), "a", "b")
      .collect().head
    val w = Stats.welchT(df, col("c"), col("g"), "a", "b")
      .collect().head
    // with nA = nB the pooled and unpooled standard errors coincide
    assert(math.abs(s.getAs[Double]("t") - w.getAs[Double]("t")) < 1e-6)
    assert(s.getAs[Long]("df") == 6L)
  }

  test("proportionZ matches a direct computation and is antisymmetric") {
    val rows = (1 to 40).map(i => ("a", i <= 30)) ++
      (1 to 50).map(i => ("b", i <= 20))
    val df = rows.toDF("g", "ok")
    val r = Stats.proportionZ(df, col("ok"), col("g"), "a", "b")
      .collect().head
    assert(r.getAs[Long]("n_a") == 40 && r.getAs[Long]("k_a") == 30)
    val p = 50.0 / 90.0
    val z = (0.75 - 0.4) /
      math.sqrt(p * (1 - p) * (1.0 / 40 + 1.0 / 50))
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-5)
    val rev = Stats.proportionZ(df, col("ok"), col("g"), "b", "a")
      .collect().head
    assert(math.abs(rev.getAs[Double]("z") + r.getAs[Double]("z")) < 1e-9)
  }

  test("emaByKey: constant series is a fixed point; exact decay case") {
    // constant input → ema exactly the constant
    val flat = Seq(("f", 500L, 0L), ("f", 500L, 24L), ("f", 500L, 48L))
    // planted decay, half-life 24: weights 1/4, 1/2, 1 over t=0,24,48
    // → ema = (400/4 + 800/2 + 1200) / (1/4 + 1/2 + 1) = 1700/1.75
    val decay = Seq(("d", 400L, 0L), ("d", 800L, 24L), ("d", 1200L, 48L))
    val out = Stats.emaByKey((flat ++ decay).toDF("g", "c", "t"),
        col("c"), col("t"), col("g"), halfLifeUnits = 24)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("f").getAs[Double]("ema") == 500.0)
    assert(math.abs(out("d").getAs[Double]("ema") - 1700.0 / 1.75) < 1e-5)
  }

  test("informationValue: symmetric split → 0; planted predictor") {
    // 50/50 goods and bads in each category → WoE exactly 0
    val even = Seq(("c1", true), ("c1", false), ("c2", true),
      ("c2", false))
    val r = Stats.informationValue(even.toDF("c", "g"), col("c"),
      col("g")).collect()
    assert(r.forall(_.getAs[Long]("woe_micro") == 0L))
    // c1 = {3 good, 1 bad}, c2 = {1 good, 3 bad}: G = B = 4,
    // WoE(c1) = ln(3) and IV(c1) = (3/4 − 1/4)·ln 3
    val skew = Seq.fill(3)(("c1", true)) ++ Seq(("c1", false)) ++
      Seq(("c2", true)) ++ Seq.fill(3)(("c2", false))
    val m = Stats.informationValue(skew.toDF("c", "g"), col("c"),
      col("g")).collect().map(x => x.getString(0) -> x).toMap
    assert(m("c1").getAs[Long]("woe_micro") ==
      math.round(1e6 * math.log(3.0)))
    assert(m("c1").getAs[Long]("iv_contrib_micro") ==
      math.round(1e6 * 0.5 * math.log(3.0)))
    // zero-cell category → flagged null, not ±∞
    val zero = Seq(("z", true), ("z", true), ("o", false))
    val z = Stats.informationValue(zero.toDF("c", "g"), col("c"),
      col("g")).collect().map(x => x.getString(0) -> x).toMap
    assert(z("z").isNullAt(z("z").fieldIndex("woe_micro")))
  }

  test("anovaF matches a hand-computed case; equal means → 0") {
    // a = {1,2,3}, b = {7,8,9}: bt = 12+192, ssb = 204−150 = 54,
    // ssw = 208−204 = 4 → F = (54/1)/(4/4) = 54
    val df = (Seq(1L, 2L, 3L).map(("a", _)) ++
      Seq(7L, 8L, 9L).map(("b", _))).toDF("g", "c")
    val r = Stats.anovaF(df, col("c"), col("g")).collect().head
    assert(r.getAs[Long]("n_groups") == 2L && r.getAs[Long]("n") == 6L)
    assert(math.abs(r.getAs[Double]("f_stat") - 54.0) < 1e-9)
    // identical distributions → SSB exactly 0
    val same = (Seq(1L, 2L, 3L).map(("a", _)) ++
      Seq(1L, 2L, 3L).map(("b", _))).toDF("g", "c")
    val r2 = Stats.anovaF(same, col("c"), col("g")).collect().head
    assert(r2.getAs[Double]("f_stat") == 0.0)
  }

  test("tukeyOutliers flags only the planted spike") {
    val rows = (1L to 20L).map(("k", _)) :+ (("k", 1000L))
    val r = Stats.tukeyOutliers(rows.toDF("g", "v"), col("v"), col("g"))
      .collect().head
    // ⌈q·W⌉ quartiles on 21 values: q1 = 6, q3 = 16, IQR = 10 →
    // fences (−9, 31): only the 1000 spike is outside
    assert(r.getAs[Long]("n") == 21L)
    assert(r.getAs[Long]("n_outliers") == 1L)
    assert(r.getAs[Long]("min_outlier") == 1000L)
    assert(r.getAs[Long]("max_outlier") == 1000L)
    // no outliers → zero count, null extremes
    val clean = (1L to 20L).map(("c", _))
    val r2 = Stats.tukeyOutliers(clean.toDF("g", "v"), col("v"),
      col("g")).collect().head
    assert(r2.getAs[Long]("n_outliers") == 0L)
    assert(r2.isNullAt(r2.fieldIndex("min_outlier")))
  }

  test("detectPeriod finds a planted cycle; constant series → null") {
    // period-7 sawtooth over 210 points: ACF peaks exactly at lag 7
    val pat = Seq(10L, 30L, 70L, 40L, 20L, 90L, 50L)
    val wave = (0 until 210).map(t => ("w", t.toLong, pat(t % 7)))
    val flat = (0 until 210).map(t => ("f", t.toLong, 42L))
    val out = Stats.detectPeriod((wave ++ flat).toDF("k", "t", "x"),
        col("x"), col("t"), col("k"), maxLag = 10)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("w").getAs[Int]("period") == 7)
    // a perfect repeat autocorrelates to ~1 at its period
    assert(out("w").getAs[Long]("acf_micro") > 900000L)
    assert(out("f").isNullAt(out("f").fieldIndex("period")))
  }

  test("ema state: aligned merge is EXACT; stale partial decays out") {
    // two rows per timestamp, split one to each partial: both
    // partials share every t (t_max equal), so each partial's decay
    // buckets match the direct computation's and the merged long
    // sums equal the direct sums associatively — bit-equal EMA
    val rows = (0L until 120L).flatMap(t => Seq(
      ("g", (t * 7 % 50) * 10L, t, 0), ("g", (t * 11 % 50) * 10L, t, 1)))
    val df = rows.toDF("g", "c", "t", "half")
    val all = df.select(col("g"), col("c"), col("t"))
    val direct = Stats.emaByKey(all, col("c"), col("t"), col("g"), 10)
      .collect().head.getAs[Double]("ema")
    def part(h: Int) = Stats.emaPartials(df.filter(col("half") === h),
      col("c"), col("t"), col("g"), 10)
    val aligned = Stats.emaMerge(part(0).unionByName(part(1)), 10)
      .collect().head.getAs[Double]("ema")
    assert(aligned == direct)
    // a partial whose newest point is >62 half-lives stale shifts to
    // exactly zero in the merge — same as its rows' true ~2^-10000
    // weights would contribute directly
    val old = Stats.emaPartials(
      all.select(col("g"), col("c"), (col("t") - 100000L).as("t")),
      col("c"), col("t"), col("g"), 10)
    val whole = Stats.emaPartials(all, col("c"), col("t"), col("g"), 10)
    val merged = Stats.emaMerge(whole.unionByName(old), 10)
      .collect().head.getAs[Double]("ema")
    assert(merged == direct)
  }

  test("multiLinFit recovers exact planted coefficients") {
    // y = 7 + 3*x1 - 2*x2 exactly: the normal equations must return
    // the planted coefficients to rounding precision, per group
    val rows = for (g <- Seq("a", "b"); i <- 0 until 50) yield {
      val x1 = (i * 13L) % 17
      val x2 = (i * 7L + 3) % 23
      (g, x1, x2, 7L + 3 * x1 - 2 * x2 + (if (g == "b") 100 else 0))
    }
    val got = Stats.multiLinFit(rows.toDF("g", "x1", "x2", "y"),
        col("x1"), col("x2"), col("y"), col("g"))
      .collect().map(r => r.getString(0) ->
        (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got("a") == ((7.0, 3.0, -2.0)), got)
    assert(got("b") == ((107.0, 3.0, -2.0)), got)
    // singular design (x2 = 2*x1): null coefficients, not a blow-up
    val sing = (0 until 20).map(i => ("s", i.toLong, 2L * i, i * 5L))
    val s = Stats.multiLinFit(sing.toDF("g", "x1", "x2", "y"),
      col("x1"), col("x2"), col("y"), col("g")).collect().head
    assert(s.isNullAt(2) && s.isNullAt(3) && s.isNullAt(4))
  }

  test("bottom_k: exact min-k by key, merge-stable across partitions") {
    val n = 5000
    val rows = (0 until n).map { i =>
      (i % 3, (i * 2654435761L) % 100003, i.toLong)
    }
    rows.toDF("g", "hk", "id").repartition(32)
      .createOrReplaceTempView("bk_rows")
    val got = spark.sql(
      """SELECT g, bottom_k(25, hk, id) AS ids FROM bk_rows GROUP BY g
        |""".stripMargin)
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1)).toMap
    val expect = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.map(r => (r._2, r._3)).sorted.take(25).map(_._2).toSeq
    }
    assert(got == expect)
    // k larger than the group: the whole group comes back, ordered
    val small = spark.sql(
      """SELECT bottom_k(1000000, hk, id) AS ids FROM bk_rows
        |WHERE g = 0""".stripMargin).collect().head.getSeq[Long](0)
    assert(small == rows.filter(_._1 == 0)
      .map(r => (r._2, r._3)).sorted.map(_._2).toSeq)
  }

  test("counterIncrease: resets count from zero, monotone runs sum deltas") {
    // 10 → 30 → 5(reset) → 25: increase = 20 + 5 + 20 = 45, 1 reset
    val rows = Seq(
      ("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 5L), ("a", 4L, 25L),
      // pure monotone: increase = last - first, 0 resets
      ("b", 1L, 100L), ("b", 2L, 150L), ("b", 3L, 400L))
    val got = Stats.counterIncrease(rows.toDF("g", "t", "v"),
        col("v"), col("t"), col("t"), col("g"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got("a") == ((45L, 1L, 4L)), got)
    assert(got("b") == ((300L, 0L, 3L)), got)
  }

  test("corrMatrix: planted ±1 pairs and a degenerate feature, one pass") {
    val rows = (0 until 40).map { i =>
      ("g", i.toLong, 3L * i + 7, -2L * i + 100, 5L)
    }
    val got = Stats.corrMatrix(rows.toDF("g", "a", "b", "c", "k"),
        Seq("a" -> col("a"), "b" -> col("b"), "c" -> col("c"),
          "k" -> col("k")), col("g"))
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(("a", "b")).contains(1.0))   // b = 3a+7
    assert(got(("a", "c")).contains(-1.0))  // c = -2a+100
    assert(got(("b", "c")).contains(-1.0))
    // constant feature: every pair with k is null, not NaN
    assert(got(("a", "k")).isEmpty && got(("b", "k")).isEmpty &&
      got(("c", "k")).isEmpty)
    assert(got.size == 6) // full upper triangle of 4 features
  }

  test("seasonalDecompose recovers a planted weekly pattern exactly") {
    // v = 100 + seasonal(dow), zero trend slope: the centered MA must
    // be exactly 100 (each window sees every phase once), seasonal
    // must equal the planted offsets, residual exactly 0
    val offsets = Seq(7L, -3L, 0L, 5L, -9L, 2L, -2L) // sums to 0
    val days = (0 until 28).map { i =>
      ("g", java.sql.Date.valueOf(java.time.LocalDate
        .of(2024, 1, 1).plusDays(i)), 100L + offsets(i % 7))
    }
    val out = Stats.seasonalDecompose(days.toDF("g", "day", "v"),
        col("v"), col("day"), col("g"), period = 7,
        epochDay = "2024-01-01")
      .orderBy("d").collect()
    assert(out.length == 28)
    // edges: first 3 and last 3 rows have null trend
    assert(out.take(3).forall(_.isNullAt(3)))
    assert(out.takeRight(3).forall(_.isNullAt(3)))
    val interior = out.drop(3).dropRight(3)
    interior.foreach { r =>
      assert(r.getLong(3) == 100000000L, s"trend ${r.getLong(3)}")
      val i = java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.of(2024, 1, 1), r.getDate(1).toLocalDate).toInt
      assert(r.getLong(4) == offsets(i % 7) * 1000000L,
        s"seasonal ${r.getLong(4)} at phase ${i % 7}")
      assert(r.getLong(5) == 0L, s"residual ${r.getLong(5)}")
    }
  }

  test("emaByKey weights recency: rising series sits above its mean") {
    val rows = (0L until 100L).map(t => ("g", t * 10L, t))
    val r = Stats.emaByKey(rows.toDF("g", "c", "t"), col("c"), col("t"),
      col("g"), halfLifeUnits = 10).collect().head
    val mean = (0L until 100L).map(_ * 10L).sum / 100.0
    assert(r.getAs[Double]("ema") > mean)
    // and points beyond 62 half-lives contribute exactly zero — a
    // huge ancient outlier cannot move the answer
    val withAncient = rows :+ (("g", 1000000000L, -100000L))
    val r2 = Stats.emaByKey(withAncient.toDF("g", "c", "t"), col("c"),
      col("t"), col("g"), halfLifeUnits = 10).collect().head
    assert(r2.getAs[Double]("ema") == r.getAs[Double]("ema"))
  }

  test("fleissKappa matches a hand-computed case; single-rating items excluded") {
    // item A: x,x,y → P=1/3; item B: x,x → P=1; item C: one rating →
    // excluded. Marginals over included: c_x=4, c_y=1, N=5 →
    // P_e=17/25=0.68, P̄=2/3, κ=(2/3−0.68)/0.32=−0.041667
    val ratings = Seq(("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "x"), ("B", "x"), ("C", "y")).toDF("item", "label")
    val r = Stats.fleissKappa(ratings, col("item"), col("label"))
      .collect().head
    assert(r.getAs[Long]("n_items") == 2L)
    assert(r.getAs[Long]("n_ratings") == 5L)
    assert(r.getAs[Double]("p_bar") == 0.666667)
    assert(r.getAs[Double]("p_e") == 0.68)
    assert(r.getAs[Double]("kappa") == -0.041667)
    // perfect agreement across two unanimous items with DIFFERENT
    // labels: P̄=1, P_e=0.5, κ=1
    val perfect = Seq(("A", "x"), ("A", "x"), ("B", "y"), ("B", "y"))
      .toDF("item", "label")
    assert(Stats.fleissKappa(perfect, col("item"), col("label"))
      .collect().head.getAs[Double]("kappa") == 1.0)
    // one unanimous LABEL corpus-wide: P_e = 1 → null, not 0/0
    val unanimous = Seq(("A", "x"), ("A", "x"), ("B", "x"), ("B", "x"))
      .toDF("item", "label")
    val u = Stats.fleissKappa(unanimous, col("item"), col("label"))
      .collect().head
    assert(u.isNullAt(u.fieldIndex("kappa")))
    // layout independence — exact integer folds, not float luck
    val again = Stats.fleissKappa(ratings.repartition(7),
      col("item"), col("label")).collect().head
    assert(again.getAs[Double]("kappa") == r.getAs[Double]("kappa"))
  }

  test("ratingDisagreement: majority share exact, ties break to smallest label") {
    val ratings = Seq(("A", "x"), ("A", "x"), ("A", "y"),
      ("B", "y"), ("B", "x")).toDF("item", "label")
    val out = Stats.ratingDisagreement(ratings, col("item"), col("label"))
      .orderBy("item").as[(String, Long, Long, String, Long)].collect()
    assert(out(0) == (("A", 3L, 2L, "x", 666667L)))
    assert(out(1) == (("B", 2L, 2L, "x", 500000L))) // tie → smallest label
    // a null-vs-real-label tie picks the real label (nulls sort LAST,
    // matching SQL replays — Spark's asc default would pick null)
    val withNull = Seq(("C", "y"), ("C", null)).toDF("item", "label")
    val n = Stats.ratingDisagreement(withNull, col("item"), col("label"))
      .as[(String, Long, Long, String, Long)].collect().head
    assert(n == (("C", 2L, 2L, "y", 500000L)))
  }

  test("kAnonymity census: sizes, group/row counts, threshold flag") {
    // QID (a): 6 rows of x, 2 rows of y, 1 row of z
    val df = (Seq.fill(6)("x") ++ Seq.fill(2)("y") ++ Seq("z")).toDF("a")
    val out = Stats.kAnonymity(df, Seq(col("a")), k = 5)
      .orderBy("s").as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(out == Seq((1L, 1L, 1L, false), (2L, 1L, 2L, false),
      (6L, 1L, 6L, true)))
  }

  test("kAnonymize suppresses exactly the sub-k groups, keeps columns") {
    val df = ((1 to 6).map(i => ("x", i)) ++ Seq(("y", 7), ("y", 8),
      ("z", 9))).toDF("a", "id")
    val out = Stats.kAnonymize(df, Seq(col("a")), k = 3)
    assert(out.columns.toSeq == Seq("a", "id"))
    assert(out.select("id").as[Int].collect().sorted.toSeq == (1 to 6))
    // released corpus satisfies k-anonymity by construction
    val census = Stats.kAnonymity(out, Seq(col("a")), k = 3)
      .filter(!col("anonymous_at_3")).count()
    assert(census == 0L)
    // k=1 keeps everything
    assert(Stats.kAnonymize(df, Seq(col("a")), k = 1).count() == 9L)
  }

  test("raterConsensusKappa: perfect rater 1.0, hand-computed dissenter, chance NULL") {
    // items A,B,C; raters 1..3. Consensus: A→x (2 of 3), B→y (2 of 3),
    // C→x (2 of 3). Rater 1 always matches consensus; rater 3 dissents
    // on every item.
    val r = Seq(
      ("A", 1L, "x"), ("A", 2L, "x"), ("A", 3L, "y"),
      ("B", 1L, "y"), ("B", 2L, "y"), ("B", 3L, "x"),
      ("C", 1L, "x"), ("C", 2L, "x"), ("C", 3L, "y"))
      .toDF("item", "rater", "label")
    val out = Stats.raterConsensusKappa(r, col("item"), col("rater"),
        col("label")).orderBy("rater").collect()
    // rater 1: agree 3/3, labels (x:2, y:1), consensus over their items
    // (x:2, y:1) → pe_num = 2*2 + 1*1 = 5; kappa = (9-5)/(9-5) = 1.0
    assert(out(0).getLong(1) == 3L && out(0).getLong(2) == 3L)
    assert(out(0).getDouble(4) == 1.0)
    // rater 3: agree 0, labels (y:2, x:1), consensus (x:2, y:1) →
    // pe_num = 1*2 + 2*1 = 4; kappa = (0-4)/(9-4) = -0.8
    assert(out(2).getLong(2) == 0L)
    assert(out(2).getDouble(4) == -0.8)
    // chance-total rater: one item, one label → pe = 1 → NULL
    val solo = Seq(("A", 1L, "x"), ("A", 2L, "x")).toDF("item", "rater", "label")
    val s = Stats.raterConsensusKappa(solo, col("item"), col("rater"),
      col("label")).collect()
    assert(s.forall(_.isNullAt(4)))
  }

  test("raterBias: exact micro-unit offsets vs the global mean") {
    val df = Seq((1L, 10.0), (1L, 20.0), (2L, 40.0), (2L, 50.0))
      .toDF("rater", "score")
    val out = Stats.raterBias(df, col("rater"), col("score"))
      .orderBy("rater").as[(Long, Long, Long, Long)].collect().toSeq
    // global mean 30; rater 1 mean 15 (bias −15), rater 2 mean 45 (+15)
    assert(out == Seq((1L, 2L, 15000000L, -15000000L),
      (2L, 2L, 45000000L, 15000000L)))
  }

  test("kAnonymizeLadder: rows release at the finest achievable level") {
    // QIDs (a, b): level 0 = (a, b), level 1 = (a).
    // ("x","p") ×3 → level 0; ("x","q") ×2 + ("x","r") ×1 escalate and
    // together make a=x count 3 ≥ k at level 1; ("z",...) ×2 suppressed
    val df = Seq(
      ("x", "p", 1), ("x", "p", 2), ("x", "p", 3),
      ("x", "q", 4), ("x", "q", 5), ("x", "r", 6),
      ("z", "s", 7), ("z", "t", 8)).toDF("a", "b", "id")
    val out = Stats.kAnonymizeLadder(df,
        Seq(Seq(col("a"), col("b")), Seq(col("a"))), k = 3)
      .orderBy("id").as[(String, String, Int, Int)].collect().toSeq
    assert(out.map(r => (r._3, r._4)) ==
      Seq((1, 0), (2, 0), (3, 0), (4, 1), (5, 1), (6, 1)))
    // suppressed rows are gone; released set satisfies k at its level:
    // level-0 rows in (a,b) groups ≥ 3, level-1 rows in (a) groups ≥ 3
    assert(!out.exists(_._1 == "z"))
  }

  test("embeddingDrift: identical halves cosine 1, opposite halves -1") {
    val df = Seq(
      ("same", 0L, Seq(1.0f, 2.0f)), ("same", 1L, Seq(1.0f, 2.0f)),
      ("opp", 0L, Seq(1.0f, 0.0f)), ("opp", 1L, Seq(-1.0f, 0.0f)))
      .toDF("label", "vec_id", "embedding")
    val out = Stats.embeddingDrift(df, col("label"),
        col("vec_id") % 2 === 0, col("embedding"))
      .orderBy("label").as[(String, Double)].collect().toSeq
    assert(out == Seq(("opp", -1.0), ("same", 1.0)))
    // layout independence: micro-unit longs + fixed-order array fold
    val again = Stats.embeddingDrift(df.repartition(5), col("label"),
        col("vec_id") % 2 === 0, col("embedding"))
      .orderBy("label").as[(String, Double)].collect().toSeq
    assert(again == out)
  }

  test("weightedConsensus: reliable raters flip a tie; agreement never flips") {
    import spark.implicits._
    // r1 is right 3/5 vs majority, r2/r3 4/5. On i5 the raw vote ties
    // A/B/C (tie rule -> A); accuracy weighting makes B and C tie at
    // 800000 and the label-asc break picks B — a CHANGED item
    val d = Seq(
      ("i1", "r1", "A"), ("i1", "r2", "B"), ("i1", "r3", "B"),
      ("i2", "r1", "A"), ("i2", "r2", "B"), ("i2", "r3", "B"),
      ("i3", "r1", "A"), ("i3", "r2", "A"), ("i3", "r3", "A"),
      ("i4", "r1", "A"), ("i4", "r2", "A"), ("i4", "r3", "A"),
      ("i5", "r1", "A"), ("i5", "r2", "B"), ("i5", "r3", "C"))
      .toDF("item", "rater", "label")
    val out = Stats.weightedConsensus(d, col("item"), col("rater"),
        col("label")).orderBy("item")
      .as[(String, String, String, Boolean, Long)].collect().toSeq
    assert(out == Seq(
      ("i1", "B", "B", false, 1600000L),
      ("i2", "B", "B", false, 1600000L),
      ("i3", "A", "A", false, 2200000L),
      ("i4", "A", "A", false, 2200000L),
      ("i5", "A", "B", true, 800000L)))
    // layout independence: exact integers end to end
    val again = Stats.weightedConsensus(d.repartition(7), col("item"),
        col("rater"), col("label")).orderBy("item")
      .as[(String, String, String, Boolean, Long)].collect().toSeq
    assert(again == out)
  }

  test("itemAnalysis: hand-computed difficulty, rest-score r_pb and alpha") {
    import spark.implicits._
    // 3 persons x 2 items; totals t = [2, 1, 0].
    // Item A: (x,rest) = (1,1),(1,0),(0,0) -> diff 2/3, r_pb 0.5
    // Item B: (1,1),(0,1),(0,0)            -> diff 1/3, r_pb 0.5
    // alpha = 2/1 * (1 - (2/9 + 2/9)/(6/9)) = 0.666667
    val d = Seq(
      ("p1", "A", 1), ("p1", "B", 1),
      ("p2", "A", 1), ("p2", "B", 0),
      ("p3", "A", 0), ("p3", "B", 0),
      ("p1", "A", 0) // repeated observation collapses by max -> stays 1
    ).toDF("person", "item", "x")
    val out = Stats.itemAnalysis(d, col("person"), col("item"), col("x"))
      .orderBy("item")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(out == Seq(
      ("A", 3L, 0.666667, Some(0.5), Some(0.666667)),
      ("B", 3L, 0.333333, Some(0.5), Some(0.666667))))
    // a constant item (everyone right) nulls its r_pb, not the others'
    val withConst = d.union(Seq(("p1", "C", 1), ("p2", "C", 1),
      ("p3", "C", 1)).toDF("person", "item", "x"))
    val c = Stats.itemAnalysis(withConst, col("person"), col("item"),
        col("x")).orderBy("item")
      .as[(String, Long, Double, Option[Double], Option[Double])]
      .collect().toSeq
    assert(c.find(_._1 == "C").get._4.isEmpty)
    assert(c.find(_._1 == "A").get._4.isDefined)
    // null person rows drop; empty input yields an empty frame
    assert(Stats.itemAnalysis(
      Seq.empty[(String, String, Int)].toDF("person", "item", "x"),
      col("person"), col("item"), col("x")).isEmpty)
  }
}
