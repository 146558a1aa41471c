package graft.functions

import graft.SparkSpec

/** Ben-Haim/Yom-Tov streaming histogram: exact regime across a real
  * shuffled plan, compressed-regime invariants, and bounded state. */
class HistogramSketchSpec extends SparkSpec {
  import spark.implicits._

  private def hist(view: String, nbins: Int): Seq[(Double, Long)] = {
    spark.sql(
      s"""SELECT centroid, cnt FROM (SELECT hist_sketch($nbins, v) AS h
         |FROM $view) LATERAL VIEW inline(h) t AS centroid, cnt
         |ORDER BY centroid""".stripMargin)
      .as[(Double, Long)].collect().toSeq
  }

  test("exact regime: distinct <= nbins gives the value-grain GROUP BY") {
    val rows = (0 until 4000).map(i => (i.toLong, ((i * 7) % 20).toDouble))
    rows.toDF("id", "v").repartition(16).createOrReplaceTempView("hs_exact")
    val got = hist("hs_exact", 32)
    val exact = rows.groupBy(_._2).view.mapValues(_.size.toLong)
      .toSeq.sortBy(_._1)
    assert(got == exact, s"$got != $exact")
  }

  test("compressed regime: count preserved, bins bounded, sorted, in range") {
    // 50k distinct values into 64 bins — compression fires constantly
    spark.range(50000)
      .selectExpr("id", "CAST(pmod(hash(id), 100000) AS DOUBLE) AS v")
      .repartition(16).createOrReplaceTempView("hs_comp")
    val got = hist("hs_comp", 64)
    assert(got.size <= 64, s"state must stay bounded: ${got.size}")
    assert(got.map(_._2).sum == 50000L, "total mass must be preserved")
    assert(got == got.sortBy(_._1), "centroids must come back sorted")
    val vals = spark.table("hs_comp").select("v").as[Double].collect()
    assert(got.head._1 >= vals.min && got.last._1 <= vals.max,
      "centroids must stay inside the observed range")
  }

  test("merge is a valid sketch under any grouping (count per group)") {
    // the same data split 1-way vs 32-way must preserve per-group mass
    val df = spark.range(20000).selectExpr(
      "pmod(id, 4) AS g", "CAST(pmod(hash(id), 1000) AS DOUBLE) AS v")
    df.repartition(1).createOrReplaceTempView("hs_g1")
    df.repartition(32).createOrReplaceTempView("hs_g32")
    def mass(view: String): Map[Long, Long] = spark.sql(
      s"""SELECT g, aggregate(transform(h, x -> x.cnt), 0L,
         |    (a, x) -> a + x) AS n
         |FROM (SELECT g, hist_sketch(16, v) AS h FROM $view GROUP BY g)
         |""".stripMargin).as[(Long, Long)].collect().toMap
    assert(mass("hs_g1") == mass("hs_g32"))
  }

  test("hist_quantile: exact regime equals the weighted-quantile rule") {
    // 1..10 with weight = value: W=55, cums 1,3,6,10,15,21,28,36,45,55
    // p25 = smallest v with cum·4 ≥ 55 → 5 (15·4=60); p50 → 7 (28·2=56)
    val rows = (1 to 10).flatMap(v => Seq.fill(v)(v.toDouble))
    rows.toDF("v").createOrReplaceTempView("hq_exact")
    val r = spark.sql(
      """SELECT hist_quantile(h, 1, 4) AS p25,
        |  hist_quantile(h, 1, 2) AS p50,
        |  hist_quantile(h, 1, 1) AS p100
        |FROM (SELECT hist_sketch(16, v) AS h FROM hq_exact)""".stripMargin)
      .collect().head
    assert(r.getDouble(0) == 5.0) // cum(5)=15, 15*4=60 >= 55
    assert(r.getDouble(1) == 7.0) // cum(7)=28, 28*2=56 >= 55
    assert(r.getDouble(2) == 10.0)
  }

  test("hist_quantile: compressed regime is monotone and in range") {
    spark.range(30000)
      .selectExpr("CAST(pmod(hash(id), 10000) AS DOUBLE) AS v")
      .createOrReplaceTempView("hq_comp")
    val r = spark.sql(
      """SELECT hist_quantile(h, 1, 10) AS a, hist_quantile(h, 1, 2) AS b,
        |  hist_quantile(h, 9, 10) AS c FROM
        |(SELECT hist_sketch(32, v) AS h FROM hq_comp)""".stripMargin)
      .collect().head
    val (a, b, c) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(a <= b && b <= c, s"quantiles must be monotone: $a $b $c")
    val mm = spark.sql("SELECT min(v), max(v) FROM hq_comp").collect().head
    assert(a >= mm.getDouble(0) && c <= mm.getDouble(1))
  }

  test("nulls and NaNs contribute nothing") {
    Seq[(java.lang.Long, java.lang.Double)](
      (1L, 1.0), (2L, null), (3L, Double.NaN), (4L, 2.0))
      .toDF("id", "v").createOrReplaceTempView("hs_null")
    val got = hist("hs_null", 8)
    assert(got == Seq((1.0, 1L), (2.0, 1L)))
  }
}
