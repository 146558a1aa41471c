package graft.functions

import graft.SparkSpec

/** HLL state family: deterministic registers, merge == union,
  * estimate accuracy, and the store-states/merge-at-read flow. */
class HllSpec extends SparkSpec {
  import spark.implicits._

  test("sketch is deterministic across partitionings; merge == union") {
    val df = (0 until 20000).map(i => (i.toLong, i % 2)).toDF("u", "g")
    df.repartition(13).createOrReplaceTempView("hll_a")
    df.repartition(3).createOrReplaceTempView("hll_b")
    val sa = spark.sql("SELECT hll_sketch(u) FROM hll_a")
      .collect()(0).getAs[Array[Byte]](0)
    val sb = spark.sql("SELECT hll_sketch(u) FROM hll_b")
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sa, sb),
      "same multiset must give byte-identical registers in any layout")
    // merging the two per-group sketches equals sketching the union
    val merged = spark.sql(
      """SELECT hll_merge(st) FROM
        |(SELECT g, hll_sketch(u) AS st FROM hll_a GROUP BY g)""".stripMargin)
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, sa),
      "per-register max of disjoint parts == sketch of the union")
  }

  test("estimate lands inside the p=12 error band, small and large") {
    for (n <- Seq(50, 1000, 100000)) {
      (0 until n).map(i => Tuple1(s"v$i")).toDF("u")
        .createOrReplaceTempView("hll_n")
      val est = spark.sql(
        "SELECT hll_estimate(hll_sketch(u)) FROM hll_n")
        .as[Long].head()
      // 1.04/sqrt(4096) ~ 1.6% standard error; allow 5% absolute
      assert(math.abs(est - n) <= math.max(5, n * 0.05),
        s"n=$n est=$est")
    }
  }

  test("merge is order/grouping independent: random partitions agree") {
    // per-register max is associative+commutative+idempotent; prove it
    // end-to-end: the same value set split into random overlapping
    // parts, sketched and merged in different groupings, must produce
    // byte-identical registers
    val rnd = new scala.util.Random(42)
    val values = (0 until 30000).map(_ => rnd.nextInt(8000).toLong)
    def sketchOf(vs: Seq[Long]): Array[Byte] = {
      val r = Hll.emptyRegisters()
      vs.foreach(v => Hll.add(r,
        org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(v, org.apache.spark.sql.types.LongType, 42L)))
      r
    }
    val whole = sketchOf(values)
    for (trial <- 0 until 5) {
      val parts = values.groupBy(_ => rnd.nextInt(2 + trial * 3)).values.toSeq
      val shuffled = rnd.shuffle(parts)
      val merged = shuffled.map(sketchOf)
        .reduce((a, b) => Hll.mergeInto(a.clone(), b))
      assert(java.util.Arrays.equals(merged, whole),
        s"trial $trial: ${shuffled.size} parts diverged")
    }
  }

  test("stored states round-trip through parquet and merge at read") {
    val tmp = java.nio.file.Files.createTempDirectory("hll_store_").toString
    (0 until 5000).map(i => (i.toLong, s"day${i % 4}"))
      .toDF("u", "day").createOrReplaceTempView("hll_ev")
    spark.sql(
      "SELECT day, hll_sketch(u) AS st FROM hll_ev GROUP BY day")
      .write.parquet(tmp + "/states")
    spark.read.parquet(tmp + "/states").createOrReplaceTempView("hll_st")
    val est = spark.sql(
      "SELECT hll_estimate(hll_merge(st)) FROM hll_st").as[Long].head()
    assert(math.abs(est - 5000) <= 250, s"merged-at-read estimate $est")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
  }

  test("type checks: estimate/merge demand a sketch, sketch an atomic") {
    Seq((1L, Array(1, 2))).toDF("u", "arr")
      .createOrReplaceTempView("hll_bad")
    val e1 = intercept[Exception](
      spark.sql("SELECT hll_sketch(arr) FROM hll_bad").collect())
    assert(e1.getMessage.contains("atomic"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT hll_estimate(u) FROM hll_bad").collect())
    assert(e2.getMessage.contains("BINARY"), e2.getMessage)
  }
}
