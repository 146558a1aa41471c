package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** DDSketch: the α relative-error guarantee holds at every probed
  * quantile, merge is EXACT (state of the union, byte-identical), and
  * zero/negative inputs land in the zero bucket. */
class DdSketchSpec extends SparkSpec {
  import spark.implicits._

  private val alpha = 0.01

  test("relative error bound holds across quantiles on a heavy tail") {
    // log-uniform-ish positive values spanning 5 decades — the shape
    // rank-error sketches mis-serve and DDSketch is built for
    val vs = (1 to 20000).map { i =>
      val u = (i * 2654435761L % 100003).toDouble / 100003.0
      math.max(1L, math.round(math.pow(10.0, 1.0 + 4.0 * u)))
    }
    vs.map(("g", _)).toDF("g", "v").createOrReplaceTempView("dd_rows")
    val sorted = vs.sorted
    val row = spark.sql(
      s"""SELECT dd_sketch($alpha, v) AS sk FROM dd_rows GROUP BY g
         |""".stripMargin).collect().head
    val sk = row.getAs[Array[Byte]](0)
    val buf = DdSketchAgg.read(sk)
    val total = buf.zero + buf.counts.values.sum
    assert(total == vs.size)
    val g = DdSketch.gamma(alpha)
    for (q <- Seq(0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99, 0.999)) {
      val exact = sorted(math.max(1, math.ceil(q * vs.size).toInt) - 1)
      val est = DdSketch.quantile(buf.counts, buf.zero, total, q, g)
      assert(math.abs(est - exact) <= alpha * exact * 1.0001,
        s"q=$q exact=$exact est=$est")
    }
    // bounded state: 5 decades at alpha=0.01 is a few hundred buckets,
    // not 20k values
    assert(buf.counts.size < 700, s"buckets ${buf.counts.size}")
  }

  test("merge is exact: sketch(A) ++ sketch(B) == sketch(A ++ B)") {
    val a = (1 to 5000).map(i => ("a", (i % 997).toLong + 1))
    val b = (1 to 5000).map(i => ("b", (i % 1009).toLong * 7 + 3))
    (a ++ b).toDF("g", "v").createOrReplaceTempView("dd_m")
    // per-shard states re-aggregated with dd_merge...
    val merged = spark.sql(
      s"""WITH st AS (SELECT g, dd_sketch($alpha, v) AS sk FROM dd_m
         |  GROUP BY g)
         |SELECT dd_merge(sk) AS sk FROM st""".stripMargin)
      .collect().head.getAs[Array[Byte]](0)
    // ...equal the direct single-pass sketch, byte for byte
    val direct = spark.sql(
      s"SELECT dd_sketch($alpha, v) AS sk FROM dd_m")
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(merged, direct),
      "bucket-wise merge must lose nothing")
  }

  test("zero and negative values land in the zero bucket; q walks past it") {
    Seq(("g", -5L), ("g", 0L), ("g", 100L), ("g", 100L))
      .toDF("g", "v").createOrReplaceTempView("dd_z")
    val r = spark.sql(
      s"""SELECT dd_quantile(dd_sketch($alpha, v), 0.25D, $alpha) AS q25,
         |  dd_quantile(dd_sketch($alpha, v), 0.9D, $alpha) AS q90
         |FROM dd_z""".stripMargin).collect().head
    assert(r.getDouble(0) == 0.0)    // rank 1 of 4 → zero bucket
    val q90 = r.getDouble(1)
    assert(math.abs(q90 - 100.0) <= alpha * 100.0 * 1.0001, s"q90=$q90")
  }
}
