package graft.functions

import org.apache.spark.sql.Row

import graft.SparkSpec

/** Pins sum_map/min_map/max_map: scalar and array input shapes,
  * null-cell handling, merge across partitions, and the sorted
  * deterministic output order the d19 oracle depends on. */
class MapAggregatesSpec extends SparkSpec {

  import spark.implicits._

  private def entries(r: Row): Seq[(String, Long)] =
    r.getSeq[Row](0).map(e => (e.getString(0), e.getLong(1)))

  test("sum_map scalar form sums per key, sorted by key") {
    Seq(("b", 2L), ("a", 1L), ("b", 3L), ("a", 10L))
      .toDF("k", "v").createOrReplaceTempView("mm1")
    val r = sql("SELECT sum_map(k, v) FROM mm1").collect().head
    assert(entries(r) == Seq(("a", 11L), ("b", 5L)))
  }

  test("min_map and max_map keep the extreme per key") {
    Seq(("a", 5L), ("a", 2L), ("b", 7L))
      .toDF("k", "v").createOrReplaceTempView("mm2")
    assert(entries(sql("SELECT min_map(k, v) FROM mm2").collect().head)
      == Seq(("a", 2L), ("b", 7L)))
    assert(entries(sql("SELECT max_map(k, v) FROM mm2").collect().head)
      == Seq(("a", 5L), ("b", 7L)))
  }

  test("array form zips positionally, skips null cells, truncates") {
    Seq(
      (Seq("a", "b", "c"), Seq(Some(1L), None, Some(3L))),
      (Seq("a"), Seq(Some(10L), Some(99L))) // extra value ignored
    ).toDF("ks", "vs").createOrReplaceTempView("mm3")
    val r = sql("SELECT sum_map(ks, vs) FROM mm3").collect().head
    assert(entries(r) == Seq(("a", 11L), ("c", 3L)))
  }

  test("merge across many partitions equals single-partition result") {
    val rows = (1 to 1000).map(i => (s"k${i % 7}", i.toLong))
    val wide = rows.toDF("k", "v").repartition(16)
    wide.createOrReplaceTempView("mm4")
    val merged = entries(sql("SELECT sum_map(k, v) FROM mm4")
      .collect().head).toMap
    val expect = rows.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).sum }
    assert(merged == expect)
  }

  test("type mismatch fails analysis, not execution") {
    Seq((1, 2.0)).toDF("k", "v").createOrReplaceTempView("mm5")
    val e = intercept[Exception] {
      sql("SELECT sum_map(k, v) FROM mm5").collect()
    }
    assert(e.getMessage.contains("sum_map"))
  }
}
