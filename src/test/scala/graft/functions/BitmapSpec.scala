package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact bitmap algebra: set-ops vs Scala's Set on pseudo-random data,
  * and the stored-state aggregates' grouping independence (shard →
  * or-merge == direct build), mirroring the HLL merge spec's contract
  * for the exact twin. */
class BitmapSpec extends SparkSpec {
  import spark.implicits._

  private val xs = (0 until 600).map(i => (i * 2654435761L) % 257)
  private val ys = (0 until 600).map(i => (i * 40503L + 11) % 263)

  test("set-ops match Set semantics on pseudo-random multisets") {
    (xs.map(("a", _)) ++ ys.map(("b", _)))
      .toDF("seg", "id").createOrReplaceTempView("bm_rows")
    val row = spark.sql(
      """WITH st AS (SELECT seg, bitmap_agg(id) AS bm FROM bm_rows
        |  GROUP BY seg),
        |a AS (SELECT bm FROM st WHERE seg = 'a'),
        |b AS (SELECT bm FROM st WHERE seg = 'b')
        |SELECT size(bitmap_and(a.bm, b.bm)) AS i,
        |  size(bitmap_or(a.bm, b.bm)) AS u,
        |  size(bitmap_andnot(a.bm, b.bm)) AS d,
        |  size(bitmap_xor(a.bm, b.bm)) AS x,
        |  bitmap_has_any(a.bm, b.bm) AS any,
        |  bitmap_has_all(a.bm, b.bm) AS all,
        |  bitmap_contains(a.bm, 0L) AS c0,
        |  bitmap_contains(a.bm, 99999L) AS c9,
        |  bitmap_and(a.bm, b.bm) AS ab
        |FROM a CROSS JOIN b""".stripMargin).collect().head
    val sa = xs.toSet
    val sb = ys.toSet
    assert(row.getInt(0) == (sa & sb).size)
    assert(row.getInt(1) == (sa | sb).size)
    assert(row.getInt(2) == (sa -- sb).size)
    assert(row.getInt(3) == ((sa -- sb) ++ (sb -- sa)).size)
    assert(row.getBoolean(4) == (sa & sb).nonEmpty)
    assert(row.getBoolean(5) == sb.subsetOf(sa))
    assert(row.getBoolean(6) == sa.contains(0L))
    assert(!row.getBoolean(7))
    // the materialized intersection is sorted-distinct
    val ab = row.getSeq[Long](8)
    assert(ab == ab.distinct.sorted && ab.toSet == (sa & sb))
  }

  test("or-merge of sharded states equals the direct build; and-agg exact") {
    xs.map(x => (x % 7, x)).toDF("shard", "id")
      .createOrReplaceTempView("bm_shards")
    val merged = spark.sql(
      """WITH st AS (SELECT shard, bitmap_agg(id) AS bm FROM bm_shards
        |  GROUP BY shard)
        |SELECT bitmap_or_agg(bm) AS bm, size(bitmap_and_agg(bm)) AS iall
        |FROM st""".stripMargin).collect().head
    assert(merged.getSeq[Long](0) == xs.distinct.sorted)
    // ids are partitioned by shard, so the all-shard intersection is empty
    assert(merged.getInt(1) == 0)

    // and-agg over OVERLAPPING states: users present in every group
    val both = (xs.map(("a", _)) ++ ys.map(("b", _)))
      .toDF("seg", "id")
    both.createOrReplaceTempView("bm_overlap")
    val inter = spark.sql(
      """WITH st AS (SELECT seg, bitmap_agg(id) AS bm FROM bm_overlap
        |  GROUP BY seg)
        |SELECT bitmap_and_agg(bm) AS bm FROM st""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(inter == (xs.toSet & ys.toSet).toSeq.sorted)
  }
}
