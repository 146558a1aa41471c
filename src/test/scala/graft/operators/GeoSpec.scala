package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Geo surface: geohash against the algorithm's published test
  * vector, haversine against a hand-checked city pair, ray-cast
  * membership on points with known sidedness. */
class GeoSpec extends SparkSpec {
  import spark.implicits._

  test("geohash matches the published test vector and is a stable key") {
    // the canonical example from the geohash spec: (42.605, -5.603)
    // encodes to ezs42 at precision 5
    assert(graft.functions.GeoOps.geohash(42.605, -5.603, 5)
      .toString == "ezs42")
    // the geohash.org reference vector: (57.64911, 10.40744) →
    // u4pruydqqvj at precision 11
    assert(graft.functions.GeoOps.geohash(57.64911, 10.40744, 11)
      .toString == "u4pruydqqvj")
    // prefix property: precision-2 is the prefix of precision-5
    assert(graft.functions.GeoOps.geohash(42.605, -5.603, 2)
      .toString == "ez")
    // through the SQL surface + codegen path
    Seq((42.605, -5.603), (48.8566, 2.3522)).toDF("lat", "lon")
      .createOrReplaceTempView("geo_pts")
    val cells = spark.sql(
      "SELECT geohash_encode(lat, lon, 5) AS c FROM geo_pts ORDER BY c")
      .as[String].collect().toSeq
    assert(cells.head == "ezs42")
    assert(cells(1).startsWith("u09t")) // central Paris
  }

  test("great-circle distance: Zurich to Paris ~ 488 km") {
    val d = Seq((47.3769, 8.5417)).toDF("lat", "lon")
      .select(Geo.greatCircleDistance(col("lat"), col("lon"),
        lit(48.8566), lit(2.3522)).as("d"))
      .as[Double].collect().head
    assert(d > 475000 && d < 500000, s"got $d")
    // zero distance to itself
    val z = Seq((47.3769, 8.5417)).toDF("lat", "lon")
      .select(Geo.greatCircleDistance(col("lat"), col("lon"),
        lit(47.3769), lit(8.5417)).as("d"))
      .as[Double].collect().head
    assert(z == 0.0)
  }

  test("pointInPolygon: known-inside and known-outside points") {
    val ring = Seq((0.0, 0.0), (40.0, 10.0), (50.0, 45.0),
      (10.0, 60.0), (-20.0, 30.0))
    val pts = Seq(
      (15.0, 30.0, true),   // deep interior
      (100.0, 30.0, false), // far east
      (15.0, -10.0, false), // south of every edge
      (-30.0, 30.0, false), // west of the west vertex
      (15.0, 59.5, false),  // above the northern edges (x-range ~9.5..11.3)
      (10.5, 59.5, true),   // same latitude, inside the narrow cap
      (38.0, 12.0, true))   // near the eastern vertex, inside
    val got = pts.map(p => (p._1, p._2)).toDF("x", "y")
      .withColumn("inside", Geo.pointInPolygon(col("x"), col("y"), ring))
      .select("x", "y", "inside").as[(Double, Double, Boolean)]
      .collect().map(r => (r._1, r._2) -> r._3).toMap
    pts.foreach { case (x, y, want) =>
      assert(got((x, y)) == want, s"($x,$y) want=$want")
    }
    // horizontal edge is refused at plan time, not at runtime
    intercept[IllegalArgumentException] {
      Geo.pointInPolygon(col("x"), col("y"),
        Seq((0.0, 0.0), (10.0, 0.0), (5.0, 5.0)))
    }
  }
}
