package graft.operators

import graft.SparkSpec

/** [[Dedup.bucketPairs]], the one capped bucket self-join behind every
  * near-dup operator, on hand-built rows: the cap boundary (all pairs
  * at `cap`, star edges past it), payload orientation, id order and
  * per-bucket repetition. A source guard keeps the hot census and the
  * Hamming distance check written once. */
class BucketPairsSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 4

  /** (id_a, id_b, a_p, b_p) rows of bucketPairs over (id, b, bh) rows
    * whose payload is `p<id>`. Ids are listed out of order so the hub
    * payload has to come from the min id, not the first row. */
  private def pairs(members: Seq[(Long, Int, Long)]): Seq[(Long, Long, String, String)] = {
    val rows = members.map { case (id, b, bh) => (id, b, bh, s"p$id") }
      .toDF("__id", "__b", "__bh", "p").cache()
    try {
      Dedup.bucketPairs(rows, Seq("__b", "__bh"), Seq("p"), Cap)
        .select("id_a", "id_b", "a_p", "b_p")
        .as[(Long, Long, String, String)].collect().toSeq
    } finally { rows.unpersist(); () }
  }

  private def bucket(b: Int, bh: Long, ids: Long*) = ids.map(i => (i, b, bh))

  private val atCap = bucket(0, 7L, 13, 11, 12, 10)           // cap members
  private val overCap = bucket(0, 8L, 24, 22, 20, 23, 21)     // cap + 1
  private val twoBuckets = bucket(1, 7L, 31, 30) ++ bucket(2, 7L, 30, 31)

  private lazy val got = pairs(atCap ++ overCap ++ twoBuckets)

  test("a bucket of exactly cap members gives all C(cap, 2) pairs") {
    val ids = (10L to 13L)
    val want = for (a <- ids; b <- ids if a < b) yield (a, b)
    assert(got.map(p => (p._1, p._2)).filter(_._1 < 20).sorted == want.sorted)
  }

  test("a bucket of cap + 1 members gives cap star edges from its min id") {
    assert(got.map(p => (p._1, p._2)).filter(_._1 >= 20).filter(_._1 < 30).sorted ==
      (21L to 24L).map(b => (20L, b)))
  }

  test("payload orientation: a_ is id_a's row in cold pairs, the hub's in star pairs") {
    val cold = got.filter(p => p._1 < 20 || p._1 >= 30)
    assert(cold.nonEmpty)
    assert(cold.forall(p => p._3 == s"p${p._1}" && p._4 == s"p${p._2}"), cold)
    val star = got.filter(p => p._1 >= 20 && p._1 < 30)
    assert(star.nonEmpty)
    assert(star.forall(p => p._3 == "p20" && p._4 == s"p${p._2}"), star)
  }

  test("id_a < id_b in every row") {
    assert(got.nonEmpty)
    assert(got.forall(p => p._1 < p._2), got)
  }

  test("a pair sharing two cold buckets appears once per bucket") {
    assert(got.filter(_._1 == 30L) == Seq.fill(2)((30L, 31L, "p30", "p31")))
    assert(got.size == 6 + 4 + 2)
  }

  test("src/main writes the hot census twice and the distance check once") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val Def = """.*\bdef (\w+).*""".r
    // (file, enclosing def, line) of every line holding the needle
    def hits(needle: String): Seq[(String, String, Int)] = for {
      f <- files(root)
      lines = java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq
      (line, i) <- lines.zipWithIndex if line.contains(needle)
    } yield {
      val owner = lines.take(i + 1).reverse.collectFirst { case Def(n) => n }
      (root.toPath.relativize(f.toPath).toString, owner.getOrElse("?"), i + 1)
    }
    val census = hits("""min(col("__id")).as("__min")""")
    assert(census.map(h => (h._1, h._2)).sorted == Seq(
      ("graft/operators/Dedup.scala", "bucketPairs"),
      ("graft/operators/Dedup.scala", "incrementalPairs")), census)
    val distance = hits("require(maxDistance <= 3")
    assert(distance.map(h => (h._1, h._2)) ==
      Seq(("graft/operators/Dedup.scala", "blockedHammingPairs")), distance)
  }
}
