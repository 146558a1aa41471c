package graft.core

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import graft.SparkSpec
import graft.operators.{ContainmentIndex, Dedup, IvfIndex, IvfPqIndex,
  LshIndex, PostingsIndex}
import org.apache.spark.sql.DataFrame

/** The one index layout record: the five persisted indexes keep their
  * meta file names and bytes, read roots written by hand in those bytes,
  * and refuse a frozen root under other values. The guard keeps meta
  * parsing and the batch-horizon read out of the operators. */
class IndexMetaSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_meta").toString + "/idx"

  /** (file, bytes) of each index's meta as the indexes have written it. */
  private val Lsh = ("_lsh_index_meta.json", """{"numBuckets":16}""")
  private val Cont =
    ("_containment_index_meta.json", """{"numBuckets":2048,"shingleN":4}""")
  private val Post = ("_postings_meta.json", """{"parts":8}""")
  private val Ivf = ("_ivf_index_meta.json", """{"nlist":4}""")
  private val IvfPq = ("_ivfpq_index_meta.json",
    """{"nlist":4,"m":2,"ksub":8,"dim":8}""")

  private def put(root: String, meta: (String, String)): Unit = {
    Files.createDirectories(Paths.get(root))
    Files.write(Paths.get(root, meta._1), meta._2.getBytes(UTF_8))
  }

  private def bytes(root: String, file: String): String =
    new String(Files.readAllBytes(Paths.get(root, file)), UTF_8)

  private def docs: DataFrame = {
    import spark.implicits._
    (0L until 20L).map(i => (i, s"document $i about topic ${i % 3} alpha beta"))
      .toDF("doc_id", "text")
  }

  private def vectors: DataFrame = {
    import spark.implicits._
    (0L until 40L).map { i =>
      val a = Array.fill(8)(0.05f + (i % 3) * 0.01f)
      a((i % 8).toInt) = 1.0f
      a(((i / 8) % 8).toInt) += 0.2f
      (i, a)
    }.toDF("vec_id", "embedding")
  }

  test("hand-written meta bytes read back through the index accessors") {
    val roots = Seq.fill(5)(tmp())
    Seq(Lsh, Cont, Post, Ivf, IvfPq).zip(roots).foreach { case (m, r) => put(r, m) }
    assert(LshIndex.readNumBuckets(spark, roots(0)) == 16)
    assert(ContainmentIndex.readMeta(spark, roots(1)) == ((2048, 4)))
    assert(PostingsIndex.readParts(spark, roots(2)) == 8)
    assert(IvfIndex.readNlist(spark, roots(3)) == 4)
    assert(IvfPqIndex.readMeta(spark, roots(4)) == ((4, 2, 8, 8)))
    // a missing key names the file; a missing file still throws
    val torn = tmp()
    put(torn, (IvfPq._1, Ivf._2))
    val e = intercept[RuntimeException](IvfPqIndex.readMeta(spark, torn))
    assert(e.getMessage.contains(IvfPq._1) && e.getMessage.contains("\"m\""))
    intercept[java.io.FileNotFoundException](IvfIndex.readNlist(spark, tmp()))
  }

  test("fresh builds and appends write those bytes") {
    val roots = Seq.fill(5)(tmp())
    LshIndex.append(Dedup.buildIndex(docs, "text", "doc_id"), roots(0), 0L,
      numBuckets = 16)
    ContainmentIndex.append(docs, "text", "doc_id", roots(1), 0L)
    PostingsIndex.build(docs, roots(2), parts = 8)
    IvfIndex.build(vectors, roots(3), nlist = 4)
    IvfPqIndex.build(vectors, roots(4), nlist = 4, m = 2, ksub = 8, dim = 8)
    Seq(Lsh, Cont, Post, Ivf, IvfPq).zip(roots).foreach { case ((f, b), r) =>
      assert(bytes(r, f) == b, f)
    }
  }

  test("a freeze under other values is refused, naming both") {
    val root = tmp()
    val meta = IndexMeta("_m.json")
    meta.freeze(spark, root, "nlist" -> 4, "dim" -> 8)
    meta.freeze(spark, root, "nlist" -> 4, "dim" -> 8) // same values: no-op
    val e = intercept[IllegalArgumentException] {
      meta.freeze(spark, root, "nlist" -> 4, "dim" -> 16)
    }
    assert(e.getMessage.contains(root))
    assert(e.getMessage.contains("nlist=4/dim=8"))
    assert(e.getMessage.contains("nlist=4/dim=16"))
    // through an index: the stored shingle size wins over the requested one
    val cont = tmp()
    put(cont, Cont)
    val c = intercept[IllegalArgumentException] {
      ContainmentIndex.append(docs, "text", "doc_id", cont, 0L, shingleN = 5)
    }
    assert(c.getMessage.contains("numBuckets=2048/shingleN=4"))
    assert(c.getMessage.contains("numBuckets=2048/shingleN=5"))
    assert(bytes(cont, Cont._1) == Cont._2)
  }

  test("only core parses index meta and reads the batch horizon") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    def hits(needle: String, in: Seq[java.io.File]): Seq[String] =
      in.filter(f => new String(Files.readAllBytes(f.toPath), UTF_8)
        .contains(needle)).map(_.getPath)
    val all = files(root)
    assert(hits("findFirstMatchIn",
      all.filter(_.getPath.contains("/graft/operators/"))).isEmpty)
    assert(hits("col(BatchCol) >=", all) ==
      Seq(new java.io.File(root, "graft/core/BatchSink.scala").getPath))
  }
}
