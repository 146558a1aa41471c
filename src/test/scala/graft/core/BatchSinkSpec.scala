package graft.core

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one micro-batch sink: a replayed batch id rewrites its own
  * partition in place, distinct ids accumulate, sub-partitions nest
  * under the batch directory, and the write-level overwrite option —
  * not the session conf — carries that contract. The guard test keeps
  * the batch layout owned by [[BatchSink]] alone. */
class BatchSinkSpec extends SparkSpec {

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"

  /** `n` rows (k, v) with v tagging the batch they came from. */
  private def batch(s: SparkSession, n: Int, tag: String): DataFrame =
    s.range(n).select(col("id").as("k"), lit(tag).as("v"))

  private def stored(path: String): Seq[(Long, Long, String)] =
    spark.read.parquet(path)
      // partition discovery types small ids as int
      .select(col(BatchSink.BatchCol).cast("long"), col("k"), col("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toSeq.sorted

  test("writing batch 3 twice leaves its rows once") {
    val path = tmp()
    BatchSink.write(batch(spark, 2, "a"), 3L, path)
    BatchSink.write(batch(spark, 2, "a"), 3L, path)
    assert(stored(path) == Seq((3L, 0L, "a"), (3L, 1L, "a")))
  }

  test("batches 3 and 4 accumulate; a replay of 3 leaves 4 alone") {
    val path = tmp()
    BatchSink.write(batch(spark, 2, "a"), 3L, path)
    BatchSink.write(batch(spark, 1, "b"), 4L, path)
    assert(stored(path) ==
      Seq((3L, 0L, "a"), (3L, 1L, "a"), (4L, 0L, "b")))
    // a replay that produces a different frame still replaces only 3
    BatchSink.write(batch(spark, 1, "c"), 3L, path)
    assert(stored(path) == Seq((3L, 0L, "c"), (4L, 0L, "b")))
  }

  test("a sub-partition column nests under __batch_id=") {
    val path = tmp()
    BatchSink.write(batch(spark, 4, "a").withColumn("g", col("k") % 2),
      3L, path, "g")
    val batchDirs = new java.io.File(path).list()
      .filter(_.contains("=")).toSeq
    assert(batchDirs == Seq(s"${BatchSink.BatchCol}=3"))
    assert(new java.io.File(s"$path/${BatchSink.BatchCol}=3").list()
      .filter(_.contains("=")).sorted.toSeq == Seq("g=0", "g=1"))
    assert(stored(path).map(_._2) == Seq(0L, 1L, 2L, 3L))
  }

  test("replay rewrites in place on a static-overwrite session") {
    val static = spark.newSession()
    static.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    val path = tmp()
    BatchSink.write(batch(static, 2, "a"), 3L, path)
    BatchSink.write(batch(static, 1, "b"), 4L, path)
    BatchSink.write(batch(static, 2, "a"), 3L, path)
    // static mode would have truncated the table to batch 3 alone
    assert(stored(path) ==
      Seq((3L, 0L, "a"), (3L, 1L, "a"), (4L, 0L, "b")))
  }

  test("only core/BatchSink.scala names the batch layout") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val owner = new java.io.File(root, "graft/core/BatchSink.scala")
    val needles = Seq("\"__batch_id\"", "\"partitionOverwriteMode\"",
      ".foreachBatch")
    val hits = for {
      f <- files(root) if f.getCanonicalPath != owner.getCanonicalPath
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      n <- needles if line.contains(n)
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $n"
    assert(hits.isEmpty, hits.mkString("\n"))
    val own = java.nio.file.Files.readString(owner.toPath)
    needles.foreach(n => assert(own.contains(n), s"$n left BatchSink"))
  }
}
