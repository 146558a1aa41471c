package graft.core

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash injection for the staged-swap lifecycle: the swap protocol is
  * write-staged → rename live→bak → rename staged→live → delete bak.
  * A crash is just disk state, so each test EXECUTES the protocol
  * prefix up to an interruption point with the same FileSystem calls
  * PartitionedWriter.swap makes, then asserts the next
  * lifecycle entry's heal converges to exactly one copy — and that a
  * legitimate partition drop between crash and heal STAYS dropped
  * (the GDPR/TTL resurrection window). */
class StagedSwapCrashSpec extends SparkSpec {
  import spark.implicits._

  private def fs(root: String) = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** 2 date partitions, 4 rows each; returns (root, partition name). */
  private def freshTable(): (String, String) = {
    val root = Files.createTempDirectory("swap_crash_").toString + "/t"
    val rows = for (d <- 1 to 2; i <- 0 until 4)
      yield (d * 10L + i, d.toLong,
        java.sql.Timestamp.valueOf(s"2024-02-0$d 0$i:00:00"))
    PartitionedWriter.append(
      rows.toDF("event_id", "user_id", "ts"), root, "ts", Seq("event_id"))
    (root, "event_date=2024-02-01")
  }

  private def rowsOf(root: String): Set[Long] =
    spark.read.parquet(root).select("event_id").as[Long].collect().toSet

  /** Execute the swap protocol over `part` up to `stopAfter` renames
    * (1 = crashed between the two renames; 2 = crashed between swap
    * and bak delete). The staged content is the live rows re-written
    * with event_id + 1000 so old/new copies are distinguishable. */
  private def crashMidSwap(root: String, stagingSfx: String, part: String,
      stopAfter: Int): Unit = {
    val f = fs(root)
    val staging = new Path(root + stagingSfx)
    f.mkdirs(staging)
    val live = new Path(root, part)
    val tmp = new Path(staging, part + ".tmp")
    val bak = new Path(staging, part + ".bak")
    spark.read.parquet(live.toString)
      .withColumn("event_id", col("event_id") + 1000L)
      .write.parquet(tmp.toString)
    assert(f.rename(live, bak), "protocol step 1: live -> bak")
    if (stopAfter >= 2)
      assert(f.rename(tmp, live), "protocol step 2: staged -> live")
  }

  test("trailing-slash table path heals the same staging dirs (normalized derivation)") {
    val (root, part) = freshTable()
    val before = rowsOf(root)
    crashMidSwap(root, "__compact", part, stopAfter = 1)
    // lifecycle entry addressed with a NON-normal path must still find
    // and heal the bak the normalized-path writer left behind
    PartitionedWriter.compactPartitions(spark, root + "/", minFiles = 99)
    assert(rowsOf(root) == before,
      "heal must converge regardless of path normal form")
  }

  test("only core/PartitionedWriter.scala renames or names a staging dir") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val owner = new java.io.File(root, "graft/core/PartitionedWriter.scala")
    val needles = Seq(".rename(", "\"__compact\"", "\"__purge\"", "\"__merge\"")
    val hits = for {
      f <- files(root) if f.getCanonicalPath != owner.getCanonicalPath
      (line, i) <- Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      n <- needles if line.contains(n)
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: $n"
    assert(hits.isEmpty, hits.mkString("\n"))
    val own = Files.readString(owner.toPath)
    needles.foreach(n => assert(own.contains(n), s"$n left PartitionedWriter"))
  }

  for (sfx <- Seq("__compact", "__purge", "__merge")) {

    test(s"crash between the renames ($sfx): heal restores the old copy, exactly once") {
      val (root, part) = freshTable()
      val before = rowsOf(root)
      crashMidSwap(root, sfx, part, stopAfter = 1)
      // reader view mid-crash: the partition is missing
      assert(rowsOf(root) == Set(20L, 21L, 22L, 23L))
      // any lifecycle entry heals (compact here; minFiles high = no-op
      // beyond the heal)
      PartitionedWriter.compactPartitions(spark, root, minFiles = 99)
      assert(rowsOf(root) == before, "heal must restore the bak")
      assert(!fs(root).exists(new Path(root + sfx, part + ".bak")),
        "restored bak must not linger")
    }

    test(s"crash between swap and bak delete ($sfx): heal drops the stale bak, new copy wins") {
      val (root, part) = freshTable()
      crashMidSwap(root, sfx, part, stopAfter = 2)
      PartitionedWriter.compactPartitions(spark, root, minFiles = 99)
      assert(rowsOf(root) == Set(1010L, 1011L, 1012L, 1013L, 20L, 21L, 22L, 23L),
        "the completed swap's content must survive the heal")
      assert(!fs(root).exists(new Path(root + sfx, part + ".bak")),
        "stale bak must be deleted, not restored")
    }

    test(s"purge between crash ($sfx) and heal: purged partition stays purged") {
      val (root, part) = freshTable()
      crashMidSwap(root, sfx, part, stopAfter = 2)
      // legitimate GDPR purge drops EVERY row of the crashed partition
      val stats = PartitionedWriter.purgeKeys(spark, root, "user_id",
        Seq(1L).toDF("user_id"))
      assert(stats.map(_.partition) == Seq(part))
      assert(rowsOf(root) == Set(20L, 21L, 22L, 23L))
      // a later compact's heal must NOT resurrect the purged rows from
      // the other lifecycle's stale bak
      PartitionedWriter.compactPartitions(spark, root, minFiles = 99)
      assert(rowsOf(root) == Set(20L, 21L, 22L, 23L),
        s"purged rows resurrected from stale $sfx bak")
    }

    test(s"append after a mid-rename crash ($sfx) heals first — pre-crash rows survive") {
      // the resurrection-window dual: an append into the crashed
      // partition would RECREATE the live dir, and the next heal would
      // then treat the bak as stale and delete it, permanently
      // dropping the pre-crash copy. append must heal FIRST.
      val (root, part) = freshTable()
      val before = rowsOf(root)
      crashMidSwap(root, sfx, part, stopAfter = 1)
      PartitionedWriter.append(
        Seq((9000L, 9L, java.sql.Timestamp.valueOf("2024-02-01 09:00:00")))
          .toDF("event_id", "user_id", "ts"), root, "ts", Seq("event_id"))
      assert(rowsOf(root) == before + 9000L,
        "append must heal the bak back to live, then add its rows")
      // and a later lifecycle pass finds nothing left to (mis)heal
      PartitionedWriter.compactPartitions(spark, root, minFiles = 99)
      assert(rowsOf(root) == before + 9000L)
      // appendIfAbsent takes the same heal-first path
      val (root2, part2) = freshTable()
      val before2 = rowsOf(root2)
      crashMidSwap(root2, sfx, part2, stopAfter = 1)
      val n = PartitionedWriter.appendIfAbsent(
        Seq((9001L, 9L, java.sql.Timestamp.valueOf("2024-02-01 09:00:00")))
          .toDF("event_id", "user_id", "ts"), root2, "ts", Seq("event_id"))
      assert(n == 1L)
      assert(rowsOf(root2) == before2 + 9001L,
        "appendIfAbsent must heal before its existence anti-join")
    }

    test(s"TTL expiry between crash ($sfx) and heal: expired partition stays expired") {
      val (root, part) = freshTable()
      crashMidSwap(root, sfx, part, stopAfter = 2)
      val stats = PartitionedWriter.expirePartitions(spark, root,
        java.time.LocalDate.parse("2024-02-02"))
      assert(stats.map(_.partition) == Seq(part))
      assert(rowsOf(root) == Set(20L, 21L, 22L, 23L))
      PartitionedWriter.compactPartitions(spark, root, minFiles = 99)
      assert(rowsOf(root) == Set(20L, 21L, 22L, 23L),
        s"expired rows resurrected from stale $sfx bak")
    }
  }
}
