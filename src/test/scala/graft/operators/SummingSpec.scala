package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** SummingMergeTree semantics: blind partial appends, reader-side
  * folding, and a background merge that shrinks storage without
  * changing a single answer. */
class SummingSpec extends SparkSpec {
  import spark.implicits._

  private def partials(rows: Seq[(Long, String, Long)]) =
    rows.map { case (k, day, n) =>
      (k, java.sql.Timestamp.valueOf(s"2024-01-0$day 00:00:00"), n)
    }.toDF("key", "day_ts", "n")

  test("view sums overlapping partial appends exactly") {
    val root = Files.createTempDirectory("summing_").toString + "/t"
    Summing.appendPartials(
      partials(Seq((1L, "1", 3L), (2L, "1", 5L), (1L, "2", 7L))),
      root, "day_ts")
    Summing.appendPartials(
      partials(Seq((1L, "1", 4L), (2L, "2", 1L))), root, "day_ts")
    val got = Summing.summedView(spark.read.parquet(root)
        .withColumn("day", col("day_ts").cast("date").cast("string")),
        Seq("key", "day"), Seq("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(got == Set((1L, "2024-01-01", 7L), (2L, "2024-01-01", 5L),
      (1L, "2024-01-02", 7L), (2L, "2024-01-02", 1L)))
  }

  test("merge shrinks storage to one row per key-partition; answers identical") {
    val root = Files.createTempDirectory("summing_").toString + "/t"
    // three appends, all landing in the same two date partitions
    for (_ <- 1 to 3)
      Summing.appendPartials(
        partials(Seq((1L, "1", 1L), (2L, "1", 2L), (1L, "2", 10L))),
        root, "day_ts")
    def view = Summing.summedView(spark.read.parquet(root)
        .withColumn("day", col("day_ts").cast("date").cast("string")),
        Seq("key", "day"), Seq("n"))
      .as[(Long, String, Long)].collect().toSet
    val before = view
    val stats = Summing.merge(spark, root, Seq("key"), Seq("n"), "day_ts")
    assert(stats.map(s => (s.partition, s.rowsBefore, s.rowsAfter)).toSet ==
      Set(("event_date=2024-01-01", 6L, 2L), ("event_date=2024-01-02", 3L, 1L)))
    assert(view == before, "merge must never change reader answers")
    assert(before == Set((1L, "2024-01-01", 3L), (2L, "2024-01-01", 6L),
      (1L, "2024-01-02", 30L)))
    // a second merge finds nothing foldable and rewrites nothing
    val again = Summing.merge(spark, root, Seq("key"), Seq("n"), "day_ts")
    assert(again.forall(s => s.rowsBefore == s.rowsAfter))
  }

  test("a scoped merge never opens partitions before sinceDate") {
    val root = Files.createTempDirectory("summing_").toString + "/t"
    for (_ <- 1 to 2)
      Summing.appendPartials(
        partials(Seq((1L, "1", 1L), (1L, "2", 5L))), root, "day_ts")
    val stats = Summing.merge(spark, root, Seq("key"), Seq("n"), "day_ts",
      sinceDate = Some(java.time.LocalDate.parse("2024-01-02")))
    assert(stats.map(_.partition) == Seq("event_date=2024-01-02"),
      s"out-of-scope day 1 must not even appear in receipts: $stats")
    // day 1 keeps its two partial rows; the view is unchanged
    assert(spark.read.parquet(s"$root/event_date=2024-01-01").count() == 2)
    val view = Summing.summedView(spark.read.parquet(root)
        .withColumn("day", col("day_ts").cast("date").cast("string")),
        Seq("key", "day"), Seq("n"))
      .as[(Long, String, Long)].collect().toSet
    assert(view == Set((1L, "2024-01-01", 2L), (1L, "2024-01-02", 10L)))
  }

  test("ttlRollup aggregates expired partitions; totals invariant; idempotent") {
    val root = Files.createTempDirectory("summing_ttl_").toString + "/t"
    // day 1 and 2 will expire (many rows per key), day 3 stays raw
    Summing.appendPartials(partials(Seq(
      (1L, "1", 3L), (1L, "1", 4L), (2L, "1", 5L),
      (1L, "2", 7L), (1L, "2", 1L),
      (1L, "3", 9L), (1L, "3", 2L))), root, "day_ts")
    val totalBefore = spark.read.parquet(root)
      .agg(sum("n")).as[Long].collect().head

    val stats = Summing.ttlRollup(spark, root,
      java.time.LocalDate.parse("2024-01-03"),
      rollupKeys = Seq("key"), measureCols = Seq("n"), tsCol = "day_ts")
    assert(stats.map(s => s.partition -> (s.rowsBefore, s.rowsAfter))
      .toMap == Map(
        "event_date=2024-01-01" -> ((3L, 2L)),
        "event_date=2024-01-02" -> ((2L, 1L))), stats.toString)

    val after = spark.read.parquet(root)
    // totals invariant, fresh partition untouched (still 2 raw rows)
    assert(after.agg(sum("n")).as[Long].collect().head == totalBefore)
    assert(after.filter(col("day_ts").cast("date") ===
      lit("2024-01-03")).count() == 2)
    // expired partitions: one row per (date, key)
    assert(after.filter(col("day_ts").cast("date") ===
      lit("2024-01-01")).count() == 2)

    // a second run finds nothing to shrink (already one row per key)
    val again = Summing.ttlRollup(spark, root,
      java.time.LocalDate.parse("2024-01-03"),
      rollupKeys = Seq("key"), measureCols = Seq("n"), tsCol = "day_ts")
    assert(again.forall(s => s.rowsBefore == s.rowsAfter), again.toString)
    assert(after.agg(sum("n")).as[Long].collect().head == totalBefore)
  }

  test("merge and ttlRollup heal another lifecycle's crash before they read") {
    import org.apache.hadoop.fs.Path
    val part = "event_date=2024-01-01"
    for (sfx <- Seq("__compact", "__purge"); rollup <- Seq(false, true)) {
      val root = Files.createTempDirectory("summing_heal_").toString + "/t"
      Summing.appendPartials(partials(Seq(
        (1L, "1", 3L), (1L, "1", 4L), (1L, "2", 5L))), root, "day_ts")
      // a crash between the swap's renames: day 1's live dir sits in
      // that lifecycle's staging dir as its bak
      val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val bak = new Path(root + sfx, part + ".bak")
      fs.mkdirs(bak.getParent)
      assert(fs.rename(new Path(root, part), bak))
      val stats =
        if (rollup) Summing.ttlRollup(spark, root,
          java.time.LocalDate.parse("2024-01-03"),
          rollupKeys = Seq("key"), measureCols = Seq("n"), tsCol = "day_ts")
        else Summing.merge(spark, root, Seq("key"), Seq("n"), "day_ts")
      val label = s"$sfx, ${if (rollup) "ttlRollup" else "merge"}"
      assert(stats.map(s => (s.partition, s.rowsBefore, s.rowsAfter))
        .contains((part, 2L, 1L)), s"$label: $stats")
      assert(spark.read.parquet(root).agg(sum("n")).as[Long].collect().head == 12L, label)
      assert(!fs.exists(bak), label)
    }
  }
}
