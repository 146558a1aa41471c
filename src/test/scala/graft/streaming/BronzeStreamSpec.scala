package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.ingest.Bronze

class BronzeStreamSpec extends SparkSpec with Eventually {

  private def wazuhLine(h: String, ts: String) =
    s"""{"event":{"hash":"$h","provider":"wazuh"},"@timestamp":"$ts","agent":{"name":"a1","ip":"10.0.0.1"},"rule":{"id":"1","level":2,"name":"r"},"tags":[],"message":"m"}"""
  private def suricataLine(h: String, ts: String) =
    s"""{"suricata":{"flow_id":1},"event":{"hash":"$h","provider":"suricata"},"@timestamp":"$ts","agent":{"name":"s1"},"rule":{"id":5,"name":"sig"}}"""
  private def zeekLine(h: String, ts: String) =
    s"""{"zeek":{"uid":"u$h","ts":"$ts","conn":{"orig_bytes":"12","duration":"0.5"}},"event":{"hash":"$h","provider":"zeek","category":["network"]},"@timestamp":"$ts","source":{"ip":"10.0.0.2","port":"5353"}}"""

  /** A drop directory holding one JSON-lines file with events of all
    * three sources, a broken line and a hash-less one, over two days. */
  private def dropOfAllSources(): (String, String) = {
    val base = Files.createTempDirectory("graft_fanout").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    val lines = (1 to 6).flatMap { i =>
      val ts = s"2026-01-0${7 + i % 2}T0$i:00:00.000Z"
      Seq(wazuhLine(s"w$i", ts), suricataLine(s"s$i", ts), zeekLine(s"z$i", ts))
    } ++ Seq("{broken json", wazuhLine("", "2026-01-08T01:00:02.000Z"))
    Files.writeString(Paths.get(s"$in/batch.jsonl"), lines.mkString("\n"))
    (base, in)
  }

  private def runOnce(base: String, in: String): StreamingQuery = {
    val q = BronzeStream.start(BronzeStream.fileSource(spark, in), s"$base/wh",
      s"$base/ckpt", Trigger.AvailableNow())
    q.awaitTermination(120000)
    q
  }

  test("each bronze table holds exactly its source's projection of the batch") {
    val (base, in) = dropOfAllSources()
    runOnce(base, in)
    val raw = spark.read.text(in).toDF(Bronze.Raw)
    for (src <- Bronze.Sources) {
      val expected = Bronze.projection(src, raw)
      val landed = spark.read.parquet(s"$base/wh/bronze_$src")
        .select(expected.columns.map(col).toIndexedSeq: _*)
      assert(landed.schema.map(f => f.name -> f.dataType) ==
        expected.schema.map(f => f.name -> f.dataType), src)
      assert(landed.count() == 6, src)
      assert(landed.exceptAll(expected).isEmpty && expected.exceptAll(landed).isEmpty, src)
    }
  }

  test("a failing bronze write lets the other sources land and fails the batch") {
    val (base, in) = dropOfAllSources()
    // a plain file where the first source's table directory belongs
    new java.io.File(s"$base/wh").mkdirs()
    Files.writeString(Paths.get(s"$base/wh/bronze_suricata"), "not a table")
    val e = intercept[StreamingQueryException](runOnce(base, in))
    assert(e.getMessage.contains("bronze_suricata"), e.getMessage)
    for (src <- Seq("wazuh", "zeek"))
      assert(spark.read.parquet(s"$base/wh/bronze_$src").count() == 6, src)
  }

  test("every Spark job of a bronze batch carries the stream's job group") {
    val (base, in) = dropOfAllSources()
    val groups = new ConcurrentLinkedQueue[String]() // in delivery order
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    val sc = spark.sparkContext
    // one marker job before and one after the stream: listener events
    // arrive in order, so the jobs in between are the stream's
    def marker(group: String): Unit = {
      sc.setJobGroup(group, "BronzeStreamSpec")
      try spark.range(1).count() finally sc.clearJobGroup()
      eventually(timeout(Span(30, Seconds)))(assert(groups.contains(group)))
    }
    sc.addSparkListener(listener)
    val q = try {
      marker("bronze-spec-before")
      val q = runOnce(base, in)
      marker("bronze-spec-after")
      q
    } finally sc.removeSparkListener(listener)
    val seen = groups.asScala.toSeq
    // a marker's count may run more than one job
    val batch = seen.slice(seen.lastIndexOf("bronze-spec-before") + 1, seen.indexOf("bronze-spec-after"))
    // per source at least the emptiness probe and the write
    assert(batch.size >= 2 * Bronze.Sources.size, batch)
    assert(batch.toSet == Set(q.runId.toString), batch)
  }

  test("file-source stream routes micro-batches into bronze tables") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()

    def wazuh(h: String, ts: String) =
      s"""{"event":{"hash":"$h","provider":"wazuh"},"@timestamp":"$ts","agent":{"name":"a1","ip":"10.0.0.1"},"rule":{"id":"1","level":2,"name":"r"},"tags":[],"message":"m"}"""
    def suri(h: String, ts: String) =
      s"""{"suricata":{"flow_id":1},"event":{"hash":"$h","provider":"suricata"},"@timestamp":"$ts","agent":{"name":"s1"},"rule":{"id":5,"name":"sig"}}"""

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch1.jsonl"),
      Seq(wazuh("w1", "2026-01-08T01:00:00.000Z"),
        suri("s1", "2026-01-08T01:00:01.000Z"),
        "{broken json", wazuh("", "2026-01-08T01:00:02.000Z")).mkString("\n"))

    val q = BronzeStream.start(
      BronzeStream.fileSource(spark, in), s"$base/wh", s"$base/ckpt",
      Trigger.AvailableNow())
    q.awaitTermination(120000)

    val wz = spark.read.parquet(s"$base/wh/bronze_wazuh")
    val su = spark.read.parquet(s"$base/wh/bronze_suricata")
    assert(wz.count() == 1) // broken + hash-less rows dropped
    assert(su.count() == 1)
    assert(wz.collect().head.getAs[String]("event_id") == "w1")

    // second drop: one duplicate + one new event -> stream appends both
    // (bronze is at-least-once; dedupe is downstream)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/batch2.jsonl"),
      Seq(wazuh("w1", "2026-01-08T01:00:00.000Z"),
        wazuh("w2", "2026-01-08T02:00:00.000Z")).mkString("\n"))
    val q2 = BronzeStream.start(
      BronzeStream.fileSource(spark, in), s"$base/wh", s"$base/ckpt",
      Trigger.AvailableNow())
    q2.awaitTermination(120000)
    assert(spark.read.parquet(s"$base/wh/bronze_wazuh").count() == 3)
    // checkpoint prevented re-reading batch1
    assert(spark.read.parquet(s"$base/wh/bronze_suricata").count() == 1)
  }

  test("windowed rollup emits each closed window once with late data folded in") {
    val base = java.nio.file.Files.createTempDirectory("graft_roll").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    def wazuh(h: String, ts: String) =
      s"""{"event":{"hash":"$h","provider":"wazuh"},"@timestamp":"$ts","agent":{"name":"a1","ip":"10.0.0.1"},"rule":{"id":"1","level":2,"name":"r"},"tags":[],"message":"m"}"""

    def run(): Unit = {
      val typed = graft.ingest.Bronze.wazuh(BronzeStream.fileSource(spark, in))
      val q = BronzeStream.windowedRollup(typed, Seq("agent_name"),
          lateness = "1 minute")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .format("parquet").option("path", s"$base/out")
        .outputMode("append")
        .start()
      q.awaitTermination(120000)
    }

    // run 1: 3 events in window [01:00,01:05); watermark settles at
    // 01:03 (max 01:04 - 1 min lateness) so the window stays OPEN.
    // run 2: an out-of-order event at 01:03:30 (behind max event time
    // but ahead of the watermark -> folded into the open window), one
    // event in [01:05,01:10), and a far-future sentinel whose watermark
    // closes everything.
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.jsonl"),
      Seq(wazuh("e1", "2026-01-08T01:00:10.000Z"),
        wazuh("e2", "2026-01-08T01:01:00.000Z"),
        wazuh("e3", "2026-01-08T01:04:00.000Z")).mkString("\n"))
    run()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b.jsonl"),
      Seq(wazuh("late", "2026-01-08T01:03:30.000Z"),
        wazuh("e5", "2026-01-08T01:06:00.000Z"),
        wazuh("sentinel", "2026-01-08T09:00:00.000Z")).mkString("\n"))
    run()

    val out = spark.read.parquet(s"$base/out")
      .filter(col("window_start") < to_timestamp(lit("2026-01-08 02:00:00")))
      .select(col("window_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(
      ("2026-01-08 01:00:00", 4L), // e1-e3 + the late event, emitted once
      ("2026-01-08 01:05:00", 1L)))
  }

  test("continuous near-dup detection finds cross-batch duplicates incrementally") {
    val base = java.nio.file.Files.createTempDirectory("graft_dstream").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    import spark.implicits._

    def run(): Unit = {
      val docs = spark.readStream.format("text").load(in)
        .select(split(col("value"), "\\|").as("f"))
        .select(col("f").getItem(0).cast("long").as("doc_id"),
          col("f").getItem(1).as("text"))
      val q = DedupStream.start(docs, "text", "doc_id",
        s"$base/index", s"$base/pairs", s"$base/ckpt", threshold = 0.5,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      q.awaitTermination(120000)
    }

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.txt"),
      Seq("1|the quick brown fox jumps over the lazy dog near the river",
        "2|completely different content about distributed query engines")
        .mkString("\n"))
    run()
    // second batch: near-dup of doc 1 + a self-contained dup pair
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/b.txt"),
      Seq("3|the quick brown fox jumps over the lazy dog near the creek",
        "4|some fresh unique text body here",
        "5|some fresh unique text body here")
        .mkString("\n"))
    run()

    val pairs = spark.read.parquet(s"$base/pairs")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((3L, 1L)) || pairs.contains((1L, 3L))) // cross-batch
    assert(pairs.contains((4L, 5L))) // within-batch
    assert(!pairs.exists(p => Set(p._1, p._2) == Set(1L, 2L))) // non-dups silent
    // index accumulated every batch exactly once (grams = 1 row/doc)
    assert(spark.read.parquet(s"$base/index/grams").count() == 5)
  }

  test("dedup stream batch replay is idempotent (at-least-once foreachBatch)") {
    val base = java.nio.file.Files.createTempDirectory("graft_dreplay").toString
    import spark.implicits._
    val b0 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "completely different content about distributed query engines"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (3L, "the quick brown fox jumps over the lazy dog near the creek"),
      (4L, "some fresh unique text body here"),
      (5L, "some fresh unique text body here")).toDF("doc_id", "text")

    def pairs() = spark.read.parquet(s"$base/pairs")
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    DedupStream.processBatch(b0, 0L, "text", "doc_id",
      s"$base/index", s"$base/pairs", threshold = 0.5)
    DedupStream.processBatch(b1, 1L, "text", "doc_id",
      s"$base/index", s"$base/pairs", threshold = 0.5)
    val firstPairs = pairs()
    assert(spark.read.parquet(s"$base/index/grams").count() == 5)

    // a crash between sink writes and checkpoint commit replays the
    // SAME batch id: the index must not grow, pairs must not duplicate
    DedupStream.processBatch(b1, 1L, "text", "doc_id",
      s"$base/index", s"$base/pairs", threshold = 0.5)
    assert(spark.read.parquet(s"$base/index/grams").count() == 5)
    assert(spark.read.parquet(s"$base/index/grams")
      .select("__id").distinct().count() == 5)
    assert(pairs() == firstPairs)
    assert(!pairs().exists(p => p._1 == p._2)) // no self-pairs from replay
  }

  test("streaming dedupe drops redelivered events inside the watermark") {
    val base = java.nio.file.Files.createTempDirectory("graft_sdedup").toString
    val in = s"$base/in"
    new java.io.File(in).mkdirs()
    def wazuh(h: String, ts: String) =
      s"""{"event":{"hash":"$h","provider":"wazuh"},"@timestamp":"$ts","agent":{"name":"a1","ip":"10.0.0.1"},"rule":{"id":"1","level":2,"name":"r"},"tags":[],"message":"m"}"""
    // same (event_id, event_ts) delivered twice in one stream + one distinct
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$in/a.jsonl"),
      Seq(wazuh("d1", "2026-01-08T01:00:00.000Z"),
        wazuh("d1", "2026-01-08T01:00:00.000Z"),
        wazuh("d2", "2026-01-08T01:00:30.000Z")).mkString("\n"))
    val raw = BronzeStream.fileSource(spark, in)
    val typed = graft.ingest.Bronze.wazuh(raw)
    val deduped = BronzeStream.withStreamingDedupe(typed)
    val q = deduped.writeStream
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .format("parquet").option("path", s"$base/out")
      .start()
    q.awaitTermination(120000)
    val out = spark.read.parquet(s"$base/out")
    assert(out.count() == 2)
    assert(out.select("event_id").collect().map(_.getString(0)).sorted
      .toSeq == Seq("d1", "d2"))
  }
}
