package graft.core

import graft.SparkSpec
import graft.functions.IpNorm
import graft.operators.Replacing
import org.apache.spark.sql.functions._

class CoreSpec extends SparkSpec {

  test("IpNorm: IPv4, mapped IPv6, plain IPv6, garbage") {
    assert(IpNorm.normalize("192.168.1.2") == "::ffff:192.168.1.2")
    assert(IpNorm.normalize("::ffff:192.168.1.2") == "::ffff:192.168.1.2")
    assert(IpNorm.normalize("::FFFF:10.0.0.1") == "::ffff:10.0.0.1")
    assert(IpNorm.normalize("ff02::1:3") == "ff02::1:3")
    assert(IpNorm.normalize("FF02:0:0:0:0:0:1:3") == "ff02::1:3")
    assert(IpNorm.normalize("2001:db8:0:0:1:0:0:1") == "2001:db8::1:0:0:1")
    assert(IpNorm.normalize("::1") == "::1")
    assert(IpNorm.normalize("localhost") == null)
    assert(IpNorm.normalize("999.1.1.1") == null)
    assert(IpNorm.normalize("") == null)
    assert(IpNorm.normalize(null) == null)
    assert(IpNorm.normalize(" 10.1.2.3 ") == "::ffff:10.1.2.3")
  }

  test("IpNorm as column function") {
    import spark.implicits._
    val out = Seq("1.2.3.4", "ff02::1:3", "nope")
      .toDF("ip").select(IpNorm.normalizeIp(col("ip")).as("n"))
      .collect().map(_.getString(0))
    assert(out.toSeq == Seq("::ffff:1.2.3.4", "ff02::1:3", null))
  }

  test("normalize_ip: native expression stays in codegen and registers in SQL") {
    import spark.implicits._
    val df = Seq("1.2.3.4").toDF("ip").select(IpNorm.normalizeIp(col("ip")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), plan) // native expression, not a ScalaUDF
    // registered via GraftExtensions (GraftSession attaches them)
    val viaSql = sql("SELECT normalize_ip('ff02:0:0:0:0:0:1:3') AS ip").collect()
    assert(viaSql.head.getString(0) == "ff02::1:3")
    assert(sql("SELECT normalize_ip('junk') AS ip").collect().head.isNullAt(0))
  }

  test("session default: codegen class cache sized above the eviction-thrash regime") {
    // static conf — set at build time by GraftSession.local; the
    // 100-entry default recompiles in a loop on any >100-unit workload
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries").toInt >= 8192)
    // Spark defaults the factory relies on without restating them: a
    // Spark upgrade that flips one fails here, not in a bench diff
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled").foreach { k =>
      assert(spark.conf.get(k) == "true", k)
    }
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      .equalsIgnoreCase("dynamic"))
    assert(spark.conf.get("spark.sql.hive.thriftServer.singleSession") == "true")
  }

  test("only core/GraftSession.scala builds a SparkSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val owner = new java.io.File(root, "graft/core/GraftSession.scala")
    val hits = for {
      f <- files(root) if f.getCanonicalPath != owner.getCanonicalPath
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}"
    assert(hits.isEmpty, hits.mkString("\n"))
    assert(java.nio.file.Files.readString(owner.toPath)
      .contains("SparkSession.builder"))
  }

  test("Replacing.latestByKey keeps max-version row per key, deterministic ties") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, "v1"), ("a", 3L, "v3"), ("a", 2L, "v2"),
      ("b", 5L, "x"), ("b", 5L, "y") // tie on version -> lexicographic payload
    ).toDF("k", "updated_at", "payload")
    val out = Replacing.latestByKey(df, Seq("k"), "updated_at")
      .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(("a", 3L, "v3"), ("b", 5L, "y")))
    assert(out.length == 2)
  }

  test("PartitionedWriter appendIfAbsent is idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_paw").toString + "/t"
    val df = Seq(
      ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
      ("e2", java.sql.Timestamp.valueOf("2024-01-02 11:00:00"), 2.0)
    ).toDF("event_id", "event_ts", "v")
    PartitionedWriter.appendIfAbsent(df, dir, "event_ts", Seq("event_id", "event_ts"))
    PartitionedWriter.appendIfAbsent(df, dir, "event_ts", Seq("event_id", "event_ts"))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    // partition layout is hive-style event_date=
    assert(new java.io.File(dir).list().exists(_.startsWith("event_date=")))
    // a third, new row appends
    val df2 = Seq(("e3", java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 3.0))
      .toDF("event_id", "event_ts", "v")
    PartitionedWriter.appendIfAbsent(df2, dir, "event_ts", Seq("event_id", "event_ts"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("PartitionedWriter appendIfAbsent lands a within-batch duplicate once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pawd").toString + "/t"
    // an at-least-once redelivery inside one batch: the same line twice
    val row = ("e1", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0)
    val df = Seq(row, row).toDF("event_id", "event_ts", "v")
    assert(PartitionedWriter.appendIfAbsent(df, dir, "event_ts",
      Seq("event_id", "event_ts")) == 1L)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("PartitionedWriter appendIfAbsent into an existing table infers no schema") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_pawi").toString + "/t"
    def rows(ids: String*) = ids.map(i =>
      (i, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0)).toDF("event_id", "event_ts", "v")
    val keys = Seq("event_id", "event_ts")
    PartitionedWriter.appendIfAbsent(rows("e1"), dir, "event_ts", keys)
    val Phase = "graft.spec.phase"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Phase)))
          .foreach(ph => jobs.add(ph -> e.stageInfos.map(_.name)))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      // a replayed batch: every row is present, so nothing is written
      sc.setLocalProperty(Phase, "append")
      assert(PartitionedWriter.appendIfAbsent(rows("e1"), dir, "event_ts", keys) == 0L)
      // a marker job after it: listener events arrive in order
      sc.setLocalProperty(Phase, "done")
      spark.range(1).count()
      org.scalatest.concurrent.Eventually.eventually(
        org.scalatest.concurrent.Eventually.timeout(
          org.scalatest.time.Span(30, org.scalatest.time.Seconds))) {
        assert(jobs.asScala.exists(_._1 == "done"))
      }
    } finally {
      sc.setLocalProperty(Phase, null)
      sc.removeSparkListener(listener)
    }
    val appendJobs = jobs.asScala.filter(_._1 == "append").map(_._2).toSeq
    assert(appendJobs.nonEmpty)
    assert(!appendJobs.exists(_.exists(_.startsWith("parquet at"))), appendJobs)
    // the key-only read still recognizes the row, and lands a new one
    assert(PartitionedWriter.appendIfAbsent(rows("e1", "e2"), dir, "event_ts", keys) == 1L)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("compactPartitions folds per-append files, content and idempotency intact") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/t"
    // 10 cadence appends to one date + 2 to another: 10 and 2 file sets
    def row(i: Int, day: Int) = (s"e$i",
      java.sql.Timestamp.valueOf(f"2024-01-0$day%d 10:${i % 60}%02d:00"), i.toDouble)
    (0 until 10).foreach { i =>
      PartitionedWriter.append(Seq(row(i, 1)).toDF("event_id", "event_ts", "v"),
        dir, "event_ts", Seq("event_ts", "event_id"))
    }
    (10 until 12).foreach { i =>
      PartitionedWriter.append(Seq(row(i, 2)).toDF("event_id", "event_ts", "v"),
        dir, "event_ts", Seq("event_ts", "event_id"))
    }
    def files(part: String) = new java.io.File(s"$dir/$part").list()
      .count(_.endsWith(".parquet"))
    assert(files("event_date=2024-01-01") >= 10)
    val before = spark.read.parquet(dir)
      .orderBy("event_id").collect().map(_.toString).toSeq

    val stats = PartitionedWriter.compactPartitions(spark, dir,
      Seq("event_ts", "event_id"), minFiles = 8)
    // only the 10-file partition crossed minFiles; it folded to 1 file
    assert(stats.map(s => (s.partition, s.filesAfter)) ==
      Seq(("event_date=2024-01-01", 1)))
    assert(files("event_date=2024-01-01") == 1)
    assert(files("event_date=2024-01-02") == 2)
    // no staging debris inside or beside the table
    assert(!new java.io.File(dir + "__compact").exists())

    // identical content, partition column included, and appendIfAbsent
    // still recognizes every row as present
    val after = spark.read.parquet(dir)
      .orderBy("event_id").collect().map(_.toString).toSeq
    assert(after == before)
    val again = (0 until 12).map(i => row(i, if (i < 10) 1 else 2))
      .toDF("event_id", "event_ts", "v")
    assert(PartitionedWriter.appendIfAbsent(again, dir, "event_ts",
      Seq("event_id", "event_ts")) == 0L)

    // nothing above minFiles anymore: second compact is a no-op
    assert(PartitionedWriter.compactPartitions(spark, dir,
      Seq("event_ts", "event_id"), minFiles = 8).isEmpty)
  }
}
