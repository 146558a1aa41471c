package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Tokenize-once discipline for the multi-LM queries: a DSIR pipeline
  * built on a cached [[NgramLm.tokenize]] frame must (a) produce
  * value-identical results to the raw-text path, and (b) never launch
  * an action that re-scans the corpus parquet or re-tokenizes text —
  * the cached (id, __tk) frame is the only text read. Pinned through a
  * QueryExecutionListener over every action's executed plan (the
  * BpeSpec job-count pattern, upgraded to structural plan traversal:
  * plan STRINGS would falsely match the cache's own rendered child). */
class NgramTokenizeOnceSpec extends SparkSpec {
  import spark.implicits._

  /** Recursive node list, descending through AQE wrappers and query
    * stages but NOT into InMemoryRelation's cachedPlan (that subtree
    * renders in explain output yet never re-executes once cached). */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case o => o.children
    }
    p +: kids.flatMap(nodes)
  }

  /** Block until every query event posted so far has been delivered:
    * the bus delivers in order, so once a marker action's event arrives,
    * every earlier action's event has too. */
  private def drainQueryEvents(): Unit = {
    val seen = new java.util.concurrent.CountDownLatch(1)
    val marker = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (qe.analyzed.output.map(_.name) == Seq("__drain_marker"))
          seen.countDown()
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(marker)
    try {
      spark.range(1).select(lit(1).as("__drain_marker")).collect()
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "query events did not drain")
    } finally spark.listenerManager.unregister(marker)
  }

  test("DSIR over a cached token frame: same values, zero re-scan, zero re-tokenize") {
    val dir = java.nio.file.Files.createTempDirectory("ngram_tk").toString
    val words = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta")
    val rnd = new scala.util.Random(42)
    (0 until 120).map { i =>
      (i.toLong, Seq.fill(6 + rnd.nextInt(20))(
        words(rnd.nextInt(words.length))).mkString(" "))
    }.toDF("doc_id", "text").write.mode("overwrite").parquet(dir)
    val docs = spark.read.parquet(dir)

    // reference values: the raw-text path, run BEFORE the listener so
    // its (expected) parquet scans don't pollute the pin
    val expect = NgramLm.dsirTopK(docs,
        NgramLm.train(docs.filter(col("doc_id") % 2 === 0)),
        NgramLm.train(docs), k = 15, seed = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq

    // the listener bus is async: let the reference path's events (and
    // their parquet scans) reach listeners before the pin starts
    drainQueryEvents()
    val captured = ArrayBuffer[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        captured.synchronized { captured += qe.executedPlan }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val tk = NgramLm.tokenize(docs).cache()
    val got = try {
      val target = NgramLm.train(tk.filter(col("doc_id") % 2 === 0)).cache()
      val raw = NgramLm.train(tk).cache()
      target.count(); raw.count() // freeze the models (and tk through them)
      NgramLm.dsirTopK(tk, target, raw, k = 15, seed = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2))).toSeq
    } finally {
      // listener bus is async: wait until the capture count stabilizes
      var last = -1
      var spins = 0
      while (captured.synchronized(captured.size) != last && spins < 50) {
        last = captured.synchronized(captured.size); Thread.sleep(100)
        spins += 1
      }
      spark.listenerManager.unregister(listener)
      tk.unpersist()
    }

    assert(got == expect,
      "pre-tokenized path must be value-identical to the raw-text path")
    val all = captured.synchronized(captured.toList).flatMap(nodes)
    assert(all.nonEmpty, "listener captured no plans")
    val fileScans = all.count(_.isInstanceOf[FileSourceScanExec])
    assert(fileScans == 0,
      s"$fileScans file scan(s) executed after tokenize — corpus re-read")
    val tokenizes = all.count(_.expressions.exists(_.exists {
      case _: StringSplit => true
      case _ => false
    }))
    assert(tokenizes == 0,
      s"$tokenizes plan node(s) re-tokenized text after the cached tokenize")
    assert(all.exists(_.isInstanceOf[InMemoryTableScanExec]),
      "pipeline never read the token cache")
  }
}
