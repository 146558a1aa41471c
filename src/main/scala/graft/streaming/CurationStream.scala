package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{BatchCompaction, BatchSink}
import graft.functions.TextFunctions
import graft.operators.NgramLm

/** Streaming quality-filter front door for a training-data pipeline:
  * each arriving micro-batch of documents is language-identified,
  * quality-scored, passed through the Gopher rule bundle, PII-redacted,
  * and split into an accepted and a rejected sink — one call stands up
  * the full text-curation stage over any readStream source.
  *
  * [[curate]] is the BATCH TWIN: a pure `DataFrame => DataFrame` built
  * entirely from codegen'd column expressions
  * ([[graft.functions.TextFunctions]]), so the identical code runs
  * under a static read (the l28 suite entry oracle-checks it against
  * DuckDB) and inside foreachBatch. Rejected rows carry a
  * `reject_reason` so the reject stream doubles as a quality-drift
  * monitor feed.
  *
  * Replay: both sinks go through [[graft.core.BatchSink]] (the spec
  * replays a batch and asserts both sinks unchanged). Run
  * [[compactSinks]] on a maintenance cadence to bound the partition
  * count.
  *
  * Scale shape: no shuffle at all in the default configuration —
  * scoring is per-row column algebra and the split is two filters of
  * the same enriched frame, so the stage is map-only and scales with
  * input bandwidth (the optional frozen-LM gate adds one narrow
  * (id, bits) exchange — see [[curate]]). (The enriched
  * batch is computed once per sink write; Spark recomputes the lineage
  * per action, which for a map-only stage is cheaper than caching
  * inside a micro-batch — caching there leaks blocks across batches.)
  */
object CurationStream {

  /** Enrich with (lang, quality, gopher signals) + redacted text and
    * mark acceptance: accepted ⇔ gopher pass ∧ quality ≥ minQuality ∧
    * lang ∈ langs (empty `langs` = any language) ∧ LM fluency (when a
    * frozen model is supplied). `reject_reason` names the FIRST failing
    * gate (gopher < quality < lang < perplexity) — one reason per row
    * keeps the reject feed aggregable.
    *
    * `lm` is a [[graft.operators.NgramLm.train]] model (read it from
    * parquet once outside the stream): docs scoring above `maxNllBits`
    * bits/transition are rejected as `perplexity`, the CCNet cut. Docs
    * too short to score (< 2 tokens; null bits) pass the gate — the
    * length rules own that case. The default lm=None path stays
    * map-only; with a model the stage adds one narrow (id, bits)
    * aggregate exchange, still corpus-text-shuffle-free since the
    * vocab-bounded model broadcasts. */
  def curate(docs: DataFrame, textCol: String,
      minQuality: Double = 0.3,
      langs: Set[String] = Set("en"),
      lm: Option[DataFrame] = None,
      maxNllBits: Double = 12.0,
      idCol: String = "doc_id"): DataFrame = {
    // ONE fused counting pass ([[graft.functions.CurateSignals]])
    // instead of the langId + qualityScore + gopherStats battery,
    // which tokenized every row three times and ran five regex
    // passes (guide §1.2: per-task work). The decision algebra below
    // is the battery's own, verbatim, over the identical counts —
    // CurationSpec holds the two formulations equal row-for-row.
    val sig = {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      column(graft.functions.CurateSignals(expression(col(textCol))))
    }
    def idiv(a: Column, b: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      column(new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        expression(a), expression(b)))
    }
    val enriched0 = docs.withColumn("__sig", sig)
    def f(name: String): Column = col("__sig").getField(name)
    // langId, over the fused stop-hit counts
    val lang = {
      val en = f("stop_en"); val de = f("stop_de")
      val fr = f("stop_fr"); val es = f("stop_es")
      val best = greatest(en, de, fr, es)
      when(f("cjk") > 0, lit("zh"))
        .when(best === 0, lit("unknown"))
        .when(en === best, lit("en"))
        .when(de === best, lit("de"))
        .when(fr === best, lit("fr"))
        .otherwise(lit("es"))
    }
    // qualityScore's fixed-point micro-unit algebra, verbatim
    val quality = {
      val S = 1000000L
      val nTok = f("n_tok"); val nChar = f("n_char")
      val tokDen = greatest(nTok, lit(1L))
      val charDen = greatest(nChar, lit(1L))
      val lenScore = least(idiv(nTok * S, lit(64L)), lit(S))
      val punctScore =
        lit(S) - least(idiv(f("punct") * 4L * S, charDen), lit(S))
      val stopScore = least(idiv(f("stop_en") * 5L * S, tokDen), lit(S))
      val num = nChar - nTok + lit(1L)
      val wordScore = lit(S) -
        least(idiv(abs(num - lit(5L) * tokDen) * S, lit(5L) * tokDen), lit(S))
      idiv(lenScore * 3L + punctScore * 3L + stopScore * 2L + wordScore * 2L,
        lit(10L)).cast("double") / lit(1000000.0)
    }
    // gopherStats' rule bundle, verbatim (only pass + n_words surface)
    val gopherPass = {
      val nWords = f("n_tok").cast("int")
      val meanLen = f("word_chars").cast("double") /
        greatest(nWords.cast("double"), lit(1.0))
      val symFrac = f("punct").cast("double") /
        greatest(f("n_char").cast("double"), lit(1.0))
      val digFrac = f("digits").cast("double") /
        greatest(f("n_char").cast("double"), lit(1.0))
      (nWords >= 50 && nWords <= 100000) &&
        (meanLen >= 3.0 && meanLen <= 10.0) &&
        symFrac < 0.1 && digFrac < 0.2 && f("stop_en") >= 2
    }
    val enriched = enriched0
      .withColumn("lang", lang)
      .withColumn("quality", quality)
      .withColumn("n_words", f("n_tok").cast("int"))
      .withColumn("gopher_pass", gopherPass)
      .withColumn("text_redacted", TextFunctions.redactPii(col(textCol)))
      .drop("__sig")
    val withLm = lm match {
      case Some(model) => enriched.join(
        NgramLm.score(docs, model, textCol, idCol)
          .select(col(idCol), col("avg_nll_bits")),
        Seq(idCol), "left")
      case None => enriched
        .withColumn("avg_nll_bits", lit(null).cast("double"))
    }
    val langOk =
      if (langs.isEmpty) lit(true) else col("lang").isInCollection(langs)
    withLm
      .withColumn("reject_reason",
        when(!col("gopher_pass"), lit("gopher"))
          .when(col("quality") < minQuality, lit("quality"))
          .when(!langOk, lit("lang"))
          .when(col("avg_nll_bits") > maxNllBits, lit("perplexity"))
          .otherwise(lit(null).cast("string")))
      .withColumn("accepted", col("reject_reason").isNull)
  }

  /** One micro-batch: curate, split, persist both sinks — idempotent
    * on `batchId`. Public so tests (and batch backfills) can drive the
    * exact foreachBatch body. */
  def processBatch(batch: DataFrame, batchId: Long, textCol: String,
      acceptPath: String, rejectPath: String,
      minQuality: Double = 0.3, langs: Set[String] = Set("en"),
      lm: Option[DataFrame] = None, maxNllBits: Double = 12.0): Unit = {
    val curated = curate(batch, textCol, minQuality, langs, lm, maxNllBits)
    BatchSink.write(curated.filter(col("accepted"))
      .drop("accepted", "reject_reason", "gopher_pass"), batchId, acceptPath)
    BatchSink.write(curated.filter(!col("accepted")).drop("accepted"),
      batchId, rejectPath)
  }

  /** Fold old batch partitions of both sinks — see
    * [[graft.core.BatchCompaction]]. */
  def compactSinks(spark: SparkSession, acceptPath: String,
      rejectPath: String, keepRecent: Int = 2): Unit = {
    BatchCompaction.compact(spark, acceptPath, keepRecent)
    BatchCompaction.compact(spark, rejectPath, keepRecent)
    ()
  }

  def start(docs: DataFrame, textCol: String, acceptPath: String,
      rejectPath: String, checkpointDir: String,
      minQuality: Double = 0.3, langs: Set[String] = Set("en"),
      lm: Option[DataFrame] = None, maxNllBits: Double = 12.0,
      trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery =
    BatchSink.start(docs, checkpointDir, trigger) { (batch, batchId) =>
      processBatch(batch, batchId, textCol, acceptPath, rejectPath,
        minQuality, langs, lm, maxNllBits)
    }
}
