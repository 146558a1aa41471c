package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{Decimal, DoubleType, FloatType, IntegerType, LongType}

import graft.functions._
import graft.operators.Dedup
import graft.core.Keys

/** SQL surface for the engine's function family — the counterpart of
  * the reference exposing cityHash64 / toIPv6OrNull / JSONExtract to
  * its SQL users (every reference query is plain SQL; a user switching
  * engines shouldn't have to leave SQL to reach these).
  *
  * [[graft.core.GraftSession]] injects them into every session it
  * builds; a session built elsewhere gets them with
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * Every function resolves to the same Catalyst expression trees the
  * DataFrame API builds (native codegen expressions or builtin
  * compositions), so SQL callers get identical plans — nothing here is
  * a UDF.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptions.foreach(ext.injectFunction)
    // projection auto-rewrite (plans.Projections registry); a no-op
    // until a projection is registered
    ext.injectOptimizerRule(graft.plans.ProjectionRewrite.apply)
  }
}

object GraftExtensions {

  import org.apache.spark.sql.GraftColumnBridge.{column, eagerExpression => expression}

  private type Builder = Seq[Expression] => Expression

  private def intLit(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def longLit(e: Expression, fn: String, arg: String): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, LongType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, fn: String, arg: String): Double =
    e match {
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Float, FloatType) => v.toDouble
      case Literal(v: Int, IntegerType) => v.toDouble
      case Literal(d: Decimal, _) => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a numeric literal, got $other")
    }

  private def stringLit(e: Expression, fn: String, arg: String): String =
    e match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $arg must be a string literal, got $other")
    }

  private def arity(fn: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$fn expects $n arguments, got ${args.length}")

  private def arityIn(fn: String, args: Seq[Expression], ns: Range): Unit =
    require(ns.contains(args.length),
      s"$fn expects ${ns.head}..${ns.last} arguments, got ${args.length}")

  /** Wrap a Column→Column composition as a Catalyst function builder. */
  private def composed(fn: String, n: Int)(
      f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column): Builder =
    args => { arity(fn, args, n); expression(f(args.map(column))) }

  /** (name, builder) for every exposed function. */
  private val builders: Seq[(String, Builder)] = Seq(
    // native expressions, registered 1:1
    "normalize_ip" -> { args =>
      arity("normalize_ip", args, 1); NormalizeIp(args.head) },
    "vec_dot" -> { args =>
      arity("vec_dot", args, 2); VecDot(args(0), args(1)) },
    "vec_cosine" -> { args =>
      arity("vec_cosine", args, 2); VecCosine(args(0), args(1)) },
    "sorted_intersect_size" -> { args =>
      arity("sorted_intersect_size", args, 2)
      SortedIntersectSize(args(0), args(1)) },
    "token_lcs" -> { args =>
      arity("token_lcs", args, 2); TokenLcs(args(0), args(1)) },
    "simhash64" -> { args =>
      arity("simhash64", args, 1); SimHash64(args.head) },
    "hyperplane_sig" -> { args =>
      arityIn("hyperplane_sig", args, 2 to 4)
      val dim = intLit(args(1), "hyperplane_sig", "dim")
      val bits = if (args.length > 2)
        intLit(args(2), "hyperplane_sig", "bits") else 16
      val seed = if (args.length > 3)
        longLit(args(3), "hyperplane_sig", "seed") else 42L
      HyperplaneSig(args.head, dim, bits, seed) },
    // builtin compositions — same trees the Scala API produces
    "text_tokens" -> composed("text_tokens", 1)(c => Dedup.tokens(c.head)),
    "hashed_shingles" -> { args =>
      arity("hashed_shingles", args, 2)
      expression(Dedup.hashedShingles(column(args.head),
        intLit(args(1), "hashed_shingles", "n"))) },
    "text_simhash" -> composed("text_simhash", 1)(c => Dedup.simhash(c.head)),
    "lang_id" -> composed("lang_id", 1)(c => TextFunctions.langId(c.head)),
    "quality_score" ->
      composed("quality_score", 1)(c => TextFunctions.qualityScore(c.head)),
    "encoding_damage" ->
      composed("encoding_damage", 1)(c => TextFunctions.encodingDamage(c.head)),
    "token_count" ->
      composed("token_count", 1)(c => TextFunctions.tokenCount(c.head)),
    "subword_count" ->
      composed("subword_count", 1)(c => TextFunctions.subwordCount(c.head)),
    "dup_token_fraction" -> composed("dup_token_fraction", 1)(
      c => TextFunctions.dupTokenFraction(c.head)),
    "dup_ngram_fraction" -> { args =>
      arityIn("dup_ngram_fraction", args, 1 to 2)
      val n = if (args.length > 1)
        intLit(args(1), "dup_ngram_fraction", "n") else 2
      expression(TextFunctions.dupNgramFraction(column(args.head), n)) },
    "gopher_stats" ->
      composed("gopher_stats", 1)(c => TextFunctions.gopherStats(c.head)),
    "redact_pii" ->
      composed("redact_pii", 1)(c => TextFunctions.redactPii(c.head)),
    "content_fingerprint" -> composed("content_fingerprint", 1)(
      c => TextFunctions.contentFingerprint(c.head)),
    "rolling_fingerprint" -> { args =>
      arityIn("rolling_fingerprint", args, 1 to 2)
      val n = if (args.length > 1)
        intLit(args(1), "rolling_fingerprint", "n") else 3
      expression(TextFunctions.rollingFingerprint(column(args.head), n)) },
    "sentence_count" ->
      composed("sentence_count", 1)(c => TextFunctions.sentenceCount(c.head)),
    "syllable_count" ->
      composed("syllable_count", 1)(c => TextFunctions.syllableCount(c.head)),
    "flesch_kincaid_micro" -> composed("flesch_kincaid_micro", 1)(
      c => TextFunctions.fleschKincaidMicro(c.head)),
    "strip_markup" ->
      composed("strip_markup", 1)(c => TextFunctions.stripMarkup(c.head)),
    "canonicalize_url" ->
      composed("canonicalize_url", 1)(c => TextFunctions.canonicalizeUrl(c.head)),
    "nfc_normalize" -> { args =>
      arity("nfc_normalize", args, 1); NfcNormalize(args.head) },
    "winnow_fingerprints" -> { args =>
      arityIn("winnow_fingerprints", args, 1 to 3)
      val k = if (args.length > 1)
        intLit(args(1), "winnow_fingerprints", "k") else 3
      val w = if (args.length > 2)
        intLit(args(2), "winnow_fingerprints", "w") else 4
      expression(TextFunctions.winnowFingerprints(column(args.head), k, w)) },
    "vec_dot_int" -> { args =>
      arity("vec_dot_int", args, 2); VecDotInt(args(0), args(1)) },
    "surrogate_key" -> { args =>
      require(args.nonEmpty, "surrogate_key expects at least 1 argument")
      expression(Keys.surrogateKey(args.map(column): _*)) },
    "date_key" -> composed("date_key", 1)(c => Keys.dateKey(c.head)),
    "time_key" -> composed("time_key", 1)(c => Keys.timeKey(c.head)),
    // aggregate functions: the engine family's sequential-analytics
    // shapes — window_funnel(window_sec, ts, cond1, …),
    // retention(cond1, …), sequence_match(max_gap_sec, ts, cond1, cond2)
    "window_funnel" -> { args =>
      require(args.length >= 3,
        s"window_funnel expects at least 3 arguments, got ${args.length}")
      val w = longLit(args.head, "window_funnel", "window_sec")
      WindowFunnel(w, args(1), args.drop(2)).toAggregateExpression()
    },
    // reference-family parity: max level over ALL anchors (strict
    // timestamp increase), not just the earliest step-1 event
    "window_funnel_max" -> { args =>
      require(args.length >= 3,
        s"window_funnel_max expects at least 3 arguments, got ${args.length}")
      val w = longLit(args.head, "window_funnel_max", "window_sec")
      WindowFunnel(w, args(1), args.drop(2), maxOverAnchors = true)
        .toAggregateExpression()
    },
    // the family's strict funnel modes over the earliest-anchor
    // chain: window_funnel_strict(window_sec, 'dedup'|'order'|
    // 'dedup_order', ts, cond1, …)
    "window_funnel_strict" -> { args =>
      require(args.length >= 4,
        s"window_funnel_strict expects at least 4 arguments, got ${args.length}")
      val w = longLit(args.head, "window_funnel_strict", "window_sec")
      val mode = stringLit(args(1), "window_funnel_strict", "mode")
      require(Set("dedup", "order", "dedup_order")(mode),
        s"window_funnel_strict: mode must be dedup|order|dedup_order, got $mode")
      WindowFunnel(w, args(2), args.drop(3),
        strictDedup = mode != "order",
        strictOrder = mode != "dedup").toAggregateExpression()
    },
    // strict flags INSIDE the maximizing scan (reference-family
    // parity): window_funnel_strict_max(window_sec, 'dedup'|'order'|
    // 'dedup_order', ts, cond1, …) — max over all anchors of the
    // strict per-anchor chain
    "window_funnel_strict_max" -> { args =>
      require(args.length >= 4,
        s"window_funnel_strict_max expects at least 4 arguments, " +
          s"got ${args.length}")
      val w = longLit(args.head, "window_funnel_strict_max", "window_sec")
      val mode = stringLit(args(1), "window_funnel_strict_max", "mode")
      require(Set("dedup", "order", "dedup_order")(mode),
        s"window_funnel_strict_max: mode must be dedup|order|dedup_order, " +
          s"got $mode")
      WindowFunnel(w, args(2), args.drop(3), maxOverAnchors = true,
        strictDedup = mode != "order",
        strictOrder = mode != "dedup").toAggregateExpression()
    },
    // multi-step sequenceMatch with PER-GAP limits:
    // sequence_chain('g1,g2,…', ts, cond1, …, condK)
    "sequence_chain" -> { args =>
      require(args.length >= 4,
        s"sequence_chain expects at least 4 arguments, got ${args.length}")
      val gaps = stringLit(args.head, "sequence_chain", "gaps")
        .split(",").toSeq.map(_.trim.toLong)
      SequenceChain(gaps, args(1), args.drop(2)).toAggregateExpression()
    },
    "retention" -> { args =>
      require(args.nonEmpty, "retention expects at least 1 argument")
      Retention(args).toAggregateExpression()
    },
    // geohash_encode(lat, lon, precision) — join-key-safe spatial cell
    "geohash_encode" -> { args =>
      arity("geohash_encode", args, 3)
      GeohashEncode(args(0), args(1),
        intLit(args(2), "geohash_encode", "precision"))
    },
    // exact bottom-k by key (deterministic groupArraySample twin):
    // bottom_k(k, key, value)
    "bottom_k" -> { args =>
      arity("bottom_k", args, 3)
      BottomK(intLit(args.head, "bottom_k", "k"), args(1), args(2))
        .toAggregateExpression()
    },
    // DDSketch relative-error quantiles (Masson et al., VLDB'19):
    // dd_sketch(alpha, v) builds, dd_merge re-aggregates EXACTLY,
    // dd_quantile(state, q, alpha) reads
    "dd_sketch" -> { args =>
      arity("dd_sketch", args, 2)
      DdSketchAgg(doubleLit(args.head, "dd_sketch", "alpha"), args(1))
        .toAggregateExpression()
    },
    "dd_merge" -> { args =>
      arity("dd_merge", args, 1)
      DdMergeAgg(args.head).toAggregateExpression()
    },
    "dd_quantile" -> { args =>
      arity("dd_quantile", args, 3)
      DdQuantile(args(0), args(1),
        doubleLit(args(2), "dd_quantile", "alpha"))
    },
    // EXACT membership-set algebra (groupBitmap/bitmapAnd family):
    // sorted-distinct array<bigint> states, two-pointer set ops
    "bitmap_agg" -> { args =>
      arity("bitmap_agg", args, 1)
      BitmapAgg(args.head).toAggregateExpression()
    },
    "bitmap_or_agg" -> { args =>
      arity("bitmap_or_agg", args, 1)
      BitmapOrAgg(args.head).toAggregateExpression()
    },
    "bitmap_and_agg" -> { args =>
      arity("bitmap_and_agg", args, 1)
      BitmapAndAgg(args.head).toAggregateExpression()
    },
    "bitmap_and" -> { args =>
      arity("bitmap_and", args, 2); BitmapSetOp(args(0), args(1), "and") },
    "bitmap_or" -> { args =>
      arity("bitmap_or", args, 2); BitmapSetOp(args(0), args(1), "or") },
    "bitmap_andnot" -> { args =>
      arity("bitmap_andnot", args, 2); BitmapSetOp(args(0), args(1), "andnot") },
    "bitmap_xor" -> { args =>
      arity("bitmap_xor", args, 2); BitmapSetOp(args(0), args(1), "xor") },
    "bitmap_has_any" -> { args =>
      arity("bitmap_has_any", args, 2); BitmapSetOp(args(0), args(1), "has_any") },
    "bitmap_has_all" -> { args =>
      arity("bitmap_has_all", args, 2); BitmapSetOp(args(0), args(1), "has_all") },
    "bitmap_contains" -> { args =>
      arity("bitmap_contains", args, 2); BitmapContains(args(0), args(1)) },
    // HLL distinct-count states (uniqState/uniqMerge shape): build a
    // sketch, merge stored sketches, read the estimate
    "hll_sketch" -> { args =>
      arity("hll_sketch", args, 1)
      HllSketchAgg(args.head).toAggregateExpression()
    },
    "hll_merge" -> { args =>
      arity("hll_merge", args, 1)
      HllMergeAgg(args.head).toAggregateExpression()
    },
    "hll_estimate" -> { args =>
      arity("hll_estimate", args, 1); HllEstimate(args.head) },
    // bounded-state sketches: topK(k) heavy hitters, uniqUpTo(N)
    "top_k_sketch" -> { args =>
      arity("top_k_sketch", args, 2)
      TopKSketch(intLit(args.head, "top_k_sketch", "k"), args(1))
        .toAggregateExpression()
    },
    // topKWeighted shape: each occurrence carries a BIGINT mass
    "top_k_weighted" -> { args =>
      arity("top_k_weighted", args, 3)
      TopKSketch(intLit(args.head, "top_k_weighted", "k"), args(1),
        weight = Some(args(2))).toAggregateExpression()
    },
    "uniq_up_to" -> { args =>
      arity("uniq_up_to", args, 2)
      UniqUpTo(intLit(args.head, "uniq_up_to", "n"), args(1))
        .toAggregateExpression()
    },
    // histogram(bins)(x) shape: Ben-Haim/Yom-Tov streaming histogram
    "hist_sketch" -> { args =>
      arity("hist_sketch", args, 2)
      HistogramSketch(intLit(args.head, "hist_sketch", "nbins"), args(1))
        .toAggregateExpression()
    },
    // read-side fold of stored histogram states (HistStream sink)
    "hist_merge" -> { args =>
      arity("hist_merge", args, 2)
      HistMerge(intLit(args.head, "hist_merge", "nbins"), args(1))
        .toAggregateExpression()
    },
    // quantileTDigest-role reader over a stored hist_sketch state
    "hist_quantile" -> { args =>
      arity("hist_quantile", args, 3)
      expression(HistogramOps.histQuantile(column(args.head),
        intLit(args(1), "hist_quantile", "num"),
        intLit(args(2), "hist_quantile", "den")))
    },
    "sequence_match" -> { args =>
      arity("sequence_match", args, 4)
      val g = longLit(args.head, "sequence_match", "max_gap_sec")
      SequenceMatch(g, args(1), args(2), args(3)).toAggregateExpression()
    },
    // sequence_count(ts, c1, c2) = unlimited gap (oracle-exact);
    // sequence_count(max_gap_sec, ts, c1, c2) = gapped greedy count
    "sequence_count" -> { args =>
      arityIn("sequence_count", args, 3 to 4)
      if (args.length == 3)
        SequenceCount(0L, args(0), args(1), args(2)).toAggregateExpression()
      else {
        val g = longLit(args.head, "sequence_count", "max_gap_sec")
        SequenceCount(g, args(1), args(2), args(3)).toAggregateExpression()
      }
    },
    // keyed-measure map aggregates (sumMap/minMap/maxMap shape):
    // scalar (key, val) pairs or the reference's zipped-array form
    "sum_map" -> { args =>
      arity("sum_map", args, 2)
      MapAggregate(MapAggregates.SUM, args(0), args(1))
        .toAggregateExpression()
    },
    "min_map" -> { args =>
      arity("min_map", args, 2)
      MapAggregate(MapAggregates.MIN, args(0), args(1))
        .toAggregateExpression()
    },
    "max_map" -> { args =>
      arity("max_map", args, 2)
      MapAggregate(MapAggregates.MAX, args(0), args(1))
        .toAggregateExpression()
    }
  )

  /** The injectFunction descriptions (identifier, info, builder). */
  def descriptions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    builders.map { case (name, b) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getCanonicalName, name), b)
    }
}
