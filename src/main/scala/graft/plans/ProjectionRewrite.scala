package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Projection registry + auto-rewrite — the engine family's
  * *projections* (ClickHouse `ALTER TABLE … ADD PROJECTION` /
  * AggregatingMergeTree: declare a pre-aggregated copy of a table
  * once, and every matching aggregate query silently reads the small
  * copy instead of the base; reference stack's dashboards lean on
  * exactly this shape of count/sum rollup over the events schema,
  * `clickhouse/init/01_schema.sql.tmpl`).
  *
  * Spark-first: this is a Catalyst `Rule[LogicalPlan]` — the query
  * stays a declarative `GROUP BY` over the BASE table and the
  * optimizer swaps the scan, so every downstream Catalyst/Tungsten
  * optimization (filter pushdown into the summary scan, column
  * pruning via FileSourceStrategy, whole-stage codegen, AQE) applies
  * to the rewritten plan for free.
  *
  * Contract (the same one ClickHouse projections carry): the summary
  * at `summaryPath` holds PARTIAL aggregates of the base —
  * `groupBy(keys).agg(sum(m) AS m …, count(*) AS cnt)` — maintained
  * by the ingest path (append per-batch partials, [[graft.operators.Summing]]
  * discipline; re-aggregation on read makes stored partials
  * equivalent to finals). Registration asserts that consistency;
  * the rule assumes it.
  *
  * A query rewrites when ALL of:
  *  - it aggregates (a filter over) the registered base path;
  *  - every grouping column ∈ keys (strict subsets fine — one
  *    projection serves every coarser grain, because re-summing
  *    partial sums commutes with dropping group columns);
  *  - every filter predicate references key columns only (it then
  *    applies verbatim to the summary — pushed into its scan);
  *  - every aggregate is `sum(measure)` or `count(*)` (count reads
  *    the summary's `cnt` partials; the empty-input edge is kept
  *    honest with `coalesce(sum(cnt), 0)`).
  * Anything else — an expression key, a non-key filter, an avg/min —
  * leaves the plan untouched and the base table answers, so the
  * rewrite is *only* ever a plan improvement, never a semantics
  * change. Output attribute names, types and exprIds are preserved
  * exactly, so parent operators never see the swap.
  *
  * Why it matters at 100 TB: the dashboard grain of a 100 TB fact
  * table is a few thousand rows of partial sums — the rewrite turns
  * a full-table scan + shuffle into a metadata-sized read, which is
  * the difference between a cadenced BI panel and a cluster-wide
  * job. Long measures only (additive folding must be
  * associative-exact; doubles would drift with merge order).
  */
object Projections {

  /** One registered projection: summary columns are `keys` (same
    * names/types as base), one LONG partial-sum column per measure
    * (same name as the base column it sums), and a LONG `cntCol`
    * holding count partials. */
  final case class Projection(
      basePath: String,
      summaryPath: String,
      keys: Set[String],
      measures: Set[String],
      cntCol: String)

  private val registry = new ConcurrentHashMap[String, Projection]()

  private[graft] def normalize(p: String): String =
    new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** Register (or replace) the projection for `basePath`; the rewrite
    * rule is already in every [[graft.core.GraftSession]] session (via
    * [[graft.GraftExtensions]]). Call after materializing the summary;
    * keep the summary fresh by appending per-batch partials exactly as
    * [[graft.operators.Summing.appendPartials]] does.
    *
    * Registration validates the summary's SHAPE against the contract
    * — every key column exists, every measure and the count column
    * exist as LONG partials — so a mis-built summary fails loudly
    * here instead of silently returning wrong aggregates later.
    * Semantic freshness (the partials actually covering the base's
    * rows) remains the ingest path's contract; a schema check cannot
    * see staleness. */
  def register(spark: SparkSession, basePath: String, summaryPath: String,
      keys: Seq[String], measures: Seq[String],
      cntCol: String = "cnt"): Unit = {
    require(keys.nonEmpty, "projection needs at least one key column")
    val schema = spark.read.parquet(summaryPath).schema
    val byName = schema.fields.map(f => f.name -> f.dataType).toMap
    keys.foreach(k => require(byName.contains(k),
      s"projection summary $summaryPath is missing key column '$k'"))
    (measures :+ cntCol).foreach { m =>
      require(byName.get(m).contains(LongType),
        s"projection summary $summaryPath: partial column '$m' must be " +
          s"LONG, found ${byName.get(m).getOrElse("<absent>")}")
    }
    registry.put(normalize(basePath),
      Projection(normalize(basePath), summaryPath, keys.toSet,
        measures.toSet, cntCol))
  }

  def unregister(basePath: String): Unit =
    registry.remove(normalize(basePath))

  def clear(): Unit = registry.clear()

  private[graft] def lookup(path: String): Option[Projection] =
    Option(registry.get(path))

  private[plans] def isEmpty: Boolean = registry.isEmpty
}

/** The rewrite rule, injected into every session by
  * [[graft.GraftExtensions]]. */
case class ProjectionRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (Projections.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate =>
        rewrite(agg, agg.groupingExpressions, agg.aggregateExpressions,
          agg.child).getOrElse(agg)
    }

  /** Peel column-pruning Projects and Filters down to a single-root
    * parquet relation; returns (relation, collected conditions). */
  private def peel(p: LogicalPlan, conds: Seq[Expression])
      : Option[(LogicalRelation, Seq[Expression])] = p match {
    case lr: LogicalRelation => Some((lr, conds))
    case Filter(cond, c) => peel(c, conds :+ cond)
    case Project(list, c) if list.forall(_.isInstanceOf[AttributeReference]) =>
      peel(c, conds)
    case _ => None
  }

  private def basePathOf(lr: LogicalRelation): Option[String] =
    lr.relation match {
      case fs: HadoopFsRelation if fs.location.rootPaths.length == 1 =>
        Some(Projections.normalize(fs.location.rootPaths.head.toString))
      case _ => None
    }

  private def integral(e: Expression): Boolean = e.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def rewrite(agg: Aggregate, grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression], child: LogicalPlan)
      : Option[LogicalPlan] = try {
    for {
      (lr, conds) <- peel(child, Nil)
      path <- basePathOf(lr)
      proj <- Projections.lookup(path)
      // grouping: plain key attributes only
      if grouping.forall {
        case a: AttributeReference => proj.keys.contains(a.name)
        case _ => false
      }
      // filters: deterministic, over key columns only
      if conds.forall(c => c.deterministic &&
        c.references.forall(a => proj.keys.contains(a.name)))
      rewritten <- buildReplacement(agg, grouping, aggExprs, conds, proj)
    } yield rewritten
  } catch {
    // a malformed/missing summary must degrade to the base plan,
    // never fail the query
    case e: Exception =>
      logWarning(s"projection rewrite skipped: ${e.getMessage}")
      None
  }

  private def buildReplacement(agg: Aggregate, grouping: Seq[Expression],
      aggExprs: Seq[NamedExpression], conds: Seq[Expression],
      proj: Projections.Projection): Option[LogicalPlan] = {
    // fresh analyzed scan per rewrite site (no instance sharing:
    // two rewritten aggregates in one query must not collide on
    // attribute ids)
    val summary = spark.read.parquet(proj.summaryPath)
      .queryExecution.analyzed
    val byName = summary.output.map(a => a.name -> a).toMap
    def sumAttr(n: String): Option[Attribute] =
      byName.get(n).filter(_.dataType == LongType)

    val cnt = sumAttr(proj.cntCol)
    val mapped: Seq[Option[NamedExpression]] = aggExprs.map {
      // grouping passthrough (bare or aliased)
      case a: AttributeReference if proj.keys.contains(a.name) =>
        byName.get(a.name).filter(_.dataType == a.dataType)
          .map(na => Alias(na, a.name)(exprId = a.exprId))
      case al @ Alias(a: AttributeReference, name)
          if proj.keys.contains(a.name) =>
        byName.get(a.name).filter(_.dataType == a.dataType)
          .map(na => Alias(na, name)(exprId = al.exprId))
      // sum(measure) → sum(partial sums)
      case al @ Alias(ae: AggregateExpression, name)
          if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case s: Sum => s.child match {
            case a: AttributeReference
                if proj.measures.contains(a.name) && integral(a) =>
              sumAttr(a.name).map(na => Alias(
                Sum(na).toAggregateExpression(), name)(exprId = al.exprId))
            case _ => None
          }
          // count(*) → coalesce(sum(cnt), 0): sum over zero rows is
          // null where count is 0
          case Count(Seq(Literal(_, _))) =>
            cnt.map(na => Alias(
              Coalesce(Seq(Sum(na).toAggregateExpression(),
                Literal(0L, LongType))), name)(exprId = al.exprId))
          case _ => None
        }
      case _ => None
    }
    if (mapped.exists(_.isEmpty)) return None

    // same type guard the aggregate-output passthrough applies: a key
    // that appears ONLY in GROUP BY must still match the summary
    // column's type, else bail to the base plan
    val newGroupingOpt: Seq[Option[Attribute]] = grouping.map {
      case a: AttributeReference =>
        byName.get(a.name).filter(_.dataType == a.dataType)
      case _ => None
    }
    if (newGroupingOpt.exists(_.isEmpty)) return None
    val newGrouping = newGroupingOpt.map(_.get)
    val newConds = conds.map(_.transform {
      case a: AttributeReference => byName(a.name)
    })
    val filtered = newConds.foldLeft(summary)((p, c) => Filter(c, p))
    // copy keeps any extra Aggregate fields across Spark versions
    Some(agg.copy(groupingExpressions = newGrouping,
      aggregateExpressions = mapped.map(_.get), child = filtered))
  }
}
