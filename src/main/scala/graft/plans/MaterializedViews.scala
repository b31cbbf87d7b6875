package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Coalesce, Expression, Literal, NamedExpression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** MATERIALIZED-VIEW AUTO-REWRITE — the classic OLAP answer to "this
  * nightly dashboard re-scans 100 TB for the same aggregate": register
  * a pre-aggregated summary table for a fact, and a `Rule[LogicalPlan]`
  * transparently reroutes matching aggregate queries to it, including
  * ROLLUPS to any subset of the view's grouping columns via the
  * partial-aggregate algebra (sum-of-sums, sum-of-counts, min-of-mins,
  * max-of-maxes — the same re-aggregatable-state property
  * `etl_incremental_agg` proves). Queries keep their shape; users never
  * mention the view; un-matchable queries are untouched.
  *
  * Matching is deliberately conservative (decline = correct):
  *  - the child must be a scan (optionally column-pruned) of the
  *    registered fact path, optionally under ONE deterministic filter
  *    whose every column is a view GROUPING column — such a predicate
  *    commutes with the rollup (it decides per group, so filtering fact
  *    rows ≡ filtering view rows) and is re-applied onto the view scan,
  *    where it prunes the summary exactly as it would the fact. A
  *    predicate touching a measure column, a subquery, or anything
  *    non-deterministic declines — it cannot be answered from group
  *    granularity;
  *  - grouping must be a subset of the view's grouping COLUMNS;
  *  - every aggregate must be Sum/Min/Max over a registered measure
  *    column or Count(*) / Count(non-null measure col), DISTINCT and
  *    FILTER decline.
  * The rewrite preserves the original output `exprId`s, so parent
  * operators resolve against the new child unchanged.
  *
  * Scale story: the summary table is smaller than the fact by the
  * group-cardinality ratio (typically 10³–10⁶×); every routed query
  * scans that instead. The view itself is maintained incrementally by
  * the partial-state merge pattern, and on a GVT fact the change feed
  * supplies the increments — the three round-8 pieces compose.
  */
object MaterializedViews {

  /** One measure of a registered view: `fn` ∈ sum|min|max|cnt applied
    * to fact column `col`, stored in the view as `mvCol`. */
  final case class Measure(fn: String, col: String, mvCol: String)

  final case class MvDef(factPathSuffix: String, groupCols: Seq[String],
      measures: Seq[Measure], view: LogicalPlan) {
    /** Selection cost: the view's logical-stats size (for a parquet
      * scan: actual file bytes — no job, no estimate drift). */
    lazy val costBytes: BigInt = view.stats.sizeInBytes
  }

  /** Per fact suffix, the CANDIDATE views keyed by their grouping
    * signature — a fact may carry several summaries at different
    * granularities ((status, priority) and (status)); selection picks
    * the cheapest one that covers the query. Re-registering the same
    * (fact, grouping) replaces, so per-JVM staging stays idempotent. */
  private val registry =
    new ConcurrentHashMap[String, Map[String, MvDef]]()

  /** Register `view` (its ANALYZED plan is captured) as a summary of
    * the fact whose scan path ends with `factPathSuffix`. */
  def register(spark: SparkSession, factPathSuffix: String,
      groupCols: Seq[String], measures: Seq[Measure],
      view: DataFrame): Unit = {
    val mv = MvDef(factPathSuffix, groupCols, measures,
      view.queryExecution.analyzed)
    registry.compute(factPathSuffix, (_, old) =>
      (if (old == null) Map.empty[String, MvDef] else old) +
        (groupCols.mkString(",") -> mv))
  }

  def clear(): Unit = registry.clear()

  private def factSuffixOf(plan: LogicalPlan): Option[String] = plan match {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation =>
        val roots = h.location.rootPaths.map(_.toString)
        registry.keySet().iterator().asScala
          .find(sfx => roots.exists(_.endsWith(sfx)))
      case _ => None
    }
    case Project(projectList, child)
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      factSuffixOf(child) // column pruning only; anything computed declines
    case _ => None
  }

  /** The aggregate child as (fact suffix, group-column-only filter):
    * accepts a scan, or ONE Filter over/under the pruning Project whose
    * validity (columns ⊆ view grouping) tryRewrite checks against the
    * matched view. Two stacked Filters decline (optimizer normally
    * collapses conjuncts into one). */
  private def factWithFilter(plan: LogicalPlan)
      : Option[(String, Option[Expression])] = plan match {
    case Filter(cond, inner) =>
      factSuffixOf(inner).map(sfx => (sfx, Some(cond)))
    case Project(projectList, Filter(cond, inner))
        if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      factSuffixOf(inner).map(sfx => (sfx, Some(cond)))
    case other => factSuffixOf(other).map(sfx => (sfx, None))
  }

  object Rewrite extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan =
      if (registry.isEmpty) plan
      else plan.transform {
        case agg @ Aggregate(_, _, child, _) =>
          factWithFilter(child)
            .flatMap { case (sfx, cond) =>
              // COST-BASED SELECTION among every candidate view that
              // covers the query: cheapest by actual view bytes (a
              // status-only rollup beats the (status, priority) one by
              // its cardinality ratio), grouping width as the
              // deterministic tie-break. A query no candidate covers
              // stays on the fact — decline is always correct.
              Option(registry.get(sfx)).flatMap { views =>
                val covering = views.values.toSeq
                  .flatMap(mv => tryRewrite(agg, mv, cond)
                    .map(p => (mv, p)))
                covering
                  .sortBy { case (mv, _) =>
                    (mv.costBytes, mv.groupCols.length) }
                  .headOption.map(_._2)
              }
            }
            .getOrElse(agg)
      }

    private def tryRewrite(agg: Aggregate, mv: MvDef,
        filterCond: Option[Expression]): Option[LogicalPlan] = {
      val mvOut: Map[String, Attribute] =
        mv.view.output.map(a => a.name -> a).toMap
      // grouping: plain columns, each a subset of the view's grouping
      val groupNames = agg.groupingExpressions.map {
        case a: AttributeReference if mv.groupCols.contains(a.name) =>
          a.name
        case _ => return None
      }
      def measureFor(fn: String, colName: String): Option[Attribute] =
        mv.measures.find(m => m.fn == fn && m.col == colName)
          .flatMap(m => mvOut.get(m.mvCol))
      // rewrite each output expression against the view, keeping the
      // original name + exprId so the parent plan resolves unchanged
      val rewritten: Seq[NamedExpression] = agg.aggregateExpressions.map {
        case a: AttributeReference if groupNames.contains(a.name) =>
          Alias(mvOut(a.name), a.name)(a.exprId)
        case al: Alias =>
          // the alias may wrap a COMPOUND expression over agg functions
          // (round(sum(x), 2), sum(x)/count(*)): transform every inner
          // AggregateExpression against the view, declining the whole
          // rewrite if any is unmappable
          var ok = true
          // a GLOBAL aggregate (empty GROUP BY) returns one row even on
          // an empty/filtered-to-nothing scan, where COUNT must be 0 —
          // but the re-aggregated Sum(mv_cnt) over zero view rows is
          // NULL. Coalesce it back to 0 in that case; grouped rewrites
          // keep the bare Sum (a group implies ≥1 row).
          def asCount(m: Attribute): Expression = {
            val s = Sum(m).toAggregateExpression()
            if (groupNames.isEmpty) Coalesce(Seq(s, Literal(0L))) else s
          }
          // transformUp: the REPLACEMENT subtree must not be re-visited
          // (asCount wraps a fresh Sum in Coalesce; transformDown would
          // descend into it and decline on the view's own column)
          val swapped = al.child.transformUp {
            case AggregateExpression(f, Complete, false, None, _) =>
              val inner: Option[Expression] = f match {
                case Sum(c: AttributeReference, _) =>
                  measureFor("sum", c.name)
                    .map(m => Sum(m).toAggregateExpression())
                case Min(c: AttributeReference) =>
                  measureFor("min", c.name)
                    .map(m => Min(m).toAggregateExpression())
                case Max(c: AttributeReference) =>
                  measureFor("max", c.name)
                    .map(m => Max(m).toAggregateExpression())
                // count(NULL) is constant 0, NOT the row count — the
                // literal must be non-null for the mv_cnt rewrite
                case Count(Seq(Literal(v, _))) if v != null =>
                  measureFor("cnt", "*").map(asCount)
                case Count(Seq(c: AttributeReference)) =>
                  measureFor("cnt", c.name).map(asCount)
                case _ => None
              }
              inner.getOrElse { ok = false; Literal(null) }
            case ae: AggregateExpression => ok = false; ae // distinct/filter
          }
          // type guard: decimal sum-of-sums would widen precision twice
          // and silently change the output schema — decline instead
          if (!ok || swapped.dataType != al.child.dataType) return None
          Alias(swapped, al.name)(al.exprId)
        case _ => return None
      }
      // the filter (if any): deterministic, subquery-free, every column
      // a view GROUPING column — then it commutes with the rollup and
      // re-applies onto the view scan with attributes remapped by name
      val viewChild: LogicalPlan = filterCond match {
        case None => mv.view
        case Some(cond) =>
          if (!cond.deterministic) return None
          if (cond.exists(_.isInstanceOf[SubqueryExpression])) return None
          var mappable = true
          val remapped = cond.transform {
            case a: AttributeReference =>
              mv.groupCols.find(_ == a.name).flatMap(mvOut.get) match {
                case Some(viewAttr) => viewAttr
                case None => mappable = false; a
              }
          }
          if (!mappable) return None
          Filter(remapped, mv.view)
      }
      val newGrouping: Seq[Expression] = groupNames.map(mvOut(_))
      Some(Aggregate(newGrouping, rewritten, viewChild, None))
    }
  }

  // ---- registry key -------------------------------------------------
  import org.apache.spark.sql.functions._

  /** Stage an ISOLATED fact copy + its summary view once per JVM. The
    * MV is registered against the staged copy's path (never the shared
    * fixture file), so the JVM-global registry cannot reroute any other
    * key's plan — MV routing is an opt-in property of this fact. */
  private def mvStage(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_mv", dir) { tmp =>
      graft.Tables(spark, dir, "orders")
        .write.parquet(s"$tmp/fact")
      spark.read.parquet(s"$tmp/fact")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("mv_cnt"),
          sum("o_totalprice").as("mv_sum_price"),
          min("o_totalprice").as("mv_min_price"),
          max("o_totalprice").as("mv_max_price"))
        .write.parquet(s"$tmp/view")
    }

  private[graft] def ensureRegistered(spark: SparkSession,
      dir: String): String = {
    val tmp = mvStage(spark, dir)
    register(spark, s"$tmp/fact",
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      measures = Seq(
        Measure("cnt", "*", "mv_cnt"),
        Measure("sum", "o_totalprice", "mv_sum_price"),
        Measure("min", "o_totalprice", "mv_min_price"),
        Measure("max", "o_totalprice", "mv_max_price")),
      view = spark.read.parquet(s"$tmp/view"))
    tmp
  }

  /** The user-shaped query: a NATURAL aggregate over the fact, grouped
    * COARSER than the view (status only — exercises the rollup path:
    * count as sum-of-counts, sum as sum-of-sums on the cent grid per
    * §5.3, min/max as extreme-of-extremes). MvRewriteSpec asserts the
    * executed plan scans the view's files and never touches the fact;
    * the oracle proves the rerouted answer equals the direct one. */
  def mvRewriteQuery(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tmp = ensureRegistered(spark, dir)
    spark.read.parquet(s"$tmp/fact")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"))
      .orderBy("o_orderstatus")
  }

  /** The FILTERED dashboard shape: WHERE on a grouping column, GROUP BY
    * a coarser subset. The predicate commutes with the rollup, so the
    * rule reroutes this too — re-applying the filter onto the (much
    * smaller) view scan. MvRewriteSpec asserts the routed plan and the
    * measure-column decline guard. */
  def mvRewriteFiltered(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tmp = ensureRegistered(spark, dir)
    spark.read.parquet(s"$tmp/fact")
      .filter(col("o_orderpriority") === "1-URGENT" ||
        col("o_orderpriority") === "2-HIGH")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Two candidate views over ONE isolated fact copy: `view_fine` at
    * (status, priority) and `view_coarse` at (status) — the
    * cost-selection fixture. Separate from [[mvStage]] so routing of
    * the single-view keys never depends on key execution order. */
  private def mvSelStage(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_mv_sel", dir) { tmp =>
      graft.Tables(spark, dir, "orders")
        .write.parquet(s"$tmp/fact")
      val fact = spark.read.parquet(s"$tmp/fact")
      fact.groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("mv_cnt"),
          sum("o_totalprice").as("mv_sum_price"))
        .write.parquet(s"$tmp/view_fine")
      fact.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("mv_cnt"),
          sum("o_totalprice").as("mv_sum_price"))
        .write.parquet(s"$tmp/view_coarse")
    }

  private[graft] def ensureRegisteredSelect(spark: SparkSession,
      dir: String): String = {
    val tmp = mvSelStage(spark, dir)
    val measures = Seq(
      Measure("cnt", "*", "mv_cnt"),
      Measure("sum", "o_totalprice", "mv_sum_price"))
    register(spark, s"$tmp/fact",
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      measures = measures,
      view = spark.read.parquet(s"$tmp/view_fine"))
    register(spark, s"$tmp/fact",
      groupCols = Seq("o_orderstatus"),
      measures = measures,
      view = spark.read.parquet(s"$tmp/view_coarse"))
    tmp
  }

  /** COST-BASED VIEW SELECTION: with both candidates registered, the
    * status-grouped query is coverable by either — the rule must pick
    * the COARSER (smaller) view; a priority-grouped sibling must still
    * route to the fine view (coarse cannot cover it). MvRewriteSpec
    * asserts both executed plans; the oracle proves the selected
    * view's answer. */
  def mvSelectQuery(spark: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tmp = ensureRegisteredSelect(spark, dir)
    spark.read.parquet(s"$tmp/fact")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")
  }

  def queries: Map[String, (SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
    "plan_mv_rewrite" -> mvRewriteQuery,
    "plan_mv_rewrite_filtered" -> mvRewriteFiltered,
    "plan_mv_select" -> mvSelectQuery)

  def oracle: Map[String, String] = Map(
    "plan_mv_rewrite" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price, " +
        "min(o_totalprice) AS min_price, max(o_totalprice) AS max_price " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "plan_mv_rewrite_filtered" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH' " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "plan_mv_select" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"))
}
