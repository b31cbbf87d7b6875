package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.plans.MaterializedViews

/** Evidence tests for the materialized-view auto-rewrite: matching
  * queries must SCAN THE VIEW (asserted on the executed plan's file
  * paths), rolled-up answers must equal the direct computation, and
  * every decline guard must leave the plan on the fact.
  */
class MvRewriteSpec extends GraftSuite {

  private def scanPaths(df: DataFrame): Seq[String] = {
    df.collect()
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan) // stages hide their subtree
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.toString)
    }.flatten
  }

  private lazy val stage = MaterializedViews.ensureRegistered(spark, sf0001)
  private def fact = spark.read.parquet(s"$stage/fact")

  test("a matching rollup query scans the VIEW, not the fact") {
    val q = MaterializedViews.mvRewriteQuery(spark, sf0001)
    val paths = scanPaths(q)
    assert(paths.exists(_.endsWith("/view")), s"expected view scan: $paths")
    assert(!paths.exists(_.endsWith("/fact")), s"fact still scanned: $paths")
  }

  /** `query` answers the same with the rule on (where it must fire) and
    * off (where it must not, and the control scans the fact). */
  private def assertEqualsControl(query: => DataFrame): Unit = {
    val on = query
    assert(timesFired(on, MaterializedViews.Rewrite) > 0, "rule must fire")
    val routed = on.collect().toSeq
    withRuleOff(MaterializedViews.Rewrite) {
      val direct = query
      assert(timesFired(direct, MaterializedViews.Rewrite) == 0,
        "rule-off control run fired")
      assert(scanPaths(direct).exists(_.endsWith("/fact")),
        "control run must scan the fact")
      assert(direct.collect().toSeq == routed)
    }
  }

  test("rerouted answer equals the direct computation (rule removed)") {
    assertEqualsControl(MaterializedViews.mvRewriteQuery(spark, sf0001))
  }

  test("exact-granularity match (both grouping columns) also routes") {
    val q = fact.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus", "o_orderpriority")
    assert(scanPaths(q).exists(_.endsWith("/view")))
    assert(q.collect().map(_.getLong(2)).sum ==
      fact.count())
  }

  test("decline guards: filter, distinct, non-measure, other grouping") {
    def scansFact(df: DataFrame): Boolean =
      scanPaths(df).exists(_.endsWith("/fact"))
    // a WHERE not absorbed by the view must keep the fact scan
    assert(scansFact(fact.filter(col("o_orderkey") > 100)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))))
    // DISTINCT aggregates cannot come from sums
    assert(scansFact(fact.groupBy("o_orderstatus")
      .agg(countDistinct(col("o_custkey")).as("n"))))
    // measure not registered (sum of a different column)
    assert(scansFact(fact.groupBy("o_orderstatus")
      .agg(sum("o_custkey").as("s"))))
    // grouping outside the view's grouping set
    assert(scansFact(fact.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"))))
  }

  test("a grouping-column filter routes: predicate re-applied on the view") {
    val q = MaterializedViews.mvRewriteFiltered(spark, sf0001)
    val paths = scanPaths(q)
    assert(paths.exists(_.endsWith("/view")), s"expected view scan: $paths")
    assert(!paths.exists(_.endsWith("/fact")), s"fact still scanned: $paths")
    // answer equality vs the rule-free control
    assertEqualsControl(MaterializedViews.mvRewriteFiltered(spark, sf0001))
  }

  test("a measure-column filter declines: group granularity can't answer it") {
    val q = fact.filter(col("o_totalprice") > 1000.0)
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    assert(scanPaths(q).exists(_.endsWith("/fact")),
      "a row-level measure predicate must keep the fact scan")
  }

  test("global COUNT routed over an empty-matching filter is 0, not null") {
    // the filter is on a grouping column so the rule engages, the view
    // scan matches no groups, and the one-row global aggregate must
    // still say count = 0 (Sum over zero rows alone would say null)
    val q = fact.filter(col("o_orderstatus") === "ZZ")
      .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s"))
    assert(scanPaths(q).exists(_.endsWith("/view")),
      "global aggregate over a grouping-column filter should route")
    val row = q.collect().head
    assert(!row.isNullAt(0) && row.getLong(0) == 0L,
      s"routed global count must be 0 on empty match, got $row")
    assert(row.isNullAt(1), "global sum over zero rows stays null")
  }

  test("count(NULL) stays 0 — never rewritten to the row count") {
    // Catalyst folds count(null) to literal 0 before our batch, so the
    // routed plan carries 0 AS n over the view — the matcher's own
    // non-null-literal guard is defense in depth should that fold move.
    // Either way the VALUE must be 0 per group, not the group size.
    val q = fact.groupBy("o_orderstatus")
      .agg(count(lit(null)).as("n"))
    val rows = q.collect()
    assert(rows.nonEmpty && rows.forall(_.getLong(1) == 0L),
      s"count(null) must be 0 per group: ${rows.toSeq}")
  }

  test("cost-based selection: the cheapest covering view wins") {
    val sel = MaterializedViews.ensureRegisteredSelect(spark, sf0001)
    def selFact = spark.read.parquet(s"$sel/fact")
    // status-grouped: BOTH views cover; the coarse (smaller) one must win
    val coarse = MaterializedViews.mvSelectQuery(spark, sf0001)
    val pc = scanPaths(coarse)
    assert(pc.exists(_.endsWith("/view_coarse")),
      s"coarse query must route to the coarse view: $pc")
    assert(!pc.exists(p => p.endsWith("/view_fine") || p.endsWith("/fact")),
      s"coarse query scanned more than the coarse view: $pc")
    // priority-grouped: only the FINE view covers — selection must not
    // blindly take the cheapest candidate
    val fine = selFact.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
    val pf = scanPaths(fine)
    assert(pf.exists(_.endsWith("/view_fine")),
      s"fine-only query must route to the fine view: $pf")
    assert(!pf.exists(_.endsWith("/fact")), s"fact still scanned: $pf")
    // covered by neither (grouping outside both views): stays on the fact
    val none = selFact.groupBy("o_custkey").agg(count(lit(1)).as("n"))
    assert(scanPaths(none).exists(_.endsWith("/fact")),
      "un-coverable query must decline to the fact")
    // answer equality vs the rule-free control for the selected route
    assertEqualsControl(MaterializedViews.mvSelectQuery(spark, sf0001))
  }

  test("exprIds survive: downstream operators resolve over the rewrite") {
    val q = fact.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), max("o_totalprice").as("mx"))
      .filter(col("n") > 0)
      .orderBy(col("mx").desc, col("o_orderstatus"))
    assert(scanPaths(q).exists(_.endsWith("/view")))
    assert(q.count() > 0)
  }
}
