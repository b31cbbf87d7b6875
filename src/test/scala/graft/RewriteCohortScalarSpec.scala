package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.plans.RewriteCohortScalar

/** Evidence tests for [[graft.plans.RewriteCohortScalar]] — the q20x
  * HAVING-vs-cohort-scalar scan-dedup rule that ships installed on
  * every session (GraftExtensions). Asserts, on EXECUTED plans:
  * (a) the rule fires on the real `sql_tpch_q20x` and the fact branch
  * scans lineitem ONCE (DevPlanGate measured `lineitem -> 2` before
  * the rule), with answers equal to the rule-off control;
  * (b) under a COMPOSITE grouping key the rewritten
  * `count(DISTINCT key)` keeps DISTINCT over the grouped rows — the
  * round-9 advice bug (counting (k,j) groups instead of distinct k)
  * stays fixed;
  * (c) each decline guard (distinct count over a non-grouping-key
  * column, a sum the grouped aggregate does not compute, decimal
  * sum-of-sums widening) leaves the double scan in place with answers
  * identical to the control.
  */
class RewriteCohortScalarSpec extends GraftSuite {

  /** lineitem scan count in the executed plan, subqueries included;
    * Reused* nodes terminate the walk (a reused exchange/subquery is
    * NOT a second scan — that is the point of the rule). */
  private def lineitemScans(df: DataFrame): Int = {
    df.collect()
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec | _: ReusedSubqueryExec => Seq(p)
      case _ => p +: (p.children ++ p.subqueries).flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).count {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.exists(_.getName.startsWith("lineitem"))
      case _ => false
    }
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def fired(df: DataFrame): Boolean = timesFired(df, RewriteCohortScalar) > 0

  private def li(): Unit =
    Tables(spark, sf0001, "lineitem").createOrReplaceTempView("li_cs")

  private val qc = "CAST(round(l_quantity * 100, 0) AS BIGINT)"

  test("q20x: rule fires, fact branch scans lineitem once, answers equal control") {
    val q = SparkEntry.queries("sql_tpch_q20x")(spark, sf0001)
    assert(fired(q), "rule must fire on q20x")
    val n = lineitemScans(q)
    assert(n == 1, s"expected a single lineitem scan after rewrite, saw $n")
    val rewritten = sorted(q)
    withRuleOff(RewriteCohortScalar) {
      val control = SparkEntry.queries("sql_tpch_q20x")(spark, sf0001)
      assert(!fired(control), "rule-off control run fired")
      assert(lineitemScans(control) == 2,
        "control (rule off) should carry the double scan the rule removes")
      assert(sorted(control) == rewritten)
    }
  }

  test("composite grouping key: count(DISTINCT key) stays distinct over groups") {
    li()
    // grouping on (l_suppkey, l_quantity) makes both cohort branches
    // read the same column set, so sameResult holds and the rule FIRES
    // with a composite key; the scalar's count(DISTINCT l_suppkey)
    // must count distinct suppliers, not distinct (suppkey, quantity)
    // groups — the advice bug inflated it ~15x here. The multiplier is
    // sized so the HAVING keeps SOME rows: an all-filtered result lets
    // AQE fold the plan to EmptyRelation and there is nothing to assert.
    val sql =
      s"""SELECT l_suppkey, l_quantity FROM li_cs
         |GROUP BY l_suppkey, l_quantity
         |HAVING sum($qc) * 100 >
         |  (SELECT sum($qc) / count(DISTINCT l_suppkey) FROM li_cs)
         |ORDER BY l_suppkey, l_quantity""".stripMargin
    val q = spark.sql(sql)
    assert(fired(q), "rule must fire on the composite-key shape")
    assert(lineitemScans(q) == 1, "composite-key shape should still dedup the scan")
    val rewritten = sorted(q)
    withRuleOff(RewriteCohortScalar) {
      val control = spark.sql(sql)
      assert(!fired(control), "rule-off control run fired")
      assert(lineitemScans(control) == 2)
      assert(sorted(control) == rewritten,
        "composite-key rewrite changed the answer — DISTINCT lost over groups")
    }
    assert(rewritten.nonEmpty, "degenerate fixture: HAVING filtered everything")
  }

  test("decline: distinct count over a non-grouping-key column") {
    li()
    // column sets match across branches (suppkey, quantity, partkey on
    // both sides) so sameResult holds and the rule reaches the
    // aggregate swap — then declines on count(DISTINCT l_partkey),
    // which no grouping key carries.
    val sql =
      s"""SELECT l_suppkey, sum($qc) AS sq, sum(l_suppkey) AS sk,
         |       sum(l_partkey) AS sp FROM li_cs
         |GROUP BY l_suppkey
         |HAVING sum($qc) >
         |  (SELECT (sum($qc) + 0 * sum(l_suppkey) + 0 * sum(l_partkey))
         |          / count(DISTINCT l_partkey) FROM li_cs)
         |ORDER BY l_suppkey""".stripMargin
    val q = spark.sql(sql)
    assert(lineitemScans(q) == 2,
      "non-key distinct count must decline and keep both scans")
    assert(!fired(q), "decline shape must leave the plan unchanged")
    val ans = sorted(q)
    withRuleOff(RewriteCohortScalar) {
      val control = spark.sql(sql)
      assert(!fired(control), "rule-off control run fired")
      assert(sorted(control) == ans)
    }
    assert(ans.nonEmpty)
  }

  test("decline: scalar sums an expression the grouped aggregate lacks") {
    li()
    val sql =
      s"""SELECT l_suppkey, l_quantity FROM li_cs
         |GROUP BY l_suppkey, l_quantity
         |HAVING sum($qc) * 200 >
         |  (SELECT sum(CAST(round(l_quantity * 200, 0) AS BIGINT))
         |          / count(DISTINCT l_suppkey) FROM li_cs)
         |ORDER BY l_suppkey, l_quantity""".stripMargin
    val q = spark.sql(sql)
    assert(lineitemScans(q) == 2,
      "a foreign sum must decline and keep both scans")
    assert(!fired(q), "decline shape must leave the plan unchanged")
    val ans = sorted(q)
    withRuleOff(RewriteCohortScalar) {
      val control = spark.sql(sql)
      assert(!fired(control), "rule-off control run fired")
      assert(sorted(control) == ans)
    }
    assert(ans.nonEmpty)
  }

  test("decline: decimal sum-of-sums widening would change the scalar type") {
    li()
    val dec = "CAST(l_quantity AS DECIMAL(12,2))"
    val sql =
      s"""SELECT l_suppkey, sum($dec) AS s FROM li_cs
         |GROUP BY l_suppkey
         |HAVING sum($dec) * 2 >
         |  (SELECT sum($dec) / count(DISTINCT l_suppkey) FROM li_cs)
         |ORDER BY l_suppkey""".stripMargin
    val q = spark.sql(sql)
    assert(lineitemScans(q) == 2,
      "decimal widening must decline and keep both scans")
    assert(!fired(q), "decline shape must leave the plan unchanged")
    val ans = sorted(q)
    withRuleOff(RewriteCohortScalar) {
      val control = spark.sql(sql)
      assert(!fired(control), "rule-off control run fired")
      assert(sorted(control) == ans)
    }
    assert(ans.nonEmpty)
  }
}
