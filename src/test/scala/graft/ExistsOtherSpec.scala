package graft

import org.apache.spark.sql.DataFrame
import graft.plans.RewriteExistsOther

/** Differential + plan-shape tests for [[graft.plans.RewriteExistsOther]]
  * and its [[graft.plans.Top2Keyed]] aggregate. The strongest evidence is
  * the driver oracle (q21x verifies against the ORIGINAL EXISTS SQL in
  * DuckDB), but that covers one query; these tests sweep the semantic
  * corners — nulls in every role, ties on the comparison value, single-
  * key groups, keys absent from the subquery side, both comparison
  * directions and orientations — by comparing rewritten results against
  * the same SQL executed with the rule excluded
  * (`spark.sql.optimizer.excludedRules`). Each run also checks, from
  * the query's planning tracker, that the rule fired exactly when the
  * plan says it should — so a rule that silently stopped being
  * installed cannot pass by comparing a plan with itself.
  */
class ExistsOtherSpec extends GraftSuite {

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, types => T}

  private val tSchema = T.StructType(Seq(
    T.StructField("k", T.LongType),
    T.StructField("s", T.LongType),
    T.StructField("v", T.LongType)))
  private val lSchema = T.StructType(Seq(
    T.StructField("k", T.LongType),
    T.StructField("s", T.LongType),
    T.StructField("d", T.LongType)))

  private def mk(schema: T.StructType,
      rows: Seq[(java.lang.Long, java.lang.Long, java.lang.Long)]): DataFrame =
    spark.createDataFrame(
      rows.map { case (a, b, c) => Row(a, b, c) }.asJava, schema)

  /** deterministic pseudo-random corpus: nulls everywhere, heavy key
    * collisions (k in 0..6), value ties (v in 0..4), keys in 0..3 */
  private def randRows(seed: Int, n: Int) = {
    val r = new scala.util.Random(seed)
    def nl(p: Double, v: => Long): java.lang.Long =
      if (r.nextDouble() < p) null else Long.box(v)
    (1 to n).map { _ =>
      (nl(0.1, r.nextInt(7).toLong), nl(0.1, r.nextInt(4).toLong),
        nl(0.1, r.nextInt(5).toLong))
    }
  }

  private def check(sql: String, expectRewrite: Boolean): Unit = {
    val actual = spark.sql(sql)
    val plan = actual.queryExecution.optimizedPlan.toString
    assert((timesFired(actual, RewriteExistsOther) > 0) == expectRewrite,
      s"rule firing should be $expectRewrite:\n$plan")
    if (expectRewrite) {
      assert(!plan.contains("LeftSemi") && !plan.contains("LeftAnti"),
        s"pattern should have been rewritten:\n$plan")
    } else {
      assert(plan.contains("LeftSemi") || plan.contains("LeftAnti"),
        s"decline guard should have left the join in place:\n$plan")
    }
    val got = actual.collect().map(_.toString).sorted
    val want = withRuleOff(RewriteExistsOther) {
      val df = spark.sql(sql)
      val p = df.queryExecution.optimizedPlan.toString
      assert(timesFired(df, RewriteExistsOther) == 0, s"rule-off run fired:\n$p")
      assert(p.contains("LeftSemi") || p.contains("LeftAnti"),
        s"baseline must keep the semi/anti join:\n$p")
      df.collect().map(_.toString).sorted
    }
    assert(got.sameElements(want),
      s"rewrite changed results for:\n$sql\n got: ${got.mkString("|")}\nwant: ${want.mkString("|")}")
  }

  private def register(seed: Int): Unit = {
    mk(tSchema, randRows(seed, 60)).createOrReplaceTempView("eo_t")
    mk(lSchema, randRows(seed + 1000, 40)).createOrReplaceTempView("eo_l")
  }

  test("semi without comparison: EXISTS another key — differential over 3 corpora") {
    for (seed <- Seq(1, 2, 3)) {
      register(seed)
      check("SELECT * FROM eo_l WHERE EXISTS (SELECT 1 FROM eo_t " +
        "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s)", expectRewrite = true)
    }
  }

  test("anti without comparison: NOT EXISTS another key") {
    for (seed <- Seq(4, 5)) {
      register(seed)
      check("SELECT * FROM eo_l WHERE NOT EXISTS (SELECT 1 FROM eo_t " +
        "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s)", expectRewrite = true)
    }
  }

  test("anti with > comparison (the Q21 shape), ties included") {
    for (seed <- Seq(6, 7, 8)) {
      register(seed)
      check("SELECT * FROM eo_l WHERE NOT EXISTS (SELECT 1 FROM eo_t " +
        "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s AND eo_t.v > eo_l.d)",
        expectRewrite = true)
    }
  }

  test("semi with < comparison and flipped orientation") {
    for (seed <- Seq(9, 10)) {
      register(seed)
      check("SELECT * FROM eo_l WHERE EXISTS (SELECT 1 FROM eo_t " +
        "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s AND eo_t.v < eo_l.d)",
        expectRewrite = true)
      // e >= tv form exercises the flip normalization (min variant, >=)
      check("SELECT * FROM eo_l WHERE EXISTS (SELECT 1 FROM eo_t " +
        "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s AND eo_l.d >= eo_t.v)",
        expectRewrite = true)
    }
  }

  test("outer-side expression (not attribute) on the bound and the key") {
    register(11)
    check("SELECT * FROM eo_l WHERE NOT EXISTS (SELECT 1 FROM eo_t " +
      "WHERE eo_t.k = eo_l.k + 1 AND eo_t.s <> eo_l.s " +
      "AND eo_t.v > eo_l.d - 2)", expectRewrite = true)
  }

  test("decline guards: shapes the rule must leave alone") {
    register(12)
    // no inequality pair — plain correlated EXISTS stays a semi join
    check("SELECT * FROM eo_l WHERE EXISTS (SELECT 1 FROM eo_t " +
      "WHERE eo_t.k = eo_l.k)", expectRewrite = false)
    // two inequality pairs — outside the one-≠ shape
    check("SELECT * FROM eo_l WHERE EXISTS (SELECT 1 FROM eo_t " +
      "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s AND eo_t.v <> eo_l.d)",
      expectRewrite = false)
    // comparison references BOTH sides beyond the attribute — decline
    check("SELECT * FROM eo_l WHERE NOT EXISTS (SELECT 1 FROM eo_t " +
      "WHERE eo_t.k = eo_l.k AND eo_t.s <> eo_l.s " +
      "AND eo_t.v + eo_t.s > eo_l.d)", expectRewrite = false)
  }

  test("NOT IN stays a null-aware anti join (OR condition declines)") {
    register(13)
    val sql = "SELECT * FROM eo_l WHERE eo_l.s NOT IN " +
      "(SELECT eo_t.s FROM eo_t WHERE eo_t.v > 2)"
    val got = spark.sql(sql).collect().map(_.toString).sorted
    val on = spark.sql(sql)
    val plan = on.queryExecution.optimizedPlan.toString
    assert(plan.contains("LeftAnti"), s"NOT IN must stay an anti join:\n$plan")
    assert(timesFired(on, RewriteExistsOther) == 0, s"NOT IN must decline:\n$plan")
    val want = withRuleOff(RewriteExistsOther) {
      val off = spark.sql(sql)
      assert(timesFired(off, RewriteExistsOther) == 0)
      off.collect().map(_.toString).sorted
    }
    assert(got.sameElements(want))
  }

  test("Top2Keyed: leader/best-other against a brute-force reference") {
    import org.apache.spark.sql.functions._
    register(14)
    val t = spark.table("eo_t")
      .filter(col("k").isNotNull && col("s").isNotNull && col("v").isNotNull)
    // brute force: per k, leader = max (v, s) struct; best-other = max v
    // over s != leader
    val rows = t.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byK = rows.groupBy(_._1)
    val expected = byK.map { case (k, rs) =>
      val (lv, ls) = rs.map(r => (r._3, r._2)).max
      val others = rs.filter(_._2 != ls).map(_._3)
      (k, lv, ls, if (others.isEmpty) null else Long.box(others.max))
    }.toSet
    val B = org.apache.spark.sql.graftbridge.Bridge
    val agg = B.column(
      graft.plans.Top2Keyed(B.expression(col("v")), B.expression(col("s")),
        max = true).toAggregateExpression())
    val got = t.groupBy("k").agg(agg.as("t2"))
      .select(col("k"), col("t2.h1"), col("t2.s1"), col("t2.h2"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else Long.box(r.getLong(3))))
      .toSet
    assert(got == expected, s"got $got\nexpected $expected")
  }
}
