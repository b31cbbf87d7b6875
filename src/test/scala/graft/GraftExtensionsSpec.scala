package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.CommandExecutionMode

import graft.plans.{GraftExtensions, MaterializedViews, RewriteCohortScalar, RewriteExistsOther, RewriteWindowTopK}
import graft.sources.RewriteGvtDml

/** A session built ONLY through `withExtensions(new GraftExtensions)` —
  * what a cluster user gets from `spark.sql.extensions`, no
  * [[graft.Sessions]] call — resolves every graft SQL function, plans
  * every rewrite-gated key with the same graft rule or strategy and
  * answers with the same rows as the shared test session.
  */
class GraftExtensionsSpec extends GraftSuite {

  /** A fresh session on the running context, built with the extension
    * alone; the shared session stays the active and default one. */
  private def withExtensionSession[A](body: SparkSession => A): A = {
    val (active, default) = (SparkSession.getActiveSession, SparkSession.getDefaultSession)
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try body(ext)
    finally {
      default.foreach(SparkSession.setDefaultSession)
      active.foreach(SparkSession.setActiveSession)
    }
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private val keyRules: Seq[(String, Rule[_])] = Seq(
    "plan_topk_rewrite" -> RewriteWindowTopK,
    "sql_tpch_q20x" -> RewriteCohortScalar,
    "sql_tpch_q21x" -> RewriteExistsOther,
    "plan_mv_rewrite" -> MaterializedViews.Rewrite,
    "plan_mv_rewrite_filtered" -> MaterializedViews.Rewrite,
    "plan_mv_select" -> MaterializedViews.Rewrite)

  test("an extension-only session plans every rewrite-gated key like the shared session") {
    val expected = keyRules.map { case (k, _) => k -> rows(SparkEntry.queries(k)(spark, sf0001)) }.toMap
    withExtensionSession { ext =>
      assert(!(ext eq spark))
      for ((key, rule) <- keyRules) {
        val df = SparkEntry.queries(key)(ext, sf0001)
        assert(timesFired(df, rule) > 0, s"$key: ${rule.ruleName} did not fire")
        assert(rows(df) == expected(key), s"$key: rows differ from the shared session")
      }
      val topk = SparkEntry.queries("plan_topk_rewrite")(ext, sf0001)
      assert(topk.queryExecution.executedPlan.toString.contains("TopKPerGroup"),
        "TopKStrategy must plan the collapsed window")
    }
  }

  test("an extension-only session resolves graft's five SQL functions") {
    assert(GraftExtensions.functions.map(_._1) == Seq("cosine_sim", "minhash_agg",
      "sliding_windows", "sorted_intersect_count", "shingle_set"))
    withExtensionSession { ext =>
      for ((name, _, _) <- GraftExtensions.functions)
        assert(ext.catalog.functionExists(name), s"$name is not registered")
      val r = ext.sql("SELECT shingle_set('one two three one two three'), " +
        "xxhash64('one', 'two', 'three'), xxhash64('two', 'three', 'one'), " +
        "xxhash64('three', 'one', 'two')").head()
      assert(r.getSeq[Long](0) == Seq(r.getLong(1), r.getLong(2), r.getLong(3)).sorted)
    }
  }

  test("an extension-only session lowers SQL UPDATE and MERGE INTO on a gvt table") {
    def dmlFired(s: SparkSession, sql: String): Long = {
      val qe = s.sessionState.executePlan(
        s.sessionState.sqlParser.parsePlan(sql), CommandExecutionMode.SKIP)
      qe.optimizedPlan
      qe.tracker.rules.get(RewriteGvtDml.ruleName)
        .map(_.numEffectiveInvocations).getOrElse(0L)
    }
    def run(s: SparkSession): Seq[String] = {
      val t = s"gvt.`${Files.createTempDirectory("gvt-ext-")}/t`"
      s.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) TBLPROPERTIES ('stats'='k')")
      s.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 20)")
      val update = s"UPDATE $t SET v = v + 1 WHERE k < 5"
      val merge = s"MERGE INTO $t t USING " +
        "(SELECT id AS k, id * 100 AS v FROM range(15, 25)) s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"
      for (dml <- Seq(update, merge)) {
        assert(dmlFired(s, dml) > 0, s"RewriteGvtDml did not lower: $dml")
        s.sql(dml)
      }
      rows(s.sql(s"SELECT k, v FROM $t"))
    }
    val expected = run(spark)
    assert(expected.length == 25)
    withExtensionSession(ext => assert(run(ext) == expected))
  }
}
