package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.rules.Rule
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks one
  * test JVM, so every suite reuses this session).
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    // same shared conf set and GraftExtensions as Verify/Bench
    // (graft.Sessions) so tests validate keys under the config they ship with
    val s = Sessions.builder("4").appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf0001: String = SparkTestBase.sf0001
  def sf001: String = SparkTestBase.sf001

  /** Run `body` with `rule` switched off by Spark's own
    * `spark.sql.optimizer.excludedRules` — the rule-off control run. */
  def withRuleOff[A](rule: Rule[_])(body: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules", rule.ruleName)
    try body finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** How many times `rule` changed the plan while `df` was optimized
    * (optimizing it now if it has not been yet). */
  def timesFired(df: DataFrame, rule: Rule[_]): Long = {
    val qe = df.queryExecution
    qe.optimizedPlan
    qe.tracker.rules.get(rule.ruleName).map(_.numEffectiveInvocations).getOrElse(0L)
  }
}
