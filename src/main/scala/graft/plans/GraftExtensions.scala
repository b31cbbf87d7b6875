package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.{CosineSimilarity, MinHashAgg, SelfCosine, ShingleSet, SlidingWindows, SortedIntersectCount}

/** Catalyst optimizer rule: `cosine_sim(x, x)` → `SelfCosine(x)` for
  * deterministic x — a single-pass kernel that drops the dot product and
  * second norm accumulator but reproduces the binary kernel's arithmetic
  * bit-for-bit (NaN on zero-norm/empty vectors, null-in → null-out), so
  * the rewrite never changes an observable result.
  */
object SimplifySelfCosine extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case CosineSimilarity(l, r) if l.semanticEquals(r) && l.deterministic =>
        SelfCosine(l)
    }
}

/** Everything graft adds to a Spark session, and the ONE way it gets
  * there (SURVEY.md §4 extension hooks). Enable it cluster-wide with
  * `spark.sql.extensions=graft.plans.GraftExtensions` or per session
  * with `.withExtensions(new GraftExtensions)`; [[graft.Sessions]] does
  * the latter, so Verify, Bench, the tests and every `newSession()`
  * child plan with exactly the rules a cluster user gets. No query key
  * registers a function or installs a rule.
  *
  * All optimizer rules ride `injectPreCBORule`, the latest logical slot
  * an extension has: after operator optimization has settled filters,
  * projections and decorrelation, before `RewritePredicateSubquery`
  * turns EXISTS into semi/anti joins (so [[RewriteExistsOther]] matches
  * the `Filter(Exists(...))` form there). A/B a rule with Spark's own
  * switch, one rule per run:
  * `spark.sql.optimizer.excludedRules=graft.plans.RewriteCohortScalar`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    for ((name, cls, build) <- GraftExtensions.functions)
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    for (r <- GraftExtensions.rules) e.injectPreCBORule(_ => r)
    e.injectPlannerStrategy(_ => TopKStrategy)
  }
}

object GraftExtensions {

  /** SQL functions: (name, expression class, builder). */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", classOf[CosineSimilarity],
      a => CosineSimilarity(a(0), a(1))),
    ("minhash_agg", classOf[MinHashAgg], a => MinHashAgg(a(0))),
    ("sliding_windows", classOf[SlidingWindows],
      a => SlidingWindows(a(0), a(1), a(2))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      a => SortedIntersectCount(a(0), a(1))),
    ("shingle_set", classOf[ShingleSet], a => ShingleSet(a(0))))

  /** Optimizer rules, in the order the Pre-CBO batch runs them. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    SimplifySelfCosine,
    RewriteWindowTopK,
    RewriteExistsOther,
    MaterializedViews.Rewrite,
    RewriteCohortScalar,
    graft.sources.RewriteGvtDml)
}
