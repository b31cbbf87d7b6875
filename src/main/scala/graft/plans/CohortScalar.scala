package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Collapses the HAVING-vs-cohort-average double scan — TPC-H Q20's
  * nested shape (`GROUP BY k HAVING agg > (SELECT scalar FROM <same
  * cohort>)`) — by deriving the scalar from the grouped aggregate it
  * sits on top of.
  *
  * As optimized today, the per-key aggregate and the uncorrelated
  * scalar subquery each carry their OWN copy of the cohort plan (the
  * same filtered fact join), and because one aggregates per key and
  * the other globally, their partial-aggregate exchanges are not
  * canonically equal — no exchange/stage reuse fires and the fact is
  * scanned (and joined) twice. DevPlanGate on `sql_tpch_q20x`
  * measured exactly that: `lineitem -> 2` scans.
  *
  * The algebra: when the scalar is built from
  *  - `Sum(x)` (non-distinct) where the grouped aggregate already
  *    computes `Sum(x)` per key: the global sum is the sum of per-key
  *    sums (null-key rows land in the null group — included either
  *    way; an all-null group sums to null and both forms skip it);
  *  - `Count(DISTINCT k)` where `k` is a grouping key present in the
  *    grouped output: when `k` is the SOLE grouping key, distinct
  *    non-null keys = non-null group rows, so it is a plain
  *    `Count(key)` over groups; under a composite key (k, j) the group
  *    rows repeat each k once per j, so the rewrite keeps DISTINCT —
  *    `Count(DISTINCT key)` over groups — which still re-roots the
  *    scalar on the grouped aggregate (one fact scan) and counts each
  *    non-null k exactly once;
  * the scalar plan can be re-rooted ON the grouped aggregate. The
  * cohort subplans are then canonically identical, AQE's stage cache
  * reuses the grouped partial-aggregate exchange across the subquery
  * and the main plan, and the fact branch runs ONCE. Anything else —
  * other aggregate functions, a distinct count over a non-key column,
  * a sum the group by does not compute, a type-changing rewrite —
  * DECLINES and leaves the subquery untouched (decline = correct; the
  * original SQL stays the oracle).
  */
object RewriteCohortScalar extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, agg: Aggregate) =>
      var changed = false
      val newCond = cond.transform {
        case sub: ScalarSubquery if sub.outerAttrs.isEmpty =>
          derive(sub, agg) match {
            case Some(s) => changed = true; s
            case None => sub
          }
      }
      if (changed) Filter(newCond, agg) else f
  }

  private def derive(sub: ScalarSubquery,
      agg: Aggregate): Option[ScalarSubquery] = sub.plan match {
    case Aggregate(Nil, Seq(al: Alias), c2, _) if c2.sameResult(agg.child) =>
      // sameResult ⇒ outputs correspond positionally; remap the scalar's
      // expression onto the grouped aggregate's child attributes
      val mapping = AttributeMap(c2.output.zip(agg.child.output))
      val gkAttrs = agg.groupingExpressions.map {
        case a: Attribute => a
        case _ => return None
      }
      // per-key sums the grouped aggregate already computes, keyed by
      // their (child-side) sum input expression
      val sums: Seq[(Expression, Attribute)] = agg.aggregateExpressions.collect {
        case a @ Alias(AggregateExpression(s: Sum, Complete, false, None, _), _) =>
          (s.child, a.toAttribute)
      }
      // the grouped OUTPUT attribute carrying a given grouping key
      def keyOut(k: Expression): Option[Attribute] =
        agg.aggregateExpressions.collectFirst {
          case a: Attribute if a.semanticEquals(k) => a
          case a @ Alias(ar: Attribute, _) if ar.semanticEquals(k) =>
            a.toAttribute
        }
      var ok = true
      val remapped = al.child.transform {
        case a: Attribute => mapping.getOrElse(a, { ok = false; a })
      }
      if (!ok) return None
      val swapped = remapped.transformUp {
        case AggregateExpression(s: Sum, Complete, false, None, _) =>
          sums.find(_._1.semanticEquals(s.child)) match {
            case Some((_, attr)) => Sum(attr).toAggregateExpression()
            case None => ok = false; Sum(s.child).toAggregateExpression()
          }
        case AggregateExpression(Count(Seq(k)), Complete, true, None, _)
            if gkAttrs.exists(_.semanticEquals(k)) =>
          keyOut(gkAttrs.find(_.semanticEquals(k)).get) match {
            case Some(attr) =>
              // sole grouping key: group rows are already distinct in k.
              // Composite key: each k repeats once per other-key combo —
              // keep DISTINCT (still one fact scan, just a distinct agg
              // over the much smaller grouped relation).
              Count(Seq(attr))
                .toAggregateExpression(isDistinct = gkAttrs.size > 1)
            case None => ok = false; Count(Seq(k)).toAggregateExpression()
          }
        case ae: AggregateExpression => ok = false; ae
      }
      // type guard: sum-of-sums widens some numeric types (decimal);
      // a schema change would silently alter the scalar — decline
      if (!ok || swapped.dataType != al.child.dataType) None
      else Some(sub.withNewPlan(
        Aggregate(Nil, Seq(Alias(swapped, al.name)(al.exprId)), agg))
        .asInstanceOf[ScalarSubquery])
    case _ => None
  }
}
