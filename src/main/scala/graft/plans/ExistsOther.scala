package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Coalesce, CreateNamedStruct, EqualTo, Exists, Expression, GetStructField, GreaterThan, GreaterThanOrEqual, Greatest, If, IsNotNull, IsNull, Least, LessThan, LessThanOrEqual, Literal, Not, Or, PredicateHelper, RowOrdering, SubExprUtils}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, Max, Min}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, JoinHint, LogicalPlan, Project, RepartitionByExpression}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** One-pass "leader and best-other" aggregate: per group, over input
  * pairs (value, key), computes
  *
  *   h1 = the extreme (max if `max`, else min) value in the group,
  *        with the key as tiebreak — i.e. the struct-extreme of (v, k);
  *   s1 = h1's key (the "leader");
  *   h2 = the extreme value among rows whose key differs from s1.
  *
  * This is exactly the state needed to answer, for ANY probe key `p` and
  * probe bound `e`, "does a row with key ≠ p and value beyond e exist in
  * the group?": the best value among keys ≠ p is `if (s1 = p) h2 else
  * h1`. [[RewriteExistsOther]] uses it to collapse correlated
  * EXISTS/NOT-EXISTS-another-key subqueries (TPC-H Q21's shape) into a
  * single partial+final aggregation.
  *
  * Correctness of the running update (the subtle part): h2 may absorb
  * values belonging to the FINAL leader (folded while some other key led)
  * — but any such value v was ≤ the then-leader's h1, which is itself a
  * non-s1 value, so h2 never exceeds the true best-other; and every
  * non-leader key's extreme is folded either directly or at the swap
  * that dethroned it, so h2 never undershoots. Merge uses the same
  * argument: the loser buffer's (h1', s1') dominates everything else in
  * that buffer, so `greatest(h2, h1')` is exact (its h2' ≤ h1' and s1' ≠
  * s1). Implemented as a [[DeclarativeAggregate]] — primitive buffer
  * slots, whole-stage-codegen'd, partial+final like any builtin.
  */
case class Top2Keyed(valueExpr: Expression, keyExpr: Expression,
    max: Boolean) extends DeclarativeAggregate {

  override def children: Seq[Expression] = Seq(valueExpr, keyExpr)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Top2Keyed =
    copy(valueExpr = newChildren(0), keyExpr = newChildren(1))

  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("h1", valueExpr.dataType),
    StructField("s1", keyExpr.dataType),
    StructField("h2", valueExpr.dataType)))
  override def prettyName: String = if (max) "top2_keyed_max" else "top2_keyed_min"

  private lazy val h1 =
    AttributeReference("h1", valueExpr.dataType)()
  private lazy val s1 =
    AttributeReference("s1", keyExpr.dataType)()
  private lazy val h2 =
    AttributeReference("h2", valueExpr.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    h1 :: s1 :: h2 :: Nil

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.create(null, valueExpr.dataType),
    Literal.create(null, keyExpr.dataType),
    Literal.create(null, valueExpr.dataType))

  // direction-parametric pieces: struct-extreme comparison and the
  // null-skipping best-of combiner (Greatest/Least skip null children)
  private def beats(a: Expression, b: Expression): Expression =
    if (max) GreaterThan(a, b) else LessThan(a, b)
  private def best(xs: Expression*): Expression =
    if (max) Greatest(xs) else Least(xs)
  private def vk(v: Expression, k: Expression): Expression =
    CreateNamedStruct(Seq(Literal("v"), v, Literal("k"), k))

  override lazy val updateExpressions: Seq[Expression] = {
    val skip = Or(IsNull(valueExpr), IsNull(keyExpr))
    val empty = IsNull(h1)
    val sameKey = EqualTo(keyExpr, s1)
    val newLeader = beats(vk(valueExpr, keyExpr), vk(h1, s1))
    Seq(
      If(skip, h1, If(empty, valueExpr,
        If(sameKey, best(h1, valueExpr), If(newLeader, valueExpr, h1)))),
      If(skip, s1, If(empty, keyExpr,
        If(sameKey, s1, If(newLeader, keyExpr, s1)))),
      If(skip, h2, If(empty, h2,
        If(sameKey, h2,
          If(newLeader, best(h2, h1), best(h2, valueExpr))))))
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val pEmpty = IsNull(h1.left)
    val qEmpty = IsNull(h1.right)
    val same = EqualTo(s1.left, s1.right)
    val pWins = beats(vk(h1.left, s1.left), vk(h1.right, s1.right))
    Seq(
      If(pEmpty, h1.right, If(qEmpty, h1.left,
        If(same, best(h1.left, h1.right),
          If(pWins, h1.left, h1.right)))),
      If(pEmpty, s1.right, If(qEmpty, s1.left,
        If(same, s1.left, If(pWins, s1.left, s1.right)))),
      If(pEmpty, h2.right, If(qEmpty, h2.left,
        If(same, best(h2.left, h2.right),
          If(pWins, best(h2.left, h1.right), best(h2.right, h1.left))))))
  }

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(
      Literal("h1"), h1, Literal("s1"), s1, Literal("h2"), h2))
}

/** Catalyst optimizer rule (r7 verdict task #1, the RewriteWindowTopK
  * precedent): collapses "EXISTS / NOT EXISTS another row with the same
  * key but a different secondary attribute" joins into ONE partial+final
  * aggregation plus a narrow join — the TPC-H Q21 shape, where the
  * EXISTS and NOT-EXISTS branches each re-scan AND re-shuffle the full
  * fact table (r7 ×100 measurement: 2.61 GB shuffled, 9.7 GB memory +
  * 2.2 GB disk spill, 2.3× DuckDB at 60 M fact rows).
  *
  * Matched shape: a `Filter` conjunct `[NOT] EXISTS (sub)` whose
  * decorrelated join condition is
  *
  *   (tk₁ = lk₁ [AND tkᵢ = lkᵢ …]) AND NOT (ts = ls) [AND tv <cmp> e]
  *
  * with tk/ts/tv plain attributes of the subquery side, lk/ls/e
  * deterministic expressions over the outer side, and <cmp> one of
  * >, >=, <, <= in either orientation. Everything else — extra
  * conjuncts, OR trees (null-aware anti joins like NOT IN), multiple
  * inequalities, non-orderable types — DECLINES and leaves the
  * subquery untouched. The rule runs in the Pre-CBO batch
  * ([[GraftExtensions]]), before `RewritePredicateSubquery` turns
  * EXISTS into the semi/anti joins it replaces.
  *
  * The rewrite is exact (no functional-dependency assumptions), because
  * per outer row the subquery's truth depends only on per-key extremes:
  *
  *  - no comparison: ∃ row with ts ≠ ls  ⟺  min(ts) ≠ ls ∨ max(ts) ≠ ls
  *    over the key group (nulls filtered — a null ts can never witness);
  *  - with `tv > e` (monotone in tv): ∃ row with ts ≠ ls ∧ tv > e  ⟺
  *    bestOther > e, where bestOther = (s1 = ls ? h2 : h1) from
  *    [[Top2Keyed]] — the leader's max covers every probe except the
  *    leader itself, whose answer is the best among OTHER keys. `<`
  *    symmetric via the min variant.
  *
  * Null semantics audit (the driver's oracle hash is the proof, but for
  * the record): ls NULL → `NOT(ts = ls)` is NULL → never a witness →
  * semi drops / anti keeps; both forms gate on `IsNotNull(ls)`. lk NULL
  * → key equality NULL → semi drops (inner join drops) / anti keeps
  * (left-outer + coalesce(false)). Key absent from the subquery side →
  * same. e NULL → comparison NULL → coalesce(false) → no witness.
  *
  * Scale effect: the semi/anti's full-width shuffle+sort of the
  * subquery table (the fact, at Q21) becomes a map-side-combined
  * aggregate whose output is one narrow row per key — at 100 TB the
  * difference between shuffling the corpus twice more and shuffling
  * |orders| tuples of 3 columns. Measured on q21x at fact ×100: see
  * BASELINE.md round-8 re-audit.
  */
object RewriteExistsOther extends Rule[LogicalPlan] with PredicateHelper {

  /** (tk,lk) key pairs; the ≠ pair (ts,ls); optional monotone
    * comparison (tv, e, useMaxVariant, rebuild).
    */
  private case class Shape(
      keys: Seq[(Attribute, Expression)],
      ts: Attribute,
      ls: Expression,
      extra: Option[(Attribute, Expression, Boolean,
        (Expression, Expression) => Expression)])

  private def classify(cond: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Shape] = {
    val L = left.outputSet
    val R = right.outputSet
    def leftExpr(e: Expression): Boolean =
      e.references.subsetOf(L) && e.deterministic
    // orient (subquery-side attribute, outer-side expression)
    def sides(a: Expression, b: Expression): Option[(Attribute, Expression)] =
      (a, b) match {
        case (x: Attribute, e) if R.contains(x) && leftExpr(e) => Some((x, e))
        case (e, x: Attribute) if R.contains(x) && leftExpr(e) => Some((x, e))
        case _ => None
      }
    def comparison(c: Expression): Option[(Attribute, Expression, Boolean,
        (Expression, Expression) => Expression)] = c match {
      case GreaterThan(a: Attribute, e) if R.contains(a) && leftExpr(e) =>
        Some((a, e, true, GreaterThan))
      case GreaterThanOrEqual(a: Attribute, e) if R.contains(a) && leftExpr(e) =>
        Some((a, e, true, GreaterThanOrEqual))
      case LessThan(a: Attribute, e) if R.contains(a) && leftExpr(e) =>
        Some((a, e, false, LessThan))
      case LessThanOrEqual(a: Attribute, e) if R.contains(a) && leftExpr(e) =>
        Some((a, e, false, LessThanOrEqual))
      // flipped orientations: e <cmp> tv ⟺ tv <cmp'> e
      case GreaterThan(e, a: Attribute) if R.contains(a) && leftExpr(e) =>
        Some((a, e, false, (o, ee) => GreaterThan(ee, o)))
      case GreaterThanOrEqual(e, a: Attribute) if R.contains(a) && leftExpr(e) =>
        Some((a, e, false, (o, ee) => GreaterThanOrEqual(ee, o)))
      case LessThan(e, a: Attribute) if R.contains(a) && leftExpr(e) =>
        Some((a, e, true, (o, ee) => LessThan(ee, o)))
      case LessThanOrEqual(e, a: Attribute) if R.contains(a) && leftExpr(e) =>
        Some((a, e, true, (o, ee) => LessThanOrEqual(ee, o)))
      case _ => None
    }

    var keys = Vector.empty[(Attribute, Expression)]
    var neq: Option[(Attribute, Expression)] = None
    var extra: Option[(Attribute, Expression, Boolean,
      (Expression, Expression) => Expression)] = None
    var ok = true
    splitConjunctivePredicates(cond).foreach {
      case EqualTo(a, b) => sides(a, b) match {
        case Some(p) => keys :+= p
        case None => ok = false
      }
      case Not(EqualTo(a, b)) => sides(a, b) match {
        case Some(p) if neq.isEmpty => neq = Some(p)
        case _ => ok = false
      }
      case other => comparison(other) match {
        case Some(c) if extra.isEmpty => extra = Some(c)
        case _ => ok = false
      }
    }
    if (!ok || keys.isEmpty || neq.isEmpty) None
    else {
      val orderable = RowOrdering.isOrderable(neq.get._1.dataType) &&
        extra.forall(c => RowOrdering.isOrderable(c._1.dataType))
      if (orderable) Some(Shape(keys, neq.get._1, neq.get._2, extra))
      else None
    }
  }

  private def rewrite(left: LogicalPlan, right: LogicalPlan,
      semi: Boolean, s: Shape): LogicalPlan = {
    val keyAttrs = s.keys.map(_._1).distinct
    // rows with a null key/ts/tv can never witness the subquery — drop
    // them before the aggregate (also makes min/max/Top2 non-null per
    // surviving group)
    val notNull = (keyAttrs :+ s.ts) ++ s.extra.map(_._1).toSeq
    val tFilt = Filter(notNull.distinct.map(IsNotNull).reduce[Expression](And), right)
    val (aggExprs, existsWitness) = s.extra match {
      case None =>
        val mn = Alias(Min(s.ts).toAggregateExpression(), "minOther")()
        val mx = Alias(Max(s.ts).toAggregateExpression(), "maxOther")()
        (Seq(mn, mx),
          Or(Not(EqualTo(mn.toAttribute, s.ls)),
            Not(EqualTo(mx.toAttribute, s.ls))))
      case Some((tv, e, useMax, cmp)) =>
        val t2 = Alias(
          Top2Keyed(tv, s.ts, useMax).toAggregateExpression(), "top2")()
        val a = t2.toAttribute
        val bestOther = If(EqualTo(GetStructField(a, 1, Some("s1")), s.ls),
          GetStructField(a, 2, Some("h2")), GetStructField(a, 0, Some("h1")))
        (Seq(t2), cmp(bestOther, e))
    }
    // Repartition on the key BEFORE aggregating: at scale the rows of
    // one key spread across ~every scan partition, so a map-side partial
    // pass reduces nothing while building a distinct-keys-sized hash map
    // per task (measured at fact ×100: 11 GB of hash-agg spill from
    // ~2 M-entry partial maps over 34 MB scan splits). Shuffling the raw
    // narrow rows first costs the same exchange bytes the partial
    // output would (no reduction to lose) and bounds every agg map at
    // |keys|/width. No explicit partition count — AQE sizes it
    // (initialPartitionNum/minPartitionNum from graft.Sessions), and the
    // final aggregate reuses the same partitioning, so the rewrite adds
    // exactly ONE exchange per collapsed subquery branch.
    //
    // Stats-gated: below `repartitionMinBytes` (default 128 MiB of
    // ESTIMATED branch bytes) the partial maps fit comfortably and the
    // pre-exchange only adds fixed cost — measured +1.0 s on
    // sql_tpch_q21x at sf0.1 for a spill that never happens there.
    // Calibration note: without CBO, Catalyst's size-only estimator
    // scales the relation bytes by the PROJECTED column-width ratio, so
    // the branch estimate is ~¼ of the fact's file size (the subquery
    // reads 2-3 of 11 columns) — the fact-×100 replica estimates
    // ~300 MB, sf0.1 ~3 MB. 128 MiB splits those by two orders of
    // magnitude on each side; plan-checked on both dirs (PlanQ21).
    val reshuffleMin = org.apache.spark.sql.internal.SQLConf.get
      .getConfString("spark.graft.existsOther.repartitionMinBytes",
        (128L << 20).toString).toLong
    val aggChild =
      if (tFilt.stats.sizeInBytes >= reshuffleMin)
        RepartitionByExpression(keyAttrs, tFilt, None)
      else tFilt
    val agg = Aggregate(keyAttrs, keyAttrs ++ aggExprs, aggChild)
    val joinCond = s.keys.map { case (tk, lk) =>
      EqualTo(lk, tk): Expression
    }.reduce(And)
    // no join-strategy hint: a SHUFFLE_HASH build on the aggregate side
    // was tried and measured indistinguishable at fact ×100 (the sorts
    // are not the bottleneck once width is data-sized), so strategy
    // choice stays with the planner/AQE
    val joined = Join(left, agg,
      if (semi) Inner else LeftOuter, Some(joinCond), JoinHint.NONE)
    val witness = And(IsNotNull(s.ls),
      Coalesce(Seq(existsWitness, Literal(false))))
    val keep = if (semi) witness else Not(witness)
    Project(left.output, Filter(keep, joined))
  }

  /** One `Filter` conjunct as an EXISTS (semi) / NOT EXISTS (anti)
    * over a fully decorrelated subquery: (subquery plan, correlated
    * predicate, semi?). */
  private def existsOf(e: Expression): Option[(LogicalPlan, Expression, Boolean)] = {
    def decorrelated(sub: LogicalPlan, jc: Seq[Expression]) =
      jc.nonEmpty && !sub.exists(_.expressions.exists(SubExprUtils.containsOuter))
    e match {
      case Exists(sub, _, _, jc, _) if decorrelated(sub, jc) =>
        Some((sub, jc.reduce(And), true))
      case Not(Exists(sub, _, _, jc, _)) if decorrelated(sub, jc) =>
        Some((sub, jc.reduce(And), false))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // the split RewritePredicateSubquery makes: the other conjuncts
    // filter first, each collapsed subquery then wraps the result, and a
    // declined one stays in a Filter on top for Spark to rewrite later
    case f @ Filter(cond, child) =>
      val (subs, others) = splitConjunctivePredicates(cond)
        .partition(existsOf(_).isDefined)
      val base = others.reduceOption(And).map(Filter(_, child)).getOrElse(child)
      val (rewritten, declined) = subs.foldLeft((base, Seq.empty[Expression])) {
        case ((p, kept), c) =>
          val (sub, jc, semi) = existsOf(c).get
          classify(jc, p, sub) match {
            case Some(shape) => (rewrite(p, sub, semi, shape), kept)
            case None => (p, kept :+ c)
          }
      }
      if (declined.size == subs.size) f
      else declined.reduceOption(And).map(Filter(_, rewritten)).getOrElse(rewritten)
  }
}
