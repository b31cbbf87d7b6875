package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, Descending, EqualTo, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import graft.Tables

/** Whole-operator Catalyst extension (the SURVEY §2.10 path (c) demo):
  * top-k per group as a first-class logical operator, planned by a custom
  * SparkStrategy into a TWO-PHASE physical operator — per-partition
  * bounded heaps before the exchange, the same k-bounded heaps after it.
  *
  * Why a custom operator instead of `row_number().over(...)` + filter:
  * the window form shuffles EVERY row of the corpus to its group's
  * partition and sorts it there (Spark 4's WindowGroupLimit prunes the
  * sort's output but the full-width exchange remains). The two-phase
  * operator ships at most k rows PER GROUP PER PARTITION into the
  * exchange — at 100 TB with a bounded group count that is the
  * difference between shuffling the corpus and shuffling k·|groups|
  * rows. The ordering must be total (tiebreak included) so the retained
  * set is partition-schedule-independent — the same determinism contract
  * as every other operator here.
  */
case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Physical top-k-per-group: a hash map of group key → size-k priority
  * queue whose head is the WORST retained row (reversed comparator), so
  * each incoming row costs one compare against the current worst and at
  * most one heap update. `partial = true` runs before the exchange
  * (UnspecifiedDistribution); the final instance requires
  * ClusteredDistribution so EnsureRequirements plants the hash exchange
  * between the two — exactly the partial/final shape of HashAggregate.
  */
case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    // no grouping keys → global top-k → all rows on one partition
    // (ClusteredDistribution(Nil) is rejected by Catalyst)
    else if (groupExprs.isEmpty) Seq(AllTuples)
    else Seq(ClusteredDistribution(groupExprs))

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  // First-class SQLMetrics like any builtin operator: retained-row count
  // and number of groups, visible in the SQL UI / explain and asserted in
  // TopKSpec — the shuffle-volume claim ("≤ k·|groups| rows cross the
  // exchange") becomes a measured number instead of scaladoc prose.
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numRetained" -> SQLMetrics.createMetric(sparkContext,
      "rows retained in k-heaps"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext,
      "distinct groups seen"))

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val g = groupExprs
    val so = order
    val kk = k
    val retained = longMetric("numRetained")
    val groups = longMetric("numGroups")
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(g, schema)
      val ord = RowOrdering.create(so, schema)
      // head of each queue = worst retained row for that group
      val rev = new java.util.Comparator[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int =
          ord.compare(b, a)
      }
      val heaps =
        new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var q = heaps.get(key)
        if (q == null) {
          q = new java.util.PriorityQueue[InternalRow](kk + 1, rev)
          heaps.put(key.copy(), q)
        }
        if (q.size < kk) q.add(row.copy())
        else if (ord.compare(row, q.peek()) < 0) { q.poll(); q.add(row.copy()) }
      }
      groups += heaps.size()
      heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
        .map { r => retained += 1; r }
    }
  }
}

/** Auto-rewrite: `Project(Filter(row_number() <= k, Window(...)))` where
  * the rank column is dropped by the projection becomes the native
  * [[TopKPerGroup]] operator — users keep writing the idiomatic window
  * form and get the two-phase k-heap plan (measured ~2× at sf0.1; at
  * scale the win is shuffling k·|groups| rows instead of the corpus).
  *
  * Fires ONLY when: the window computes exactly one expression and it is
  * `row_number()` (rank/dense_rank admit ties — different semantics);
  * the filter is `rn <= k` / `rn < k` / `rn = 1` over an integer
  * literal and references nothing else; and the projection uses only
  * child columns (the rank value must be dead). Runs in the Pre-CBO
  * batch ([[GraftExtensions]]), i.e. AFTER InferWindowGroupLimit has
  * possibly planted a WindowGroupLimit under the Window — that node is
  * redundant once the whole Window collapses, so it is skipped.
  */
object RewriteWindowTopK extends Rule[LogicalPlan] {

  /** Above this the per-group heap is the wrong tool (and `kk + 1`
    * capacities approach Int overflow) — decline and leave Spark's
    * sort-based plan in place. */
  private val MaxK = 10000000

  private def limitOf(cond: Expression, rn: Attribute): Option[Int] = {
    // Long arithmetic: `rn < Int.MinValue` (always-false filter, correct
    // answer: empty) must not wrap k - 1 around to keep-everything
    val raw: Option[Long] = cond match {
      case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType))
        if a.exprId == rn.exprId => Some(k.toLong)
      case LessThan(a: Attribute, Literal(k: Int, IntegerType))
        if a.exprId == rn.exprId => Some(k.toLong - 1)
      case EqualTo(a: Attribute, Literal(1, IntegerType))
        if a.exprId == rn.exprId => Some(1L)
      case _ => None
    }
    raw.filter(k => k >= 1L && k <= MaxK).map(_.toInt)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    // part.nonEmpty: a GLOBAL row_number ≤ k (no PARTITION BY) must stay
    // on Spark's TakeOrdered path — rewriting it would build a
    // TopKPerGroup with no grouping keys (ClusteredDistribution(Nil) is
    // illegal). Hit in practice via count(): column pruning drops the
    // rank projection, making an otherwise rank-referencing global query
    // match the dead-rank guard vacuously.
    case p @ Project(projList,
        Filter(cond,
          Window(Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
            part, order, child0, _)))
        if order.nonEmpty && part.nonEmpty =>
      // InferWindowGroupLimit may already have planted its limit node;
      // it becomes redundant when the Window collapses entirely
      val child = child0 match {
        case WindowGroupLimit(_, _, _, _, inner) => inner
        case other => other
      }
      limitOf(cond, al.toAttribute) match {
        case Some(k) if k > 0
            && projList.forall(_.references.subsetOf(child.outputSet)) =>
          Project(projList, TopKPerGroup(part, order, k, child))
        case _ => p
      }
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, partial = false,
        TopKPerGroupExec(g, o, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {

  /** Top-k rows per group of `df`, planned by [[TopKStrategy]]
    * ([[GraftExtensions]]). `orderCols` are (name, ascending?) and MUST
    * form a total order for a deterministic result.
    */
  def perGroup(
      df: DataFrame,
      groupCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute = analyzed.output
      .find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"no column $n"))
    val order = orderCols.map { case (n, asc) =>
      SortOrder(attr(n), if (asc) Ascending else Descending)
    }
    Bridge.ofRows(spark, TopKPerGroup(groupCols.map(attr), order, k, analyzed))
  }

  /** Top-3 orders per customer through the native operator (same
    * semantics as `win_rank_topn` minus the rank column — the oracle is
    * the standard QUALIFY form).
    */
  def topkNative(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    perGroup(orders, Seq("o_custkey"),
      Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  /** The IDIOMATIC window formulation (row_number ≤ 3, rank dropped) —
    * rewritten automatically to the native operator by
    * [[RewriteWindowTopK]]; the plan assertion lives in TopKSpec. Same
    * oracle as plan_topk_native.
    */
  def topkRewrite(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables(spark, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "plan_topk_native" -> topkNative,
    "plan_topk_rewrite" -> topkRewrite
  )

  private val topkSql =
    "SELECT o_custkey, o_orderkey, o_totalprice FROM (" +
      "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
      "PARTITION BY o_custkey " +
      "ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) " +
      "WHERE rk <= 3 " +
      "ORDER BY o_custkey, o_totalprice DESC, o_orderkey"

  def oracle: Map[String, String] = Map(
    "plan_topk_native" -> topkSql,
    "plan_topk_rewrite" -> topkSql
  )
}
