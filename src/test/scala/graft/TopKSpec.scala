package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Native TopKPerGroup operator: result parity with the window form,
  * two-phase physical shape, and heap edge cases (k larger than group,
  * k = 1, ties broken by the total order).
  */
class TopKSpec extends GraftSuite {

  test("plan_topk_native matches row_number window form exactly") {
    val native = plans.TopK.topkNative(spark, sf001)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val ref = Tables(spark, sf001, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .drop("rk")
    assert(native.exceptAll(ref).count() == 0)
    assert(ref.exceptAll(native).count() == 0)
  }

  test("physical plan is two-phase: partial heap before one exchange, final after") {
    val df = plans.TopK.perGroup(
      Tables(spark, sf001, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerGroup"), physical)
    // partial=true and partial=false instances both present
    assert("TopKPerGroup".r.findAllIn(physical).size == 2, physical)
  }

  test("RewriteWindowTopK turns the idiomatic window form into the native operator") {
    val df = plans.TopK.topkRewrite(spark, sf001)
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("TopKPerGroup"), physical)
    assert(!physical.contains("Window"), physical) // the Window collapsed
    // and it returns exactly the native operator's rows
    val native = plans.TopK.topkNative(spark, sf001)
    assert(df.exceptAll(native).count() == 0)
    assert(native.exceptAll(df).count() == 0)
  }

  test("extreme k literals decline instead of wrapping or overflowing") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    def q(pred: org.apache.spark.sql.Column) =
      Tables(spark, sf0001, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(pred)
        .select("o_custkey", "o_orderkey")
    // rn < Int.MinValue: always-false filter — k-1 must not wrap to
    // keep-everything; the correct answer is zero rows
    val empty = q(col("rn") < Int.MinValue)
    assert(!empty.queryExecution.executedPlan.toString
      .contains("TopKPerGroup"))
    assert(empty.count() == 0)
    // rn <= Int.MaxValue: keep-all — a heap of capacity k+1 would
    // overflow; the rule declines and Spark's plan answers
    val all = q(col("rn") <= Int.MaxValue)
    assert(!all.queryExecution.executedPlan.toString
      .contains("TopKPerGroup"))
    assert(all.count() ==
      Tables(spark, sf0001, "orders").count())
  }

  test("rewrite does NOT fire when the rank column is still referenced") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val keepsRank = Tables(spark, sf0001, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "rn")
    val physical = keepsRank.queryExecution.executedPlan.toString
    assert(!physical.contains("TopKPerGroup"), physical)
    assert(keepsRank.count() > 0)
  }

  test("rewrite does NOT fire on a GLOBAL window, even under count() pruning") {
    import org.apache.spark.sql.expressions.Window
    // no PARTITION BY: count() prunes the rank projection, which once made
    // this match the dead-rank guard vacuously and build an illegal
    // TopKPerGroup with no grouping keys (regression)
    val global = Tables(spark, sf0001, "orders")
      .withColumn("rn", row_number().over(
        Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .filter(col("rn") <= 10)
      .select("o_custkey", "o_orderkey", "rn")
    assert(global.count() == 10)
    assert(!global.queryExecution.executedPlan.toString.contains("TopKPerGroup"))
  }

  test("randomized parity with the window form across group shapes and k") {
    import spark.implicits._
    val rnd = new scala.util.Random(42) // fixed seed — reproducible
    (1 to 6).foreach { trial =>
      val nGroups = 1 + rnd.nextInt(20)
      val nRows = 1 + rnd.nextInt(2000)
      val k = 1 + rnd.nextInt(7)
      val data = (0 until nRows).map { i =>
        (rnd.nextInt(nGroups).toLong, i.toLong, rnd.nextInt(50).toDouble)
      }
      val df = data.toDF("g", "id", "v").repartition(7)
      val native = plans.TopK.perGroup(df, Seq("g"),
        Seq(("v", false), ("id", true)), k)
      val w = Window.partitionBy("g").orderBy(col("v").desc, col("id"))
      val ref = df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k).drop("rn")
      assert(native.exceptAll(ref).count() == 0,
        s"trial $trial ($nGroups groups, $nRows rows, k=$k)")
      assert(ref.exceptAll(native).count() == 0,
        s"trial $trial ($nGroups groups, $nRows rows, k=$k)")
    }
  }

  test("k larger than any group returns every row") {
    val nation = Tables(spark, sf0001, "nation")
      .select(col("n_regionkey"), col("n_nationkey"), col("n_name"))
    val all = plans.TopK.perGroup(nation, Seq("n_regionkey"),
      Seq(("n_nationkey", true)), 1000)
    assert(all.count() == nation.count())
  }

  test("k = 1 picks the single extreme row per group with tiebreak") {
    val top1 = plans.TopK.perGroup(
      Tables(spark, sf0001, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 1)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val ref = Tables(spark, sf0001, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
      .drop("rk")
    assert(top1.exceptAll(ref).count() == 0)
    assert(ref.exceptAll(top1).count() == 0)
  }

  test("custom exec reports SQLMetrics: retained rows = output rows, groups counted") {
    // perGroup WITHOUT the presentation orderBy: a range exchange above
    // the exec would re-execute it for boundary sampling and double every
    // metric (measured 898 = 2×449) — metrics tests need a single-pass plan
    val df = plans.TopK.perGroup(
      Tables(spark, sf0001, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
      Seq("o_custkey"), Seq(("o_totalprice", false), ("o_orderkey", true)), 3)
    // collect() (not count()) so THIS QueryExecution runs — count() plans
    // a separate aggregate execution whose metrics live elsewhere
    val n = df.collect().length.toLong
    // find the FINAL TopKPerGroupExec (partial=false); under AQE the real
    // operators live inside QueryStageExec leaves, which TreeNode.collect
    // does not descend into — walk stages manually
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findAll(p: SparkPlan): Seq[plans.TopKPerGroupExec] = {
      val here = p match {
        case e: plans.TopKPerGroupExec => Seq(e)
        case _ => Nil
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      here ++ kids.flatMap(findAll)
    }
    val execs = findAll(df.queryExecution.executedPlan)
    assert(execs.nonEmpty, df.queryExecution.executedPlan.toString)
    val fin = execs.find(!_.partial).get
    assert(fin.metrics("numRetained").value == n,
      s"${fin.metrics("numRetained").value} != $n")
    // every customer with >=1 order forms a group at the final exec
    val nGroups = Tables(spark, sf0001, "orders")
      .select("o_custkey").distinct().count()
    assert(fin.metrics("numGroups").value == nGroups,
      s"${fin.metrics("numGroups").value} != $nGroups")
  }
}
