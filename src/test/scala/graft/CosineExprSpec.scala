package graft

import org.apache.spark.sql.functions._

/** The codegen'd CosineSimilarity expression must be value-identical to
  * the HOF definition (same double accumulation order) and must actually
  * participate in whole-stage codegen.
  */
class CosineExprSpec extends GraftSuite {

  test("expression equals HOF cosine bit-for-bit on all sf0.001 vectors") {
    val e = Tables(spark, sf0001, "embeddings")
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
    val both = e.crossJoin(broadcast(probe)).select(
      col("vec_id"),
      expr("cosine_sim(embedding, probe)").as("fast"),
      llm.Similarity.cosine(col("embedding"), col("probe")).as("hof"))
    val diff = both.filter(col("fast") =!= col("hof")).count()
    assert(diff == 0, s"$diff rows diverge between codegen and HOF cosine")
  }

  test("expression runs inside WholeStageCodegen") {
    val e = Tables(spark, sf0001, "embeddings")
    val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("probe"))
    val df = e.crossJoin(broadcast(probe))
      .select(expr("cosine_sim(embedding, probe)").as("sim"))
    // force THIS frame's execution so AQE finalizes its plan
    assert(df.collect().nonEmpty)
    val plan = df.queryExecution.executedPlan.toString
    // "*(n) Project [cosinesimilarity..." marks the WholeStageCodegen span
    assert(plan.contains("*(") && plan.contains("cosinesimilarity"),
      plan.take(600))
  }

  test("self-similarity is exactly 1 within fp tolerance") {
    val bad = Tables(spark, sf0001, "embeddings")
      .select(expr("cosine_sim(embedding, embedding)").as("s"))
      .filter(abs(col("s") - 1.0) > 1e-12).count()
    assert(bad == 0)
  }

  test("sorted_intersect_count equals size(array_intersect) on random " +
      "sorted-distinct arrays incl. empty/disjoint/equal edges") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def arr(): Seq[Long] =
      Seq.fill(rnd.nextInt(80))(rnd.nextInt(120).toLong).distinct.sorted
    val rows = Seq.fill(500)((arr(), arr())) ++ Seq(
      (Seq.empty[Long], Seq.empty[Long]),
      (Seq.empty[Long], Seq(1L, 2L, 3L)),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      (Seq(Long.MinValue, 0L, Long.MaxValue), Seq(Long.MinValue, Long.MaxValue)))
    // repartition blocks ConvertToLocalRelation from folding the whole
    // projection at plan time — the expression must EXECUTE, in codegen
    val df = rows.toDF("a", "b").repartition(2)
      .select(expr("sorted_intersect_count(a, b)").as("fast"),
        size(array_intersect(col("a"), col("b"))).as("ref"))
    assert(df.filter(col("fast") =!= col("ref")).count() == 0)
    assert(df.queryExecution.executedPlan.toString
      .toLowerCase.contains("sortedintersectcount"))
  }

  test("a null ELEMENT nulls the kernel results instead of reading 0") {
    // array(...) with a null literal gives a containsNull = true schema
    // — the guarded codegen path; repartition so the expressions
    // actually execute instead of constant-folding
    val df = spark.range(1).repartition(2).selectExpr(
      "cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c_null",
      "cosine_sim(array(CAST(3.0 AS FLOAT)), array(CAST(2.0 AS FLOAT))) " +
        "AS c_ok",
      "sorted_intersect_count(array(CAST(1 AS BIGINT), CAST(NULL AS BIGINT)), " +
        "array(CAST(1 AS BIGINT))) AS s_null",
      "sorted_intersect_count(array(CAST(1 AS BIGINT), CAST(2 AS BIGINT)), " +
        "array(CAST(2 AS BIGINT))) AS s_ok")
    val r = df.collect().head
    assert(r.isNullAt(0), "null element must null cosine_sim")
    assert(!r.isNullAt(1) && math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.isNullAt(2), "null element must null sorted_intersect_count")
    assert(r.getInt(3) == 1)
  }

}
