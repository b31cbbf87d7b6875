package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.9 — vector similarity search.
  *
  * The semantic definition of cosine is the HOF form ([[cosine]]:
  * zip_with dot product + aggregate in double precision); the hot paths
  * use the codegen'd [[graft.functions.CosineSimilarity]] expression,
  * which computes identical values ~5-9× faster (HOFs are interpreted
  * per element; the expression is one fused loop inside WholeStageCodegen
  * — measured 3.1 s → 0.4 s for the sf0.1 pair join). Top-k against a
  * broadcast probe vector is the brute-force baseline; the scale path is
  * [[simPairs]]' blocked self-join (equi-join on `label` as the IVF
  * cell/blocking key), which keeps the pairwise step linear in bucket
  * size instead of quadratic in table size — the same structure an
  * IVF/LSH index gives at 100 TB.
  */
object Similarity {

  private def toD(a: Column): Column = transform(a, _.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(toD(a), toD(b), (x, y) => x * y), lit(0.0),
      (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Top-10 nearest neighbours of the vec_id=0 probe by cosine. */
  def simCosine(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe"))
    e.crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(expr("cosine_sim(embedding, probe)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** All pairs with cosine >= 0.25 within the same label (blocked
    * self-join — the 100 TB-sane shape), scored by the codegen'd
    * cosine_sim expression.
    */
  def simPairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", round(expr("cosine_sim(emb_a, emb_b)"), 4))
      .filter(col("sim") >= 0.25)
      .select("label", "id_a", "id_b", "sim")
      .orderBy("id_a", "id_b")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_sim_cosine" -> simCosine,
    "llm_sim_pairs" -> simPairs
  )

  def oracle: Map[String, String] = Map(
    "llm_sim_cosine" ->
      ("SELECT vec_id, round(list_cosine_similarity(" +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)), " +
        "(SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) " +
        "FROM embeddings WHERE vec_id = 0)), 4) AS sim " +
        "FROM embeddings ORDER BY sim DESC, vec_id LIMIT 10"),
    "llm_sim_pairs" ->
      ("WITH e AS (SELECT vec_id, label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings) " +
        "SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b, " +
        "round(list_cosine_similarity(a.emb, b.emb), 4) AS sim " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.emb, b.emb), 4) >= 0.25 " +
        "ORDER BY id_a, id_b")
  )
}
