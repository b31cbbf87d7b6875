package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Approximate nearest neighbours via random-hyperplane LSH.
  *
  * Index build (the scale path, vs. [[Similarity.simCosine]]'s
  * brute force): explode vectors to (vec, dim, value), join a broadcast
  * 4-plane × 64-dim coefficient table (deterministic ±1 from
  * xxhash64(plane, dim) parity — reproducible without storing planes),
  * aggregate signed sums per (vec, plane) → 4 sign bits → a 16-bucket
  * code. Querying probes only the probe's bucket, then ranks the bucket
  * exactly by cosine. At 100 TB the bucket table is the persisted index;
  * the probe touches 1/16 of the data in expectation (more planes →
  * smaller buckets).
  *
  * No oracle (bucketing has no SQL twin worth maintaining) — LlmSpec
  * asserts the mechanism: probe is its own top hit, every candidate is
  * in the probe's bucket, and bucket-local sims equal the brute-force
  * values.
  */
object AnnLsh {

  private val planes = 4

  /** (vec_id, bucket) for every embedding. */
  def buckets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val coef = broadcast(
      (0 until planes).flatMap(p => (0 until 64).map(d => (p, d)))
        .toDF("plane", "dim")
        .withColumn("c", when(xxhash64(col("plane"), col("dim")) % 2 === 0,
          lit(1.0)).otherwise(lit(-1.0))))
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")))
      .withColumnRenamed("pos", "dim")
      .withColumnRenamed("col", "v")
      .join(coef, Seq("dim"))
      .groupBy("vec_id", "plane")
      .agg(sum(col("v").cast("double") * col("c")).as("proj"))
      .groupBy("vec_id")
      .agg(sum(when(col("proj") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), plane)")).otherwise(lit(0L)))
        .as("bucket"))
  }

  /** Top-10 cosine neighbours of vec_id=0 within its LSH bucket. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val bk = buckets(spark, dir)
    val probeBucket = bk.filter(col("vec_id") === 0)
      .select(col("bucket").as("probe_bucket"))
    val candidates = bk.join(broadcast(probeBucket),
        col("bucket") === col("probe_bucket"))
      .select("vec_id")
    val e = Tables(spark, dir, "embeddings")
    val probe = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("probe"))
    e.join(candidates, Seq("vec_id"))
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        round(expr("cosine_sim(embedding, probe)"), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_sim_ann" -> annTopK
  )

  def oracle: Map[String, String] = Map.empty
}
