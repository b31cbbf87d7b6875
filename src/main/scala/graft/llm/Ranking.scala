package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Round-3 wave 2: retrieval-style corpus ranking and embedding
  * compression — BM25 scoring, int8 vector quantization, and one Lloyd
  * (k-means) iteration.
  *
  * Scale notes (100 TB):
  *  - BM25 needs exactly ONE global reduce (corpus stats: N, Σdl, per-term
  *    document frequencies collapse to a single row) broadcast back to a
  *    single map-side scoring pass — no shuffle of the corpus itself, the
  *    same plan a distributed search indexer uses;
  *  - int8 quantization is embarrassingly parallel (per-row math, no
  *    shuffle at all) and is THE storage-shrink step before ANN indexing
  *    at scale: 4× smaller vectors, exact integer checksums;
  *  - the Lloyd step is the canonical iterative-ML-on-Spark shape: tiny
  *    broadcast codebook → map-side argmax assignment → one partial+final
  *    hash aggregate of (cell, dim) sums. Per-iteration cost is one scan
  *    plus a 512-row reduce regardless of corpus size. The mean uses the
  *    2^-40 integer grid snap (see [[CorpusOps]]) so a 1000-executor sum
  *    is order-independent and bit-stable.
  *
  * Determinism: every floating expression is either (a) an identical IEEE
  * op sequence on float32-exact doubles in both engines, (b) rounded to a
  * 6-decimal grid before any ordering decision, or (c) an exact integer.
  * The 3-term BM25 total is summed as an explicit s1+s2+s3 chain — a fixed
  * association order — NOT an agg over an exploded term list, whose
  * partition-dependent addition order could flip the last ulp.
  */
object Ranking {

  /** 2^40 grid — scaling float32-valued doubles by a power of two is
    * exact (same constant as [[CorpusOps.Snap]]).
    */
  private val Snap = 1099511627776.0

  private val K1 = 1.2
  private val B = 0.75
  private val Terms = Seq("spark", "hash", "merge")

  /** BM25 (Robertson/Okapi, the Lucene `k1/b` form) of a fixed 3-term
    * query over `documents.text`, top-20 docs. Corpus statistics come
    * from one global aggregate broadcast back over the per-doc term
    * frequencies.
    *
    * Term counts use `size(w) - size(array_remove(w, t))` instead of a
    * `filter(w, _ === t)` lambda: HOF lambdas are interpreted and knock
    * the WHOLE projection out of codegen, which also disables common-
    * subexpression elimination so `split(text)` re-evaluates per derived
    * column (measured 5.3 s → the array_remove form keeps the project in
    * WholeStageCodegen with one split per row). `tfd` feeds two
    * consumers (global stats + scoring) and Spark shares no common
    * subplans, so the tiny per-doc frame is localCheckpoint'd — the
    * materialization a production pipeline would do with a temp
    * table, and unlike persist() the blocks are reclaimed by the
    * ContextCleaner once the frame is unreferenced (a persist() here
    * pinned the cache for the whole 271-key session).
    */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val tfCols = Terms.zipWithIndex.map { case (t, i) =>
      (size(col("w")) - size(array_remove(col("w"), t)))
        .cast("double").as(s"tf$i")
    }
    val tfd = docs.select(
      Seq(col("doc_id"), size(col("w")).cast("double").as("dl")) ++ tfCols: _*)
      .localCheckpoint()
    val statCols =
      ((sum(col("dl").cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("avgdl")) +:
        Terms.indices.map { i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).cast("double").as(s"df$i")
        }
    val stats = tfd.agg(count(lit(1)).cast("double").as("n_docs"), statCols: _*)
    def idf(df: Column, n: Column): Column =
      log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
    def term(tf: Column, df: Column, n: Column, dl: Column, avgdl: Column): Column =
      idf(df, n) * (tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0 - B) + lit(B) * dl / avgdl))
    val scored = tfd.crossJoin(broadcast(stats))
      .withColumn("score", round(
        term(col("tf0"), col("df0"), col("n_docs"), col("dl"), col("avgdl")) +
          term(col("tf1"), col("df1"), col("n_docs"), col("dl"), col("avgdl")) +
          term(col("tf2"), col("df2"), col("n_docs"), col("dl"), col("avgdl")), 6))
    scored.filter(col("score") > 0)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
  }

  /** Symmetric int8 quantization of each embedding: q_i =
    * floor(x_i/amax*127 + 0.5) (round-half-up, identical in both
    * engines). Emits the quantized vector as a CSV string plus exact
    * integer diagnostics (L1 norm, saturation count). amax is an exact
    * max of float32-exact doubles, so `scale`'s division is bit-identical
    * everywhere.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("amax", array_max(transform(col("emb"), x => abs(x))))
      .withColumn("q", transform(col("emb"),
        x => floor(x / col("amax") * lit(127.0) + lit(0.5)).cast("int")))
      .select(
        col("vec_id"),
        col("amax"),
        array_join(col("q"), ",").as("q_csv"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + abs(x).cast("long"))
          .as("l1"),
        size(filter(col("q"), x => abs(x) === lit(127))).cast("long")
          .as("n_sat"))
      .orderBy("vec_id")

  /** One Lloyd iteration: the 8 vectors with vec_id < 8 are the
    * deterministic codebook; every vector joins its max-cosine cell
    * (6-decimal grid, ties to the lower cell id); new centroids are
    * grid-snapped integer means per (cell, dim).
    */
  def kmeansStep(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cent = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = CorpusOps.assignToCentroids(e, cent)
      .select(col("cid"), col("embedding"))
    assigned
      .select(col("cid"), posexplode(col("embedding")))
      .groupBy("cid", "pos")
      .agg(count(lit(1)).as("n"),
        sum(round(col("col").cast("double") * lit(Snap), 0).cast("long")).as("s"))
      .select(col("cid"), (col("pos") + 1).cast("long").as("dim"),
        (col("s").cast("double") / lit(Snap) / col("n").cast("double"))
          .as("centroid"),
        col("n"))
      .orderBy("cid", "dim")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_bm25" -> bm25,
    "llm_embed_quantize" -> embedQuantize,
    "llm_kmeans_step" -> kmeansStep
  )

  def oracle: Map[String, String] = Map(
    "llm_bm25" ->
      ("WITH tfd AS (SELECT doc_id, " +
        "CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl, " +
        Terms.zipWithIndex.map { case (t, i) =>
          s"CAST(len(list_filter(string_split(text, ' '), x -> x = '$t')) " +
            s"AS DOUBLE) AS tf$i"
        }.mkString(", ") + " FROM documents), " +
        "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, " +
        "CAST(sum(CAST(dl AS BIGINT)) AS DOUBLE) / CAST(count(*) AS DOUBLE) " +
        "AS avgdl, " +
        Terms.indices.map { i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i"
        }.mkString(", ") + " FROM tfd), " +
        "scored AS (SELECT doc_id, round(" +
        Terms.indices.map { i =>
          s"ln(1.0 + (n_docs - df$i + 0.5) / (df$i + 0.5)) * (tf$i * ${K1 + 1.0}) " +
            s"/ (tf$i + $K1 * ((1.0 - $B) + $B * dl / avgdl))"
        }.mkString(" + ") + ", 6) AS score FROM tfd CROSS JOIN stats) " +
        "SELECT doc_id, score FROM scored WHERE score > 0 " +
        "ORDER BY score DESC, doc_id LIMIT 20"),
    "llm_embed_quantize" ->
      ("WITH q AS (SELECT vec_id, " +
        "list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) " +
        "AS amax, " +
        "list_transform(embedding, x -> CAST(floor(" +
        "CAST(x AS DOUBLE) / list_max(list_transform(embedding, " +
        "y -> abs(CAST(y AS DOUBLE)))) * 127.0 + 0.5) AS INTEGER)) AS qv " +
        "FROM embeddings) " +
        "SELECT vec_id, amax, array_to_string(qv, ',') AS q_csv, " +
        "CAST(list_sum(list_transform(qv, x -> abs(x))) AS BIGINT) AS l1, " +
        "CAST(len(list_filter(qv, x -> abs(x) = 127)) AS BIGINT) AS n_sat " +
        "FROM q ORDER BY vec_id"),
    "llm_kmeans_step" ->
      ("WITH e AS (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings), " +
        "cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < 8), " +
        "assigned AS (SELECT vec_id, emb, cid FROM (" +
        "SELECT e.vec_id, e.emb, c.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "round(list_cosine_similarity(e.emb, c.cvec), 6) DESC, c.cid) AS rk " +
        "FROM e CROSS JOIN cent c) WHERE rk = 1) " +
        "SELECT cid, CAST(i AS BIGINT) AS dim, " +
        "CAST(sum(CAST(round(emb[i] * 1099511627776.0) AS BIGINT)) AS DOUBLE) " +
        "/ 1099511627776.0 / count(*) AS centroid, count(*) AS n " +
        "FROM assigned CROSS JOIN range(1, 65) t(i) " +
        "GROUP BY cid, i ORDER BY cid, dim")
  )
}
