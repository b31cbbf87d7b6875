package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Tables

/** Typed UDAF buffer: running log-sum and count. */
case class GeoBuf(sumLog: Double, n: Long)

/** Geometric mean as an `Aggregator` — mergeable two-phase state
  * (partial aggregation map-side, merge reduce-side), the shape any
  * 100 TB-scale custom aggregate must have.
  */
object GeoMean extends Aggregator[Double, GeoBuf, Double] {
  override def zero: GeoBuf = GeoBuf(0.0, 0L)
  override def reduce(b: GeoBuf, x: Double): GeoBuf =
    GeoBuf(b.sumLog + math.log(x), b.n + 1)
  override def merge(a: GeoBuf, b: GeoBuf): GeoBuf =
    GeoBuf(a.sumLog + b.sumLog, a.n + b.n)
  override def finish(b: GeoBuf): Double =
    if (b.n == 0) Double.NaN else math.exp(b.sumLog / b.n)
  override def bufferEncoder: Encoder[GeoBuf] = Encoders.product[GeoBuf]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

/** SURVEY.md §2.10 — the three extension points: scalar UDF, typed
  * Aggregator UDAF, and a generator (UDTF) expressed with codegen'd
  * higher-order functions + posexplode.
  *
  * Scalar UDFs are deliberately the LAST resort (they break
  * WholeStageCodegen); `udf_scalar` exists to prove the surface, with
  * semantics (string reverse) that an oracle can state in SQL.
  */
object Extensions {

  private val reverseUdf = udf((s: String) => if (s == null) null else s.reverse)

  def udfScalar(spark: SparkSession, dir: String): DataFrame = {
    spark.udf.register("graft_reverse", reverseUdf)
    Tables(spark, dir, "part")
      .select(col("p_partkey"), reverseUdf(col("p_name")).as("rev_name"),
        expr("graft_reverse(p_brand)").as("rev_brand"))
      .orderBy("p_partkey")
  }

  def udafGeomean(spark: SparkSession, dir: String): DataFrame = {
    val gm = udaf(GeoMean)
    Tables(spark, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(round(gm(col("o_totalprice")), 2).as("geomean_price"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Word-bigram generator with position: zip_with the word array with
    * its shifted slice, then posexplode — a UDTF with zero closure code.
    * (zip_with, not transform-by-index: index lambdas re-evaluate the
    * word array per element — see Dedup.shingles.)
    */
  def udtfNgrams(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), " ")
    // i = 1 .. n-1 full bigrams only: a 1-word doc emits ZERO rows,
    // matching the oracle's range(1, len(words)) (a greatest(..,1)
    // clamp would emit the bare word as a fake bigram).
    val bigrams = slice(
      zip_with(w, slice(w, lit(2), size(w)), (x, y) => concat_ws(" ", x, y)),
      lit(1), greatest(size(w) - lit(1), lit(0)))
    Tables(spark, dir, "documents")
      .select(col("doc_id"), posexplode(bigrams))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("bigram"))
      .orderBy("doc_id", "pos")
  }

  /** The same window-generation semantics as `llm_chunk_split`, but
    * through a REAL custom `Generator` expression (`SlidingWindows`)
    * instead of HOF+posexplode — the §2.10 path-(c) UDTF surface.
    * 32/16 windows so the two keys don't merely alias each other.
    */
  def udtfSlidingWindows(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "documents")
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), expr("sliding_windows(w, 32, 16)"))
      .select(col("doc_id"), col("win_id").cast("long").as("win_id"),
        size(col("win")).cast("long").as("n_tokens"),
        array_join(col("win"), " ").as("win_text"))
      .orderBy("doc_id", "win_id")
  }

  /** SQL-defined scalar UDFs (Spark 4 `CREATE … FUNCTION … RETURN expr`):
    * the body is INLINED by Catalyst at resolution time, so unlike the
    * JVM closure in [[udfScalar]] these stay inside WholeStageCodegen and
    * are pushdown/prune-transparent — the preferred way to package
    * reusable business expressions. The oracle states the inlined
    * expressions directly (per-row products of stored columns are
    * bit-exact cross-engine; see [[graft.Det]]).
    */
  def udfSql(spark: SparkSession, dir: String): DataFrame = {
    spark.sql(
      "CREATE OR REPLACE TEMPORARY FUNCTION graft_discounted(" +
        "price DOUBLE, disc DOUBLE) RETURNS DOUBLE " +
        "RETURN price * (1.0 - disc)")
    spark.sql(
      "CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_band(q DOUBLE) " +
        "RETURNS STRING RETURN CASE WHEN q < 10 THEN 'small' " +
        "WHEN q < 30 THEN 'mid' ELSE 'bulk' END")
    Tables(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("graft_discounted(l_extendedprice, l_discount)")
          .as("disc_price"),
        expr("graft_qty_band(l_quantity)").as("qty_band"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** V2 FunctionCatalog surface ([[GraftFunctionCatalog]]): hamming64
    * resolves through a configured catalog from plain SQL — no session
    * function registry — and executes via the codegen magic method. The
    * histogram of hamming(event_id, user_id) is deterministic and the
    * oracle restates the function as DuckDB's bit_count(xor(a, b)), so
    * the whole resolution + execution path is hash-gated.
    */
  def catalogV2Fn(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.catalog.graftfns",
      "graft.functions.GraftFunctionCatalog")
    Tables(spark, dir, "events").createOrReplaceTempView("events_fncat")
    spark.sql(
      "SELECT graftfns.default.hamming64(event_id, user_id) AS hd, " +
        "count(*) AS n FROM events_fncat GROUP BY hd ORDER BY hd")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fn_catalog_v2" -> catalogV2Fn,
    "udf_sql" -> udfSql,
    "udf_scalar" -> udfScalar,
    "udaf_geomean" -> udafGeomean,
    "udtf_ngrams" -> udtfNgrams,
    "udtf_sliding_windows" -> udtfSlidingWindows
  )

  def oracle: Map[String, String] = Map(
    "fn_catalog_v2" ->
      ("SELECT CAST(bit_count(xor(event_id, user_id)) AS BIGINT) AS hd, " +
        "count(*) AS n FROM events GROUP BY hd ORDER BY hd"),
    "udf_sql" ->
      ("SELECT l_orderkey, l_linenumber, " +
        "l_extendedprice * (1.0 - l_discount) AS disc_price, " +
        "CASE WHEN l_quantity < 10 THEN 'small' " +
        "WHEN l_quantity < 30 THEN 'mid' ELSE 'bulk' END AS qty_band " +
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"),
    "udf_scalar" ->
      ("SELECT p_partkey, reverse(p_name) AS rev_name, " +
        "reverse(p_brand) AS rev_brand FROM part ORDER BY p_partkey"),
    "udaf_geomean" ->
      ("SELECT o_orderpriority, " +
        "round(exp(avg(ln(o_totalprice))), 2) AS geomean_price, " +
        "count(*) AS n FROM orders GROUP BY o_orderpriority " +
        "ORDER BY o_orderpriority"),
    "udtf_ngrams" ->
      ("SELECT doc_id, s.pos - 1 AS pos, s.w AS bigram FROM " +
        "(SELECT doc_id, unnest(list_transform(" +
        "range(1, len(string_split(text, ' '))), " +
        "(x, i) -> struct_pack(pos := i, " +
        "w := string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))) AS s " +
        "FROM documents) ORDER BY doc_id, pos"),
    "udtf_sliding_windows" ->
      ("WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "st AS (SELECT doc_id, w, unnest(range(1, " +
        "greatest(len(w) - 16, 1) + 1, 16)) AS s FROM d) " +
        "SELECT doc_id, CAST((s - 1) // 16 AS BIGINT) AS win_id, " +
        "CAST(len(list_slice(w, s, s + 31)) AS BIGINT) AS n_tokens, " +
        "array_to_string(list_slice(w, s, s + 31), ' ') AS win_text " +
        "FROM st ORDER BY doc_id, win_id")
  )
}
