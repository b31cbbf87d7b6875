package graft

import org.apache.spark.sql.functions._

/** Round-3 wave-3 operators: SCD2 interval algebra, chunking coverage,
  * salted-join equivalence, quantile ordering, cross-entropy sanity.
  */
class Wave3Spec extends GraftSuite {

  test("etl_scd2: intervals chain per user and exactly one current row") {
    val scd = operators.Etl.scd2(spark, sf0001).cache()
    // exactly one open (is_current) interval per user
    val perUser = scd.groupBy("user_id")
      .agg(sum(when(col("is_current"), 1).otherwise(0)).as("open"))
    assert(perUser.filter(col("open") =!= 1).count() == 0)
    // each closed interval's valid_to equals the user's next valid_from
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("valid_from_us")
    val chained = scd
      .withColumn("next_from", lead("valid_from_us", 1).over(w))
      .filter(col("valid_to_us").isNotNull)
    assert(chained.filter(col("valid_to_us") =!= col("next_from")).count() == 0)
    // consecutive intervals never carry the same type (they'd be merged)
    val sameType = scd.withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull &&
        col("next_type") === col("event_type"))
    assert(sameType.count() == 0)
    scd.unpersist()
  }

  test("llm_chunk_split: full token coverage, bounded size, stride-48 starts") {
    val chunks = llm.Chunking.chunkSplit(spark, sf0001).cache()
    assert(chunks.filter(col("n_tokens") > 64 || col("n_tokens") < 1)
      .count() == 0)
    // chunk token totals re-cover every token: sum over chunks =
    // doc token count + 16 overlap per chunk after the first
    val docs = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long")
        .as("n_doc"))
    val agg = chunks.groupBy("doc_id")
      .agg(sum("n_tokens").as("covered"), count(lit(1)).as("n_chunks"))
      .join(docs, "doc_id")
    val bad = agg.filter(
      col("covered") =!= col("n_doc") + (col("n_chunks") - 1) * 16)
    assert(bad.count() == 0, "overlap accounting broken")
    chunks.unpersist()
  }

  test("join_skew_salted equals the unsalted join") {
    val salted = operators.Joins.skewSalted(spark, sf0001)
    val li = Tables(spark, sf0001, "lineitem")
    val ord = Tables(spark, sf0001, "orders")
    val plain = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        Det.moneySum(col("l_extendedprice")).as("revenue"))
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("agg_percentile: quartiles ordered and median consistent") {
    val p = operators.Aggregates.percentiles(spark, sf0001)
    assert(p.filter(col("p25") > col("p50") || col("p50") > col("p75"))
      .count() == 0)
    val med = Tables(spark, sf0001, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
      .groupBy("o_orderpriority")
      .agg((expr("percentile(cents, 0.5)") / 100).as("m"))
    val joined = p.join(med, "o_orderpriority")
      .filter(abs(col("p50") - col("m")) > 1e-9)
    assert(joined.count() == 0)
  }

  test("llm_cross_entropy: positive, and constant-token docs score the doc-frequency surprise") {
    val h = llm.Chunking.crossEntropy(spark, sf0001)
    assert(h.filter(col("cross_entropy") < 0).count() == 0)
    // hand-check one doc: H = -(1/n) sum ln(ct/N) over its tokens
    val words = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val ct = words.groupBy("word").agg(count(lit(1)).as("ct"))
    val n = words.count().toDouble
    val doc0 = words.filter(col("doc_id") === 0).join(ct, "word")
      .select(col("ct")).collect().map(_.getLong(0))
    val expected = -doc0.map(c =>
      math.rint(math.log(c / n) * 1e6)).sum / (doc0.length * 1e6)
    val got = h.filter(col("doc_id") === 0).head.getDouble(2)
    assert(math.abs(got - expected) < 1e-9, s"$got vs $expected")
  }

  test("agg_corr_regression matches builtin corr/regr to float tolerance") {
    val m = operators.Aggregates.corrRegression(spark, sf0001)
    val ref = Tables(spark, sf0001, "lineitem")
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).as("c"),
        covar_samp(col("l_quantity"), col("l_extendedprice")).as("cv"),
        var_samp(col("l_quantity")).as("vx"))
    val j = m.join(ref, "l_returnflag")
      .filter(abs(col("corr_qty_price") - col("c")) > 1e-6 ||
        abs(col("slope_price_per_qty") - col("cv") / col("vx")) > 1e-4)
    assert(j.count() == 0)
  }

  test("llm_canonicalize groups case/punct variants under one survivor") {
    val c = llm.Dedup.canonicalize(spark, sf0001)
    val docs = Tables(spark, sf0001, "documents")
    // survivors partition the corpus: variant counts sum to doc count
    assert(c.agg(sum("n_variants")).head.getLong(0) == docs.count())
    // canonical dedup can only merge MORE than byte-exact dedup
    val exactGroups = docs.select("text").distinct().count()
    assert(c.count() <= exactGroups)
  }

  test("sliding_windows generator matches the HOF chunking formulation") {
    val gen = Tables(spark, sf0001, "documents")
      .withColumn("w", split(col("text"), " "))
      .select(col("doc_id"), expr("sliding_windows(w, 64, 48)"))
      .select(col("doc_id"), col("win_id").cast("long").as("chunk_id"),
        size(col("win")).cast("long").as("n_tokens"),
        array_join(col("win"), " ").as("chunk_text"))
    val hof = llm.Chunking.chunkSplit(spark, sf0001)
    assert(gen.exceptAll(hof).count() == 0)
    assert(hof.exceptAll(gen).count() == 0)
    // and it runs through GenerateExec (a real Generator, not a HOF)
    val plan = gen.queryExecution.executedPlan.toString
    assert(plan.contains("Generate slidingwindows"), plan)
  }

  test("llm_interleave_sources: weight-2 sources appear ~2x weight-1 sources in any prefix") {
    val s = llm.Pipeline.interleaveSources(spark, sf001).cache()
    val n = s.count()
    // per-source rate in the first half of the stream tracks wt
    val half = s.filter(col("position") <= n / 2)
      .groupBy("wt").agg(count(lit(1)).as("cnt"),
        countDistinct("source").as("n_src"))
      .withColumn("per_source", col("cnt").cast("double") / col("n_src"))
      .orderBy("wt").collect()
    val r1 = half.find(_.getInt(0) == 1).get.getAs[Double]("per_source")
    val r2 = half.find(_.getInt(0) == 2).get.getAs[Double]("per_source")
    assert(r2 / r1 > 1.6 && r2 / r1 < 2.4, s"ratio ${r2 / r1}")
    // positions are a dense 1..n permutation
    assert(s.agg(min("position"), max("position")).head() ==
      org.apache.spark.sql.Row(1L, n))
    s.unpersist()
  }

  test("minhash_agg TypedImperativeAggregate is bit-identical to the column form") {
    val viaAgg = llm.Dedup.minhashAggQuery(spark, sf0001)
    // minhashAggQuery serializes the signature (comma-joined) for the
    // driver's rows-only gate, so compare against the identically
    // serialized column form
    val viaCols = llm.Dedup.minhashSignatures(spark,
      Tables(spark, sf0001, "documents"))
      .select(col("doc_id"),
        concat_ws(",", transform(col("sig"), _.cast("string")))
          .as("sig2"))
    val joined = viaAgg.join(viaCols, "doc_id")
    assert(joined.count() > 0)
    assert(joined.filter(col("signature") =!= col("sig2")).count() == 0)
  }

  test("fn_url parses host/path/query back out of the built url") {
    val u = functions.ScalarFns.fnUrl(spark, sf0001)
    val bad = u.filter(
      !col("url").startsWith(concat(lit("https://"), col("host"))) ||
        col("query") =!= concat(lit("p="), col("param_p"), lit("&s=1")) ||
        col("scheme") =!= "https")
    assert(bad.count() == 0)
  }
}
