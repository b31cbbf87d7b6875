package graft

import org.apache.spark.sql.functions._

/** Wave-13 operators (round 4): plan-shape and property assertions
  * beyond the oracle hash checks.
  */
class Wave13Spec extends GraftSuite {

  test("repetition_filter: fracs in [0,1], all verdicts legal, ONE corpus scan") {
    val df = llm.TextQuality.repetitionFilter(spark, sf001).cache()
    try {
      val n = df.count()
      assert(n == 500)
      assert(df.filter(
        col("top_word_frac") < 0 || col("top_word_frac") > 1 ||
          col("top_bigram_frac") < 0 || col("top_bigram_frac") > 1 ||
          col("dup_trigram_frac") < 0 || col("dup_trigram_frac") > 1)
        .count() == 0)
      val verdicts = df.select("verdict").distinct().collect()
        .map(_.getString(0)).toSet
      assert(verdicts.subsetOf(Set("keep", "repetitive_word",
        "repetitive_bigram", "repetitive_trigram")))
      assert(verdicts.contains("keep"))
    } finally df.unpersist()
    // one tagged explode = one scan of documents in the (uncached) plan
    val plan = llm.TextQuality.repetitionFilter(spark, sf001)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan)
  }

  test("word_entropy: every doc covered, 0 <= H <= ln(n_tokens)") {
    val df = llm.Chunking.wordEntropy(spark, sf001).cache()
    try {
      assert(df.count() == 500)
      assert(df.filter(col("n_tokens") <= 0).count() == 0)
      // H of any distribution over n outcomes lies in [0, ln n]; the
      // micro-nat snap perturbs by < 1e-4 nats, covered by the epsilon
      val bad = df.filter(col("word_entropy") < -1e-3 ||
        col("word_entropy") > log(col("n_tokens").cast("double")) + 1e-3)
      assert(bad.count() == 0)
    } finally df.unpersist()
  }

  test("knn_join: <=3 neighbors per query, no self-match, sims in [-1,1] descending") {
    val df = llm.CorpusOps.knnJoin(spark, sf001).cache()
    try {
      val perQ = df.groupBy("qid").count()
      assert(perQ.filter(col("count") > 3).count() == 0)
      assert(df.filter(col("qid") === col("nbr")).count() == 0)
      assert(df.filter(col("sim") < -1 || col("sim") > 1).count() == 0)
      // descending within query: max rank-violation count is 0
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nbr"))
      val viol = df.withColumn("prev",
          lag("sim", 1).over(w))
        .filter(col("prev").isNotNull && col("prev") < col("sim"))
      assert(viol.count() == 0)
    } finally df.unpersist()
  }

  test("exchange_reuse: the duplicated aggregate subtree plans ONE exchange") {
    val df = operators.Aggregates.exchangeReuse(spark, sf001)
    // AQE materializes exchange reuse at stage-creation time, so the
    // ReusedExchange node only exists in the FINAL adaptive plan
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange"), plan)
  }

  test("streaming backlog drains in multiple batches, state carried across them") {
    import org.apache.spark.sql.functions.{count => cnt}
    val tmpIn = java.nio.file.Files
      .createTempDirectory("graft_stream_mb_spec").toString
    Tables(spark, sf001, "events").repartition(4)
      .write.mode("overwrite").parquet(tmpIn)
    val schema = Tables(spark, sf001, "events").schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmpIn)
      .groupBy("event_type").agg(cnt(lit(1)).as("n"))
      .writeStream.format("memory").queryName("graft_mb_spec")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    assert(batches >= 2, s"expected a multi-batch drain, got $batches")
    val streamed = spark.table("graft_mb_spec").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = Tables(spark, sf001, "events")
      .groupBy("event_type").agg(cnt(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(streamed == direct)
  }

  test("cms heavy hitters: estimate never underestimates, bounded overestimate") {
    val rows = operators.Aggregates.cmsHeavy(spark, sf001).collect()
    assert(rows.length == 10)
    val total = Tables(spark, sf001, "documents")
      .select(explode(split(col("text"), " ")).as("w")).count()
    rows.foreach { r =>
      val (exact, est) = (r.getLong(1), r.getLong(2))
      assert(est >= exact, s"CMS underestimated ${r.getString(0)}: $est < $exact")
      // eps = 0.001 → overestimate bounded by eps * stream length
      assert(est <= exact + (0.001 * total).ceil.toLong + 1,
        s"CMS overestimate out of bound for ${r.getString(0)}: $est vs $exact")
    }
  }

  test("bloom incremental: no false negatives, bounded false positives, exact tier correct") {
    val df = operators.Etl.bloomIncremental(spark, sf001).cache()
    try {
      val n = df.count()
      assert(n > 0)
      // a bloom filter NEVER misses a present key: known ⇒ bloom_hit
      assert(df.filter(col("known_customer") && !col("bloom_hit")).count() == 0)
      // false positives (hit but not known) bounded well above the 3% fpp
      val fp = df.filter(col("bloom_hit") && !col("known_customer")).count()
      assert(fp <= math.max(10, (0.15 * n).toLong), s"$fp FPs of $n")
      // the exact tier matches a direct semi-join computation
      val cut = lit("1998-01-01 00:00:00").cast("timestamp")
      val orders = Tables(spark, sf001, "orders")
      val direct = orders.filter(col("o_orderdate") >= cut)
        .join(orders.filter(col("o_orderdate") < cut)
          .select("o_custkey").distinct(), Seq("o_custkey"), "left_semi")
        .count()
      assert(df.filter(col("known_customer")).count() == direct)
    } finally df.unpersist()
  }

  test("bpe_train: round-2 winner differs (round-1 pair was merged away)") {
    val rows = llm.TextOps.bpeTrain(spark, sf001).collect()
    assert(rows.length == 2)
    val (p1, n1) = (rows(0).getString(1), rows(0).getLong(2))
    val (p2, n2) = (rows(1).getString(1), rows(1).getLong(2))
    assert(p1 != p2, s"merge not applied: $p1 == $p2")
    assert(n1 > 0 && n2 > 0)
    // the merged round-1 pair can no longer be the most frequent pair,
    // and round-2's count cannot exceed round-1's (a merge only removes
    // pair occurrences)
    assert(n2 <= n1, s"$n2 > $n1")
  }

  test("bpe_train_k: 8 chained rounds, counts non-increasing, prefix equals 2-round key") {
    val rows = llm.TextOps.bpeTrainK(spark, sf001).collect()
    assert(rows.length == 8)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 8), "iters not dense 1..8")
    val counts = rows.map(_.getLong(2)).toSeq
    assert(counts.forall(_ > 0))
    // each round merges the current max pair; a merge only removes
    // occurrences of existing pairs and any pair it creates is bounded
    // by its constituents' counts — so winners are non-increasing
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a }, counts)
    // the k-loop must be THE SAME recurrence as the shipped 2-round
    // key: its first two rounds are bpeTrain verbatim
    val two = llm.TextOps.bpeTrain(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows.take(2).map(r =>
      (r.getInt(0), r.getString(1), r.getLong(2))).toSeq == two)
  }

  test("vocab_coverage: ranks dense from 1, coverage monotone to 1.0") {
    val rows = llm.TextOps.vocabCoverage(spark, sf001).collect()
    assert(rows.nonEmpty && rows.length <= 50)
    assert(rows.map(_.getLong(2)).toSeq == (1L to rows.length).toSeq)
    val cov = rows.map(_.getDouble(3)).toSeq
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b }, cov)
    // fixture vocab is < 50 words, so the top-50 covers everything
    assert(math.abs(cov.last - 1.0) < 1e-9, cov.last)
  }

  test("knn_join: IVF nprobe=2 recall vs brute-force top-3") {
    val e = Tables(spark, sf001, "embeddings")
    val qv = e.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    // exact top-3 per query: brute force over all 500 vectors
    val w = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy(col("sim").desc, col("vec_id"))
    val exact = e.crossJoin(broadcast(qv))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        round(expr("cosine_sim(qvec, embedding)"), 4).as("sim"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = llm.CorpusOps.knnJoin(spark, sf001)
      .select("qid", "nbr").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    // nprobe=2 of 10 cells: recall is approximate by design, but must be
    // well above the 20% a random 2-cell probe would give
    assert(recall >= 0.5, s"IVF recall $recall below floor (got ${approx.size} hits)")
  }

  test("dedup_survivor: clusters agree with dedup_components, survivors are min-ids") {
    val surv = llm.DedupVariants.dedupSurvivor(spark, sf001).cache()
    try {
      assert(surv.count() == 500)
      // comp is always <= doc_id (min-label) and survivors carry comp == doc_id
      assert(surv.filter(col("comp") > col("doc_id")).count() == 0)
      assert(surv.filter(col("keep") && col("comp") =!= col("doc_id"))
        .count() == 0)
      // non-singleton cluster count matches the components rollup
      val nClusters = surv.filter(!col("keep"))
        .select("comp").distinct().count()
      val compRollup = llm.DedupVariants.dedupComponents(spark, sf001)
        .filter(col("n_members") > 1).count()
      assert(nClusters == compRollup, s"$nClusters vs $compRollup")
    } finally surv.unpersist()
  }
}
