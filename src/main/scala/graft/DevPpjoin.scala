package graft

/** Dev probe: decompose the PPJoin near-dup keys into shingling,
  * candidate-stage and exact-verify cost, with the noop sink
  * (guide §1.4) so column pruning cannot hide verify work, then print
  * the candidate rows at both keys' τ.
  *
  * Usage: runMain graft.DevPpjoin <dir> [iters]
  */
object DevPpjoin {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val iters = if (args.length > 1) args(1).toInt else 4
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localFor(cpus, dir, "ERROR")
    def time(label: String)(body: => Unit): Unit = {
      val ts = (1 to iters).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"PPJ $label%-28s min=${ts.min}%7.3f max=${ts.max}%7.3f")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // candidate stage only (tau 0.6 = ngram_jaccard's)
    time("cand_only") {
      val (cand, _) = llm.DedupVariants.ngramCandidates(spark, dir)
      noop(cand)
    }
    // the shingle sets alone: one shingle_set call per document
    time("sets_only") {
      val (_, sets) = llm.DedupVariants.ngramCandidates(spark, dir)
      noop(sets)
    }
    time("full_ngram_jaccard") {
      noop(SparkEntry.queries("llm_dedup_ngram_jaccard")(spark, dir))
    }
    time("full_dedup_near_tau05") {
      noop(SparkEntry.queries("llm_dedup_near")(spark, dir))
    }
    for (tau <- Seq(0.6, 0.5)) {
      val (cand, _) = llm.DedupVariants.ngramCandidates(spark, dir, tau)
      println(s"PPJ cand_rows tau=$tau " + cand.count())
    }
    spark.stop()
  }
}
