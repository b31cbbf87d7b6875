package graft

import org.apache.spark.sql.functions._

/** Exactness of the PPJoin candidate stage: under EITHER global order
  * (`spark.graft.ppjoin.dfOrdered`) — raw hash (default) or
  * (document-frequency, hash) — the candidate set must be a superset of
  * the brute-force truth at τ, and the end-to-end jaccard join must
  * return identical rows. The positional filter must keep pairs that
  * sit exactly at J = τ with their first shared token at the last
  * prefix position, and must prune more than the length filter alone.
  */
class NgramPrefixOrderSpec extends GraftSuite {

  private val tau = 0.5

  private def withFlag[A](v: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.ppjoin.dfOrdered", v.toString)
    try body finally spark.conf.unset("spark.graft.ppjoin.dfOrdered")
  }

  /** brute-force truth over a corpus: all pairs with trigram-jaccard ≥ τ,
    * in the verify step's own arithmetic */
  private def truthOf(dir: String, t: Double): Set[(Long, Long)] = {
    val sets = Tables(spark, dir, "documents")
      .select(col("doc_id"), llm.Dedup.shingleSet(col("text")).as("shs"))
    val a = sets.select(col("doc_id").as("id_a"), col("shs").as("sa"))
    val b = sets.select(col("doc_id").as("id_b"), col("shs").as("sb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(llm.Dedup.jaccard(col("inter"), size(col("sa")), size(col("sb"))) >= t)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private lazy val truth: Set[(Long, Long)] = truthOf(sf0001, tau)

  private def candidatesOf(dir: String, t: Double): Set[(Long, Long)] =
    llm.DedupVariants.ngramCandidates(spark, dir, t)._1
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def candidates(dfOrdered: Boolean): Set[(Long, Long)] =
    withFlag(dfOrdered)(candidatesOf(sf0001, tau))

  test("hash-ordered prefixes: candidates ⊇ brute-force truth") {
    val cand = candidates(dfOrdered = false)
    assert(truth.nonEmpty, "vacuous corpus — no true pairs at τ=0.5")
    val missed = truth -- cand
    assert(missed.isEmpty, s"prefix filter missed true pairs: $missed")
  }

  test("df-ordered prefixes: candidates ⊇ brute-force truth, and the " +
      "end-to-end jaccard join is flag-independent") {
    val cand = candidates(dfOrdered = true)
    val missed = truth -- cand
    assert(missed.isEmpty, s"df-ordered prefix missed true pairs: $missed")
    val default = llm.DedupVariants.ngramJaccard(spark, sf0001)
      .collect().map(_.toString).sorted
    val flipped = withFlag(true) {
      llm.DedupVariants.ngramJaccard(spark, sf0001)
        .collect().map(_.toString).sorted
    }
    assert(default.sameElements(flipped),
      "jaccard results differ between prefix orderings")
  }

  private def withMode[A](v: String)(body: => A): A = {
    spark.conf.set("spark.graft.ppjoin.dfOrdered", v)
    try body finally spark.conf.unset("spark.graft.ppjoin.dfOrdered")
  }

  test("auto gate: off on the fixture, flips on a skewed corpus and " +
      "drops candidate volume, recall intact") {
    llm.DedupVariants.clearAutoGateMemo()
    def cand(dir: String): Set[(Long, Long)] =
      llm.DedupVariants.ngramCandidates(spark, dir, tau)._1
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // fixture corpus: hottest shingle df share ≤ ~0.02 — the gate must
    // stay OFF (auto ≡ hash-ordered candidates)
    assert(withMode("auto")(cand(sf0001)) == candidates(dfOrdered = false),
      "auto flipped df ordering on the un-skewed fixture")
    // skewed synthetic corpus: every doc opens with the same 4-word
    // boilerplate (two shingles with df share 1.0 — three orders of
    // magnitude beyond the fixture), unique tails, plus one genuine
    // duplicate pair for a nonempty truth set
    import spark.implicits._
    val dir = Staging.tempDir("skew_corpus")
    val docs = (0 until 80).map { i =>
      (i.toLong, "alpha beta gamma delta " +
        (0 until 8).map(j => s"u${i}w$j").mkString(" "))
    } :+ (100L, "alpha beta gamma delta same same2 same3 same4 " +
      "same5 same6 same7 same8") :+
      (101L, "alpha beta gamma delta same same2 same3 same4 " +
        "same5 same6 same7 same8")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    val truthSkew = truthOf(dir, tau)
    assert(truthSkew.nonEmpty, "skew corpus lost its duplicate pair")
    val candHash = withMode("false")(cand(dir))
    val candAuto = withMode("auto")(cand(dir))
    val candDf = withMode("true")(cand(dir))
    assert(candAuto == candDf,
      "auto did NOT flip to df ordering on the skewed corpus")
    assert(candAuto.size * 2 < candHash.size,
      s"df ordering did not drop candidate volume: " +
        s"auto=${candAuto.size} hash=${candHash.size}")
    assert((truthSkew -- candAuto).isEmpty,
      s"df-ordered candidates missed true pairs: ${truthSkew -- candAuto}")
  }

  test("τ=0.6 under hash and df order: candidates ⊇ brute-force truth") {
    val truth06 = truthOf(sf0001, 0.6)
    assert(truth06.nonEmpty, "vacuous corpus — no true pairs at τ=0.6")
    for (ordered <- Seq(false, true)) {
      val missed = truth06 -- withFlag(ordered)(candidatesOf(sf0001, 0.6))
      assert(missed.isEmpty, s"dfOrdered=$ordered missed true pairs: $missed")
    }
  }

  /** `words` plus one private word, searched so that the private
    * shingle hashes below every shared one: the pair's first shared
    * token then sits at position 1, the last prefix position for the
    * sizes used here. */
  private def withPrivateFirst(words: String, tag: String): String = {
    val shared = graft.functions.ShingleSet.of(
      org.apache.spark.unsafe.types.UTF8String.fromString(words)).toLongArray()
    Iterator.from(0).map(i => s"$words $tag$i").find { t =>
      val all = graft.functions.ShingleSet.of(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)).toLongArray()
      all.length == shared.length + 1 && all.head < shared.min
    }.get
  }

  test("pairs at exactly J=τ whose first shared token is the last prefix " +
      "position survive the positional filter, under hash and df order") {
    import spark.implicits._
    // 3 shingles each, 2 shared: J = 2/4 = 0.5; prefix length at τ=0.5
    // is 3 - 2 + 1 = 2, and the first shared token is at position 1
    val half = "h1 h2 h3 h4"
    // 4 shingles each, 3 shared: J = 3/5 = 0.6; prefix length at τ=0.6
    // is 4 - 3 + 1 = 2, and the first shared token is at position 1
    val sixty = "s1 s2 s3 s4 s5"
    val docs = Seq(
      1L -> withPrivateFirst(half, "ha"), 2L -> withPrivateFirst(half, "hb"),
      3L -> withPrivateFirst(sixty, "sa"), 4L -> withPrivateFirst(sixty, "sb")) ++
      (10L until 40L).map(i => i -> (0 until 6).map(j => s"n${i}w$j").mkString(" "))
    val dir = Staging.tempDir("boundary_corpus")
    docs.toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
    for ((t, pair) <- Seq(0.5 -> (1L, 2L), 0.6 -> (3L, 4L))) {
      assert(truthOf(dir, t).contains(pair), s"pair $pair is not at J >= $t")
      for (ordered <- Seq(false, true)) {
        val cand = withFlag(ordered)(candidatesOf(dir, t))
        assert(cand.contains(pair), s"τ=$t dfOrdered=$ordered lost $pair")
      }
    }
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs(llm.DedupVariants.ngramJaccard(spark, dir)) == Map((3L, 4L) -> 0.6))
    val jac = pairs(llm.Dedup.dedupNear(spark, dir))
    assert(jac == Map((1L, 2L) -> 0.5, (3L, 4L) -> 0.6))
  }

  test("the positional filter drops candidates the length filter keeps (sf0.001)") {
    // the candidate stage with prefix and length filters only, restated
    // here over the same hash-ordered prefixes
    val t = 0.6
    val prefix = Tables(spark, sf0001, "documents")
      .select(col("doc_id"), llm.Dedup.shingleSet(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("sz"), explode(slice(col("shs"), lit(1),
        (size(col("shs")) - ceil(size(col("shs")) * lit(t)) + lit(1)).cast("int"))).as("sh"))
    val lengthOnly = prefix.select(col("sh"), col("doc_id").as("id_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("sh"), col("doc_id").as("id_b"), col("sz").as("sz_b")), "sh")
      .filter(col("id_a") < col("id_b") &&
        col("sz_b") * lit(1.0) >= col("sz_a") * lit(t) &&
        col("sz_a") * lit(1.0) >= col("sz_b") * lit(t))
      .count()
    val positional = withFlag(false)(
      llm.DedupVariants.ngramCandidates(spark, sf0001, t)._1.count())
    assert(positional < lengthOnly,
      s"positional filter kept $positional of $lengthOnly length-filtered rows")
  }
}
