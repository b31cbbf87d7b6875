package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Additional near-dup families: SimHash, exact n-gram Jaccard, and
  * embedding-cosine dedup — complementing MinHash+LSH in [[Dedup]].
  *
  * Scale notes (100 TB):
  *  - SimHash is explode → codegen'd hash → one 64-column hash-aggregate
  *    per doc (no interpreted lambdas on the hot path), then 16-bit-chunk
  *    blocking for the pair search — hamming check only inside blocks;
  *  - n-gram Jaccard is the inverted-index (shingle-posting) join:
  *    intersection counts come from one equi-join on the shingle, so the
  *    quadratic step is bounded per posting list, never global;
  *  - embedding dedup reuses label blocking; survivors via left_anti.
  */
object DedupVariants {

  private val M = 64

  /** SimHash per doc: bit i = sign of Σ_words (bit_i(xxhash64(word)) ? +1 : -1). */
  def simhashes(spark: SparkSession, docs: DataFrame,
      width: Option[Int] = None): DataFrame = {
    // width before the explode (see Dedup.minhashSignatures): without it
    // a single-file scan serializes the word explode + 64-column
    // bit-sum partial aggregate into one task. Data-derived when the
    // caller knows the source table (r17 ppjoin width pass).
    val nPart = width.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val words = docs.repartition(nPart, col("doc_id"))
      .select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      .withColumn("h", xxhash64(col("word")))
    val bitSums = (0 until M).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b$i")
    }
    val agg = words.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sh = (0 until M).map { i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce((a: Column, b: Column) => a.bitwiseOR(b))
    agg.select(col("doc_id"), sh.as("simhash"))
  }

  /** SimHash near-dup pairs: block on any equal 16-bit chunk, keep
    * hamming distance <= 12 (no oracle — xxhash64; properties in
    * LlmSpec).
    */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val sims = simhashes(spark, Tables(spark, dir, "documents"),
      width = Some(Tables.explodeWidth(spark, dir, "documents")))
    val chunked = sims.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(j =>
        shiftright(col("simhash"), j * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "chunk_idx")
      .withColumnRenamed("col", "chunk")
    val a = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_a"), col("simhash").as("sh_a"))
    val b = chunked.select(col("chunk_idx"), col("chunk"),
      col("doc_id").as("id_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      // hamming filter BEFORE the dedup shuffle: a candidate blocked by
      // k chunks appears k times, so filtering first shrinks the
      // distinct()'s exchange by the rejection rate × duplication factor
      .filter(col("hamming") <= 12)
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Exact 3-gram Jaccard pairs (jaccard >= 0.6) via PPJoin (Bayardo
    * et al., WWW'07; Xiao et al., WWW'08): [[ngramCandidates]] proposes
    * a superset of the true pairs from prefix postings, and
    * [[Dedup.verifyJaccard]] keeps exactly those whose jaccard over the
    * full shingle sets reaches τ. Counts are integers, so the jaccard
    * division is bit-identical across engines and the result equals the
    * naive all-pairs join and the DuckDB oracle on any corpus.
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val (cand, sets) = ngramCandidates(spark, dir)
    Dedup.verifyJaccard(cand, sets, NgramTau)
  }

  private val NgramTau = 0.6

  /** Per-corpus memo of the auto prefix-order decision — the gate job
    * runs once per (JVM, corpus), not once per key that routes through
    * [[ngramCandidates]]. */
  private val autoGateMemo =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]
  /** MUST be called after regenerating a corpus in place (same path,
    * new data) — the memo cannot see the rewrite. Perf-only either
    * way: a stale gate changes candidate volume, never recall. */
  private[graft] def clearAutoGateMemo(): Unit = autoGateMemo.clear()

  private val AutoSkewThreshold = 0.1

  /** The df-skew gate behind `spark.graft.ppjoin.dfOrdered=auto`: turn
    * on df-ordered prefixes iff the HOTTEST shingle's doc-frequency
    * share reaches [[AutoSkewThreshold]] (fixture corpora measure
    * ≤0.02, an every-doc boilerplate phrase measures ≈1.0). Measured on
    * a DETERMINISTIC ~5% key-hash sample of the corpus (whole corpus
    * below 1000 docs), so the gate
    * costs one small aggregate over sampled shingles — the doc filter
    * sits under the shingle projection, so unsampled docs are never
    * shingled — and the decision is stable across runs and partition
    * counts. The statistic targets exactly the failure mode df
    * ordering fixes: a shingle in share-s of N docs alone yields
    * ~(sN)²/2 candidate pairs if it stays in prefixes. */
  private def autoDfOrderedGate(spark: SparkSession, dir: String,
      sets: DataFrame): Boolean = {
    // a corpus REGENERATED at the same path needs clearAutoGateMemo —
    // documented there; fixture regen is the only case that hits it
    autoGateMemo.getOrElseUpdate(dir, {
      val total = sets.count() // column-pruned: no shingling for a count
      val sampled =
        if (total <= 1000) sets
        else sets.filter(pmod(xxhash64(col("doc_id")), lit(20)) === 0)
      val n = if (total <= 1000) total else sampled.count()
      // coalesce(max, 0): zero exploded shingles (every sampled doc
      // empty) must read as "no skew", not NullPointerException
      val maxDf = if (n == 0) 0L else
        sampled.select(explode(col("shs")).as("sh"))
          .groupBy("sh").agg(count(lit(1)).as("df"))
          .agg(coalesce(max(col("df")), lit(0L)).as("m")).head.getLong(0)
      val share = if (n == 0) 0.0 else maxDf.toDouble / n
      val decision = share >= AutoSkewThreshold
      // one observable line per corpus decision — lands in
      // the bench/verify stderr tail so a corpus regen that flips the
      // gate shows up in artifacts, not just in timings
      Console.err.println(f"[ppjoin-auto-gate] dir=$dir share=$share%.4f " +
        f"thresh=$AutoSkewThreshold n=$n dfOrdered=${if (decision) "on" else "off"}")
      decision
    })
  }

  /** The PPJoin candidate stage of [[ngramJaccard]] and
    * [[Dedup.dedupNear]]: (candidate pairs (id_a < id_b), shingle sets
    * (doc_id, shs) in [[Dedup.shingleSet]]'s sorted-distinct form).
    *
    * Invariant: every pair with J >= τ is a candidate, under either
    * prefix order. Two filters prune, both exact:
    *  - prefix: under a global token order, J(A,B) >= τ forces a shared
    *    token within each side's first |X| - ceil(τ·|X|) + 1 tokens, so
    *    only prefix postings enter the self-join;
    *  - position: from the first shared token, at 0-based positions p_a
    *    and p_b, at most m = min(|A| - p_a, |B| - p_b) tokens can be
    *    shared. A posting pair is kept only if the verify predicate
    *    ([[Dedup.jaccard]] >= τ) holds with m as the overlap; jaccard is
    *    monotone in the overlap, so the row of a true pair's first
    *    shared token always survives. Other rows of a pair may drop —
    *    candidates repeat pairs and are deduplicated after
    *    verification. At p = 0 the bound is min(|A|,|B|)/max(|A|,|B|),
    *    so the filter subsumes PPJoin's length filter.
    *
    * The order is the shingle hash itself (pseudo-random, so prefixes
    * are decorrelated from text content; the set arrives sorted, so a
    * prefix is a slice) unless
    * `spark.graft.ppjoin.dfOrdered` (true|false|auto, default auto — see
    * [[autoDfOrderedGate]]) picks ascending (document frequency, hash),
    * which pushes a boilerplate shingle out of every prefix at the cost
    * of a df aggregate and a per-doc window. Both are global total
    * orders, so recall is exact either way (NgramPrefixOrderSpec checks
    * both against brute-force truth).
    */
  private[graft] def ngramCandidates(
      spark: SparkSession, dir: String,
      tau: Double = NgramTau): (DataFrame, DataFrame) = {
    // One doc_id exchange of the raw (doc_id, text) rows before any
    // shingling: the compressed corpus is one scan split (594 KB at
    // sf0.1), so without it the shingle work runs in one task. The
    // width is data-derived (Tables.explodeWidth) and
    // pinned, because AQE's bytes proxy would coalesce this
    // compute-heavy shuffle to one task (measured 3.6 s at sf0.1). The
    // verify branch consumes the same exchange (ReusedExchange), so each
    // document is scanned, shuffled and shingled once.
    val nPart = Tables.explodeWidth(spark, dir, "documents")
    val sets = Tables(spark, dir, "documents")
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), Dedup.shingleSet(col("text")).as("shs"))
    val dfOrdered =
      spark.conf.get("spark.graft.ppjoin.dfOrdered", "auto") match {
        case "true" => true
        case "false" => false
        case "auto" => autoDfOrderedGate(spark, dir, sets)
        case other => throw new IllegalArgumentException(
          s"spark.graft.ppjoin.dfOrdered: '$other' (true|false|auto)")
      }
    val prefixLen: Column => Column = sz =>
      (sz - ceil(sz * lit(tau)) + lit(1)).cast("int")
    // (doc_id, sz, pos, sh): each prefix token with its 0-based position
    // in the doc's ordered set
    val prefix = (if (!dfOrdered) {
      sets.select(col("doc_id"), size(col("shs")).as("sz"),
        posexplode(slice(col("shs"), lit(1), prefixLen(size(col("shs"))))))
        .select(col("doc_id"), col("sz"), col("pos"), col("col").as("sh"))
    } else {
      val postings = sets.select(col("doc_id"),
        size(col("shs")).as("sz"), explode(col("shs")).as("sh"))
      // df is a function of the shingle, so (df, sh) is a global total
      // order; at corpus scale this join shuffles on the shingle (the
      // dimension outgrows broadcast) and the window adds one doc_id
      // exchange of the full posting list — the documented cost
      val dfDim = postings.groupBy("sh").agg(count(lit(1)).as("df"))
      val w = Window.partitionBy("doc_id").orderBy(col("df"), col("sh"))
      postings.join(dfDim, Seq("sh"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= prefixLen(col("sz")))
        .select(col("doc_id"), col("sz"), (col("rn") - 1).as("pos"), col("sh"))
    }).repartition(nPart, col("sh"))
    // Both join sides hang off the one shingle-keyed exchange above
    // (ReusedExchange); the shuffle_hash hint stops AQE from demoting
    // the self-join to a broadcast whose build side would re-run the
    // prefix chain behind its own exchange.
    def side(s: String) = prefix.select(col("sh"), col("doc_id").as(s"id_$s"),
      col("sz").as(s"sz_$s"), col("pos").as(s"pos_$s"))
    val reachable = least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b"))
    val cand = side("a").join(side("b").hint("shuffle_hash"), Seq("sh"))
      .filter(col("id_a") < col("id_b") &&
        Dedup.jaccard(reachable, col("sz_a"), col("sz_b")) >= tau)
      .select("id_a", "id_b")
    (cand, sets)
  }

  /** Near-dup CLUSTERS: connected components over the prefix-filtered
    * jaccard pairs via iterative min-label propagation — the standard
    * distributed CC algorithm (each round: every node takes the min
    * component id among itself and its neighbours; converges in
    * O(component diameter) rounds). The pair list and each round's
    * labels are localCheckpoint'd: the similarity join must run ONCE,
    * not once per round through lineage, and the plan must not grow
    * unboundedly. The only driver-side value per round is the scalar
    * convergence count. Oracle: DuckDB recursive-CTE transitive closure
    * over the same (string-shingle) pair SQL.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentLabels(spark, dir)
      .groupBy("comp")
      .agg(count(lit(1)).as("n_members"), max("id").as("max_id"))
      .orderBy("comp")

  /** (id, comp) labels for every doc that appears in a near-dup pair —
    * the min-label propagation loop shared by [[dedupComponents]] and
    * [[dedupSurvivor]].
    */
  private def componentLabels(spark: SparkSession, dir: String): DataFrame = {
    // Undirected edge list in ONE pass over the similarity join: explode
    // each pair into both directions instead of a two-branch union (one
    // checkpoint job, and the expensive jaccard subplan runs exactly once).
    val edges = ngramJaccard(spark, dir)
      .select(explode(array(
        struct(col("id_a").as("id_a"), col("id_b").as("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("e"))
      .select("e.id_a", "e.id_b")
      .localCheckpoint()
    // Seed labels with round 1 of the propagation for free: comp =
    // min(id, min neighbor) straight off the edge aggregation, so the
    // loop below only runs for components of diameter >= 2.
    var labels = edges.groupBy(col("id_a").as("id"))
      .agg(min("id_b").as("nbr_min"))
      .select(col("id"), least(col("id"), col("nbr_min")).as("comp"))
    // min-label propagation converges in O(component diameter) rounds;
    // the guard is a runaway bound, NOT a silent cap — exhausting it
    // with labels still moving must fail loudly (wrong components would
    // otherwise flow into the survivor/cleaned-corpus keys unnoticed)
    val maxRounds = 50
    var changed = 1L
    var guard = 0
    while (changed > 0 && guard < maxRounds) {
      val prop = edges
        .join(labels.select(col("id").as("id_b"), col("comp").as("nbr")),
          Seq("id_b"))
        .groupBy("id_a").agg(min("nbr").as("nbr_min"))
        .select(col("id_a").as("id"), col("nbr_min"))
      val next = labels.join(prop, Seq("id"), "left")
        .select(col("id"), col("comp"),
          least(col("comp"), coalesce(col("nbr_min"), col("comp")))
            .as("next_comp"))
        .localCheckpoint()
      changed = next.filter(col("next_comp") < col("comp")).count()
      labels = next.select(col("id"), col("next_comp").as("comp"))
      guard += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connected components did not converge in $maxRounds rounds " +
          s"($changed labels still moving) — component diameter exceeds " +
          "the bound; raise maxRounds or switch to pointer jumping")
    labels
  }

  /** The end-to-end near-dup DELIVERABLE: every document labeled with
    * its dedup cluster (singleton docs are their own cluster) and a
    * `keep` flag — true iff the doc is its cluster's min-id survivor.
    * `WHERE keep` is the cleaned corpus. One left join of the corpus
    * against the (small: only docs in some near-dup pair) component
    * label table, broadcast-able by construction at any scale where
    * near-dups are a minority.
    */
  def dedupSurvivor(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .select("doc_id")
      .join(
        componentLabels(spark, dir)
          .select(col("id").as("doc_id"), col("comp")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("comp"),
        (coalesce(col("comp"), col("doc_id")) === col("doc_id")).as("keep"))
      .orderBy("doc_id")

  /** Embedding-cosine dedup: drop any vector that has a lower-id
    * neighbour with cosine >= 0.35 in the same label block; survivors
    * returned. Blocked self-join + left_anti — no global pairwise pass.
    */
  def embedDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val drops = a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(expr("cosine_sim(emb_a, emb_b)"), 6) >= 0.35)
      .select(col("id_b").as("vec_id")).distinct()
    Tables(spark, dir, "embeddings")
      .join(drops, Seq("vec_id"), "left_anti")
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  /** SemDeDup-style semantic dedup: cluster by nearest centroid, then
    * drop within-cluster near-duplicates. Unlike [[embedDedup]] (which
    * blocks on a GIVEN label), the blocking key here comes from the data
    * — argmax-cosine assignment against a deterministic codebook
    * (vec_id < 10, the llm_ann_ivf convention; production swaps in
    * k-means centroids from llm_kmeans_step). The pairwise pass then
    * runs per CELL — cost Σ|cell|², never |corpus|² — and survivors are
    * the min-id representative of each near-dup set. Assignment uses the
    * 6-decimal rounded cosine with cid tiebreak so the argmax is exact
    * cross-engine.
    */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "embeddings")
    val cent = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = CorpusOps.assignToCentroids(e, cent)
    val a = assigned.select(col("cid"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = assigned.select(col("cid"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    val drops = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(expr("cosine_sim(emb_a, emb_b)"), 6) >= 0.4)
      .select(col("id_b").as("vec_id")).distinct()
    assigned
      .join(drops, Seq("vec_id"), "left_anti")
      .select("vec_id", "cid")
      .orderBy("vec_id")
  }

  /** Fuzzy (edit-distance) neighbor scan — the record-linkage dedup for
    * small in-place edits that hash/shingle methods miss. Blocking keeps
    * it corpus-scale: candidates must share `lang` and sit within ±4
    * chars of length, implemented as an equi-join on (lang, 8-char
    * length band) with the SUBJECT side replicated into {b-1, b, b+1}
    * (±4 < band width 8 ⇒ every qualifying candidate band is adjacent,
    * and each candidate's band is unique ⇒ no pair double-counted). Each
    * candidate pair pays ONE levenshtein over a 64-char prefix — bounded
    * cost per pair, never the full multi-KB text. Output is a per-doc
    * summary (candidate/close-match counts, min distance), so the key is
    * total over the corpus — non-empty at every SF even with no
    * near-dups — and the oracle can state the UNBLOCKED theta-join
    * semantics, proving the banding loses nothing.
    */
  def editDistance(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        substring(col("text"), 1, 64).as("pfx"))
    val subj = d.select(col("doc_id").as("id"), col("lang"),
        col("n_chars").as("nc"), col("pfx").as("pfx_s"),
        explode(array(expr("n_chars div 8 - 1"), expr("n_chars div 8"),
          expr("n_chars div 8 + 1"))).as("band"))
    val cand = d.select(col("doc_id").as("cand_id"), col("lang"),
      col("n_chars").as("cand_nc"), col("pfx").as("pfx_c"),
      expr("n_chars div 8").as("band"))
    val stats = subj.join(cand, Seq("lang", "band"))
      .filter(col("id") =!= col("cand_id") &&
        abs(col("nc") - col("cand_nc")) <= 4)
      .withColumn("dist", levenshtein(col("pfx_s"), col("pfx_c")))
      .groupBy("id")
      .agg(count(lit(1)).as("n_candidates"),
        count(when(col("dist") <= 8, 1)).as("n_close"),
        min("dist").cast("long").as("min_dist"))
    d.join(stats, d("doc_id") === stats("id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
        coalesce(col("n_close"), lit(0L)).as("n_close"),
        col("min_dist"))
      .orderBy("doc_id")
  }

  /** Cross-document EXACT duplicated-span detection (the Lee et al. 2021
    * "Deduplicating Training Data" duplicated-span shape): every length-8
    * word window is an anchor; an anchor occurring in ≥2 DISTINCT
    * documents marks a duplicated span of ≥8 words. Output is the per-doc
    * span summary (total windows, duplicated windows, duplicated
    * fraction) — the signal that cuts boilerplate/licenses/memorized
    * passages which doc-LEVEL dedup (exact/near/semantic above) cannot
    * see. Spark-first shape instead of the paper's monolithic suffix
    * array: one corpus scan explodes the windows; the shuffle key is a
    * 128-bit two-seed xxhash64 of the word-array window — 16 bytes,
    * never the span text (the llm_canonicalize wide-key lesson), and
    * md5-grade collision odds without md5's cost or the concatenated
    * window string's; one digest-keyed aggregate marks
    * duplicated anchors; the tag-back join shares that exchange
    * (ReuseExchange — both sides hash-partition the same window stream
    * on g); one doc-keyed aggregate emits the summary. No driver-side
    * state, no all-pairs join anywhere: candidate volume is LINEAR in
    * corpus tokens, so the plan survives 100 TB. Equal digests are
    * treated as equal spans (2⁻¹²⁸ collision odds — the same contract
    * as exact dedup's md5 keying). Matching spans longer than 8 words
    * appear as runs of consecutive duplicated anchors, so dup_spans is
    * monotone in true duplicated-span length (property-tested: planted
    * cross-doc spans are found, disjoint corpora produce zero).
    */
  /** Core of [[substringDedup]] over any (doc_id, text) frame — split out
    * so the planted-span property test can run it on synthetic corpora.
    */
  def substringSpans(docs: DataFrame, n: Int = 8,
      width: Option[Int] = None): DataFrame = {
    val w = split(col("text"), " ")
    // anchor key = BOTH xxhash64 seeds over the raw word-array slice —
    // 128 collision bits (the md5 contract; 64 bits would birthday-
    // collide among the ~10^13 anchors of a 100 TB corpus) without
    // md5's cost or the window string's: no concat_ws materializes the
    // span text, and the exchange key is a 16-byte struct, not a
    // 32-char digest (measured 5.3 s → 3.7 s at sf0.1)
    val grams = when(size(w) >= n,
        transform(sequence(lit(0), size(w) - n),
          i => slice(w, i + lit(1), lit(n))))
      .otherwise(array().cast("array<array<string>>"))
    // explode amplifies each doc into ~|words| rows, so SCAN granularity
    // is the wrong parallelism for this stage: Spark splits files at
    // max(4 MB, size/parallelism), which gave a 6 MB corpus ~1 scan
    // partition and serialized the whole window/hash stage (measured
    // 37 s at the 10× replica; 4.7 s after this repartition). One
    // doc_id-keyed exchange of the NARROW input buys full width for the
    // 100×-bigger exploded stream — the small-input/big-intermediate
    // pattern (decompression-amplification at 100 TB behaves the same).
    // width: data-derived when the caller knows the source table
    // (Tables.explodeWidth — guide §2 scale-adaptive partitioning),
    // session shuffle width otherwise (property tests on synthetic
    // frames with no file behind them)
    val nPart = width.getOrElse(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val sh = docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), explode(grams).as("gram"))
      .select(col("doc_id"),
        struct(xxhash64(col("gram"), lit(1)), xxhash64(col("gram"), lit(2)))
          .as("g"))
    val anchors = sh.groupBy("g").agg(count_distinct(col("doc_id")).as("nd"))
    sh.join(anchors, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("nd") >= 2, 1)).as("dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("dup_spans"),
        (col("dup_spans").cast("double") / col("n_spans")).as("dup_ratio"))
      .orderBy("doc_id")
  }

  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables(spark, dir, "documents"),
      width = Some(Tables.explodeWidth(spark, dir, "documents")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_substring" -> substringDedup,
    "llm_dedup_edit_distance" -> editDistance,
    "llm_dedup_semantic" -> semanticDedup,
    "llm_dedup_simhash" -> simhashPairs,
    "llm_dedup_ngram_jaccard" -> ngramJaccard,
    "llm_dedup_components" -> dedupComponents,
    "llm_dedup_survivor" -> dedupSurvivor,
    "llm_dedup_embed" -> embedDedup
  )

  // range(1, n-2+1) — full trigrams only; docs under 3 words yield an
  // empty list, as shingle_set gives the empty set (range(1, x) is
  // empty for x < 1 in DuckDB).
  private[llm] val shingleSql =
    "list_transform(range(1, len(string_split(text, ' ')) - 1), " +
      "i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1] " +
      "|| ' ' || string_split(text, ' ')[i+2])"

  def oracle: Map[String, String] = Map(
    // the same window stream restated over DuckDB lists: w[i:i+7] is the
    // 1-based inclusive 8-word slice; range(1, len-6) yields the same
    // len-7 window starts as Spark's sequence(0, size-8) (empty when the
    // doc has <8 words). Grouping on the raw window text here vs md5 in
    // Spark is count-identical — the digest only narrows the shuffle key.
    "llm_dedup_substring" ->
      ("WITH words AS (SELECT doc_id, string_split(text, ' ') AS w " +
        "FROM documents), " +
        "sh AS (SELECT doc_id, unnest(list_transform(" +
        "range(1, greatest(len(w) - 6, 1)), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gram FROM words), " +
        "an AS (SELECT gram, count(DISTINCT doc_id) AS nd " +
        "FROM sh GROUP BY 1) " +
        "SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_spans, " +
        "CAST(count(CASE WHEN nd >= 2 THEN 1 END) AS BIGINT) AS dup_spans, " +
        "CAST(count(CASE WHEN nd >= 2 THEN 1 END) AS DOUBLE) / count(*) " +
        "AS dup_ratio " +
        "FROM sh JOIN an USING (gram) GROUP BY 1 ORDER BY 1"),
    // the UNBLOCKED theta-join statement of the same semantics — the
    // banded Spark plan must lose no pair
    "llm_dedup_edit_distance" ->
      ("WITH d AS (SELECT doc_id, lang, n_chars, substr(text, 1, 64) " +
        "AS pfx FROM documents), " +
        "p AS (SELECT a.doc_id AS id, levenshtein(a.pfx, b.pfx) AS dist " +
        "FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id <> b.doc_id " +
        "AND abs(a.n_chars - b.n_chars) <= 4), " +
        "s AS (SELECT id, count(*) AS n_candidates, " +
        "count(CASE WHEN dist <= 8 THEN 1 END) AS n_close, " +
        "min(dist) AS min_dist FROM p GROUP BY 1) " +
        "SELECT doc_id, coalesce(n_candidates, 0) AS n_candidates, " +
        "coalesce(n_close, 0) AS n_close, min_dist " +
        "FROM d LEFT JOIN s ON d.doc_id = s.id ORDER BY doc_id"),
    "llm_dedup_ngram_jaccard" ->
      (s"WITH sh AS (SELECT doc_id, unnest(list_distinct($shingleSql)) AS sh FROM documents), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6 " +
        "ORDER BY id_a, id_b"),
    "llm_dedup_components" ->
      (s"WITH RECURSIVE sh AS (SELECT doc_id, unnest(list_distinct($shingleSql)) AS sh FROM documents), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6), " +
        "edges AS (SELECT id_a, id_b FROM pairs UNION ALL " +
        "SELECT id_b AS id_a, id_a AS id_b FROM pairs), " +
        "reach(id, r) AS (SELECT DISTINCT id_a AS id, id_a AS r FROM edges " +
        "UNION SELECT e.id_a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.id_b), " +
        "comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id) " +
        "SELECT comp, count(*) AS n_members, max(id) AS max_id " +
        "FROM comp GROUP BY comp ORDER BY comp"),
    "llm_dedup_survivor" ->
      (s"WITH RECURSIVE sh AS (SELECT doc_id, unnest(list_distinct($shingleSql)) AS sh FROM documents), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "pairs AS (SELECT id_a, id_b FROM inter " +
        "JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.6), " +
        "edges AS (SELECT id_a, id_b FROM pairs UNION ALL " +
        "SELECT id_b AS id_a, id_a AS id_b FROM pairs), " +
        "reach(id, r) AS (SELECT DISTINCT id_a AS id, id_a AS r FROM edges " +
        "UNION SELECT e.id_a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.id_b), " +
        "comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id) " +
        "SELECT d.doc_id, coalesce(comp.comp, d.doc_id) AS comp, " +
        "(coalesce(comp.comp, d.doc_id) = d.doc_id) AS keep " +
        "FROM documents d LEFT JOIN comp ON comp.id = d.doc_id " +
        "ORDER BY d.doc_id"),
    "llm_dedup_semantic" ->
      ("WITH e AS (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings), " +
        "cent AS (SELECT vec_id AS cid, emb AS cvec FROM e WHERE vec_id < 10), " +
        "assigned AS (SELECT vec_id, emb, cid FROM (" +
        "SELECT e.vec_id, e.emb, c.cid, row_number() OVER (" +
        "PARTITION BY e.vec_id ORDER BY " +
        "round(list_cosine_similarity(e.emb, c.cvec), 6) DESC, c.cid) AS rk " +
        "FROM e CROSS JOIN cent c) WHERE rk = 1), " +
        "drops AS (SELECT DISTINCT b.vec_id FROM assigned a " +
        "JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.4) " +
        "SELECT vec_id, cid FROM assigned " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id"),
    "llm_dedup_embed" ->
      ("WITH e AS (SELECT vec_id, label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb FROM embeddings), " +
        "drops AS (SELECT DISTINCT b.vec_id FROM e a JOIN e b " +
        "ON a.label = b.label AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.35) " +
        "SELECT vec_id, label FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT vec_id FROM drops) ORDER BY vec_id")
  )
}
