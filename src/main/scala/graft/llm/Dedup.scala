package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** SURVEY.md §2.9 — document deduplication.
  *
  * Exact dedup: deterministic survivor (min doc_id per text) via one
  * window pass — at 100 TB this is a single shuffle on a text hash;
  * substituting `md5(text)` for the raw text as the partition key keeps
  * shuffle rows narrow (applied here — md5, NOT a 64-bit hash: see
  * [[dedupExact]]'s scaladoc for the collision-bound argument).
  *
  * Near-dup: every stage starts from one shingle set per document, the
  * codegen'd `shingle_set` kernel ([[shingleSet]]). PPJoin
  * ([[dedupNear]]) joins prefix postings of those sets; MinHash+LSH
  * ([[dedupNearLsh]]) hashes them into 64 permutations via
  * xxhash64(shingle, seed) → 16 bands × 4 rows → candidate pairs from
  * band-bucket joins. At 100 TB the band explode+groupBy is the
  * standard LSH shuffle; the quadratic step runs only within a bucket.
  */
object Dedup {

  private def words(c: Column): Column = split(c, " ")

  /** The n-1 full adjacent word pairs of `text`, space-joined — shared
    * by the BPE pair statistic and the repetition filter. Same
    * windowing rule as [[shingles]]: zip_with pads the shorter side
    * with null and concat_ws would silently emit the padded tail as a
    * bare unigram, so the slice clamps to exactly the full bigrams.
    */
  def bigrams(text: Column): Column = {
    val w = split(text, " ")
    slice(
      zip_with(w, slice(w, lit(2), size(w)), (a, b) => concat_ws(" ", a, b)),
      lit(1), greatest(size(w) - 1, lit(0)))
  }

  /** 3-word shingles of the text as strings.
    *
    * Built with zip_with over the word array and its two shifted slices
    * rather than `transform(sequence(i), i => element_at(w, i)...)`:
    * expressions referenced inside an HOF lambda are re-evaluated per
    * element, so the index form re-splits the text 3× per shingle
    * (measured 4 s for the sf0.1 explode); zip_with's children are
    * evaluated once per row and the lambdas only touch materialized
    * data. concat_ws skips the nulls zip_with pads with, and the final
    * slice keeps exactly the full trigrams (i = 1 .. max(n-2, 1)) —
    * byte-identical to the index formulation.
    */
  def shingles(text: Column): Column = {
    val w = words(text)
    val pairs = zip_with(w, slice(w, lit(2), size(w)),
      (x, y) => concat_ws(" ", x, y))
    val tris = zip_with(pairs, slice(w, lit(3), size(w)),
      (x, y) => concat_ws(" ", x, y))
    // i = 1 .. n-2 full trigrams only; a doc under 3 words yields an
    // EMPTY shingle set (a greatest(..,1) clamp here would emit a bare
    // 1-or-2-word fragment as a fake trigram and diverge from the
    // DuckDB-side range(1, n-2+1) formulation on short docs).
    slice(tris, lit(1), greatest(size(w) - lit(2), lit(0)))
  }

  /** The document's 3-word shingle SET: the sorted, distinct 64-bit
    * hashes of its word triples, one `shingle_set` call
    * ([[graft.functions.ShingleSet]]). Never null — null or short text
    * gives the empty set — so every MinHash and PPJoin stage shares
    * one definition of a shingle. The hash covers the word TRIPLE, not
    * a joined string, so no trigram text is ever materialized; same
    * full-trigrams-only windowing as [[shingles]]. A 64-bit collision
    * needs ~2^32 distinct shingles to become likely, and would only
    * inflate one intersection count by 1.
    */
  def shingleSet(text: Column): Column = call_function("shingle_set", text)

  /** 16-permutation MinHash signature: sig[i] = min over shingles of
    * xxhash64(hashed_shingle, i) — permutation hashes run over the
    * 64-bit [[shingleSet]], so the 16 per-shingle hashes cost
    * long-mixes instead of 17-byte string traversals. A min is blind
    * to order and repeats, so the set gives the same signature as the
    * shingle sequence would.
    *
    * Per-row HOF form — the semantic definition, used for golden tests.
    * Higher-order functions are interpreted (no codegen) in Spark, so
    * for bulk data use [[minhashSignatures]], which computes identical
    * values through codegen'd explode + hash-aggregate (measured 25×
    * faster at sf0.1).
    */
  def minhashSignature(text: Column, perms: Int = 16): Column =
    transform(sequence(lit(0), lit(perms - 1)),
      i => array_min(transform(shingleSet(text), s => xxhash64(s, i))))

  /** Distributed MinHash: explode shingles, compute all 16 permutation
    * hashes as parallel codegen'd xxhash64(shingle, i) columns —
    * identical values to [[minhashSignature]] since both hash the same
    * (long, int) pair — then ONE hash-aggregate per doc taking 16
    * mins, assembled into the signature array. A single narrow shuffle
    * keyed on doc_id; no interpreted lambdas, no row multiplication.
    */
  def minhashSignatures(spark: SparkSession, docs: DataFrame,
      perms: Int = 16, width: Option[Int] = None): DataFrame = {
    // width before the explode: a compressed corpus file under Spark's
    // scan-split floor arrives as ONE partition, which would serialize
    // the shingle explode + perms×xxhash64 work into a single task (the
    // small-input/big-intermediate trap — see substringSpans).
    // width: data-derived when the caller knows the source table
    // (Tables.explodeWidth — guide §2 scale-adaptive, the r17 ppjoin
    // width pass), session shuffle width otherwise (tests on synthetic
    // frames with no file behind them)
    val nPart = width.getOrElse(
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val exploded = docs
      .repartition(nPart, col("doc_id"))
      .select(col("doc_id"), explode(shingleSet(col("text"))).as("sh"))
    val mins = (0 until perms).map(i =>
      min(xxhash64(col("sh"), lit(i))).as(s"h$i"))
    exploded
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until perms).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** Exact dedup keeps the first doc_id per identical text. The window
    * partitions on md5(text) ONLY — a 16-byte digest — so the multi-KB
    * text never rides the exchange's partitioning/sort key (the
    * llm_canonicalize lesson: never shuffle wide keys; its md5-key fix
    * measured 6.9 s → 0.5 s). md5 collisions are 2^-64-improbable at any
    * corpus size; equal digests are treated as equal texts, the same
    * contract llm_canonicalize and content-addressed storage already use.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(md5(col("text"))).orderBy("doc_id")
    Tables(spark, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** SUB-DOCUMENT (paragraph-granularity) exact dedup — the
    * Dolma/RefinedWeb-style pass the document-level family can't
    * express: the corpus deduplicates at the CHUNK level (fixed 8-word
    * windows standing in for paragraphs — the fixture text has no
    * paragraph breaks), keep-first by global (doc_id, pos) order, and
    * each document reports how much of it survived. A boilerplate
    * paragraph repeated across thousands of pages dies everywhere but
    * its first occurrence while the hosting documents live on — the
    * case where document-level exact/near dedup keeps every copy.
    * Topology at 100 TB: explode is linear, the winner election is ONE
    * hash aggregate keyed on unhex(md5(chunk)) — a 16-BYTE BINARY
    * digest (not the 32-char hex string), so the 8-word chunk text
    * itself never rides an exchange (the llm_canonicalize lesson:
    * never shuffle wide keys; its md5-key fix measured 6.9 s → 0.5 s;
    * 128 bits, not xxhash64's 64 — at 10^10 corpus chunks a 64-bit
    * birthday bound is ~unity) — and the kept-count join is digest-keyed,
    * aggregating straight back down to doc_id. The winner per chunk is
    * min(struct(doc_id, pos)) — true lexicographic keep-first with no
    * arithmetic headroom to overflow (the r10 encoded key
    * doc_id·100000+pos silently collided into the next doc's key space
    * past 100k chunks/doc). NULL/empty texts are filtered explicitly:
    * Spark's sequence(0,-1) on an empty word list would fabricate null
    * chunks where DuckDB's range() yields zero rows. */
  def dedupParagraph(spark: SparkSession, dir: String): DataFrame = {
    val ch = Tables(spark, dir, "documents")
      .filter(col("text").isNotNull && col("text") =!= "")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, (size(words) + 7) div 8 - 1), " +
          "i -> concat_ws(' ', slice(words, i * 8 + 1, 8)))")))
      .toDF("doc_id", "pos", "chunk")
      .select(col("doc_id"), col("pos"), unhex(md5(col("chunk"))).as("ck"))
    val winners = ch.groupBy("ck")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val kept = ch.as("c").join(winners.as("x"),
      col("c.ck") === col("x.ck") &&
        col("c.doc_id") === col("x.w.doc_id") &&
        col("c.pos") === col("x.w.pos"))
      .groupBy(col("c.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_kept"))
    ch.groupBy("doc_id").agg(count(lit(1)).as("n_chunks"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  /** Per-doc MinHash signatures (golden-file unit test; xxhash64 has no
    * DuckDB twin, so no oracle). Emitted comma-joined: the driver's
    * rows-only check still loads and sorts the output, and array columns
    * are unsortable there (round-1 gate error).
    */
  def minhashQuery(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(spark, Tables(spark, dir, "documents"),
      width = Some(Tables.explodeWidth(spark, dir, "documents")))
      .select(col("doc_id"),
        concat_ws(",", transform(col("sig"), _.cast("string")))
          .as("signature"))
      .orderBy("doc_id")

  /** Near-dup pairs at jaccard >= 0.5 with EXACT recall: candidates come
    * from [[DedupVariants.ngramCandidates]]'s PPJoin prefix filter at
    * τ=0.5 — a guaranteed superset of the true pair set BY CONSTRUCTION
    * (any pair with J >= τ must share a prefix token under the global
    * hash order) — then each candidate is verified with the true trigram
    * jaccard over the full shingle sets. Oracle equality with the
    * exhaustive jaccard >= 0.5 pair set therefore holds on ANY corpus.
    *
    * History: r1–r6 this key proposed candidates via MinHash+LSH banding
    * (now [[dedupNearLsh]]). Banding recall at j ≈ τ is probabilistic —
    * b=16/r=4 catches only ~64% at j=0.5 — and the key stayed green only
    * because the fixtures happened to have no true pairs in the 0.5–0.8
    * band. The r6 fixture regeneration (min true-pair jaccard measured
    * 0.8 at sf0.1, 0.9 at sf0.01) proved the corpus can change under us,
    * so the oracle-keyed operator now uses the exact-recall candidate
    * stage (r6 verdict item 4); the LSH path remains first-class as
    * [[dedupNearLsh]] for the at-scale regime where PPJoin's prefix
    * postings outgrow banding's fixed b·r signature work.
    */
  def dedupNear(spark: SparkSession, dir: String): DataFrame = {
    val (cand, sets) = DedupVariants.ngramCandidates(spark, dir, tau = 0.5)
    verifyJaccard(cand, sets, 0.5)
  }

  /** MinHash+LSH near-dup pairs, exact-verified: banding proposes
    * candidates — docs sharing any of 16 bands (4 sig rows each, over a
    * 64-permutation signature) — and each candidate pair is verified
    * with the TRUE trigram jaccard over the full shingle sets, kept at
    * jaccard >= 0.5. Emitted values are a pure function of the text, but
    * RECALL is the standard probabilistic LSH contract: catch
    * probability 1-(1-j⁴)¹⁶ (0.9998 at j=0.8, ~0.64 at j=0.5), so this
    * key is declared WITHOUT an oracle (rows-only check) and its recall
    * is measured per fixture by DevNearRecall and the LlmSpec recall
    * tests. At 100 TB this is the cheaper candidate generator: signature
    * work is fixed b·r hashes per doc regardless of document length,
    * while PPJoin prefix postings grow with shingle-set size.
    *
    * Band geometry is a measured round-5 decision: b=4/r=4 caught only
    * 0.878 at j=0.8 and the 10×/100× shingle-disjoint replicas exposed
    * exactly that (2/2560 and 30/25,600 true pairs missed); b=16/r=4
    * lifts the catch to 0.9998 at j=0.8 with noise-pair collisions
    * negligible (∝16·j⁴ ≈ 2e-7 at the unrelated-doc j≈0.01), and
    * measured recall is 100% at 1×, 10× and 100×.
    *
    * Signatures come from the codegen'd [[minhashSignatures]] path; its
    * final aggregation is the Exchange barrier that materializes them,
    * so the banding self-join consumes signature DATA instead of
    * re-evaluating the MinHash expression per consumer (the inlined HOF
    * form measured 98 s at sf0.1; this runs in ~2 s). Candidates are
    * dedup'd BEFORE the verify join, so each pair pays one
    * array_intersect.
    */
  def dedupNearLsh(spark: SparkSession, dir: String): DataFrame = {
    val (cand, sets) = nearCandidates(spark, dir)
    verifyJaccard(cand, sets, 0.5)
  }

  /** Shared exact-verify stage: true trigram jaccard over the full
    * shingle sets for each candidate pair, thresholded at τ.
    *
    * PRECONDITION: `sets.shs` is sorted ascending and duplicate-free —
    * what [[shingleSet]] yields — because the intersection count is the
    * two-pointer `sorted_intersect_count` kernel (no per-pair hash set,
    * no materialized intersection). On distinct inputs that count is
    * size(array_intersect), so the jaccard, and the oracle, are exact.
    *
    * The shingle-set side is doc-count-sized (broadcastable here; at
    * 100 TB swap the two broadcasts for shuffle hash joins on id).
    * Candidates may repeat a pair (PPJoin once per shared prefix token,
    * LSH once per colliding band), so survivors are distinct()'d where
    * only ~|result| rows remain.
    */
  private[llm] def verifyJaccard(cand: DataFrame, sets: DataFrame,
      tau: Double): DataFrame = {
    val sa = sets.as("sa")
    val sb = sets.as("sb")
    cand
      .join(broadcast(sa), col("id_a") === col("sa.doc_id"))
      .join(broadcast(sb), col("id_b") === col("sb.doc_id"))
      .withColumn("inter", expr("sorted_intersect_count(sa.shs, sb.shs)"))
      .withColumn("jaccard", jaccard(col("inter"), size(col("sa.shs")), size(col("sb.shs"))))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")
      .distinct()
      .orderBy("id_a", "id_b")
  }

  /** Trigram jaccard from the overlap and the two set sizes, in the one
    * arithmetic form every stage uses: a bound tested with it (PPJoin's
    * positional filter) admits whatever the verify step keeps.
    */
  private[graft] def jaccard(inter: Column, szA: Column, szB: Column): Column =
    inter.cast("double") / (szA + szB - inter).cast("double")

  /** The LSH banding candidate stage of [[dedupNear]] — (candidate
    * pairs, full shingle sets) — extracted so the round-5 scaling
    * experiment measures the operator's ACTUAL candidate volume (one
    * definition, no dev-tool drift).
    */
  private[graft] def nearCandidates(
      spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = Tables(spark, dir, "documents")
    // data-derived width for every pinned exchange (guide §2, the r17
    // ppjoin width pass): at sf0.1 the session's 32-wide pins cost more
    // task dispatch than the work they parallelize (family measured
    // −25-35% at width 4-16, OPTIMIZATION_r17.md); at the 10×/100×
    // replicas the formula derives full width again, preserving the
    // r4/r5 scale measurements. Pinning (vs leaving AQE to choose)
    // stays: AQE's bytes proxy would coalesce these compute-heavy
    // shuffles to ONE task (measured 3.6 s, see ngramCandidates).
    val w = Tables.explodeWidth(spark, dir, "documents")
    // same width-before-shingle-work exchange as the signature path
    val sets = docs
      .repartition(w, col("doc_id"))
      .select(col("doc_id"), shingleSet(col("text")).as("shs"))
    val sigs = minhashSignatures(spark, docs, perms = 64, width = Some(w))
    val nPart = w
    val banded = sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(15)),
        b => xxhash64(slice(col("sig"), b * 4 + 1, lit(4)), b))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
      .repartition(nPart, col("band"), col("bucket"))
    val cand = banded.select(col("band"), col("bucket"), col("doc_id").as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    (cand, sets)
  }

  /** Canonicalization dedup — the normalization step that runs BEFORE
    * exact dedup in a real corpus pipeline: lowercase, strip everything
    * but [a-z0-9 ], collapse whitespace, trim; then one hash aggregate on
    * the canonical form with a deterministic min-id survivor. Catches
    * case/punctuation variants that byte-exact dedup misses. Map-side
    * string work + one exchange on the canonical key.
    */
  def canonicalize(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir, "documents")
      .withColumn("canon",
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
          " +", " ")))
      // group on md5(canon), not canon: the canonical text is the whole
      // multi-KB document, and using it as the grouping key ships every
      // byte through the exchange and compares kilobyte strings in the
      // hash map (measured 6.9 s at sf0.1 → 1.3 s). md5 is available in
      // both engines, so the oracle stays exact; a collision would need
      // ~2^64 docs. canon_len rides along via min() (constant per group).
      .select(col("doc_id"), md5(col("canon")).as("h"),
        length(col("canon")).cast("long").as("canon_len"))
      .groupBy("h")
      .agg(min("doc_id").as("survivor_id"),
        count(lit(1)).cast("long").as("n_variants"),
        min("canon_len").as("canon_len"))
      .select("survivor_id", "n_variants", "canon_len")
      .orderBy("survivor_id")

  /** The signature pipeline through the native TypedImperativeAggregate
    * ([[graft.functions.MinHashAgg]]) instead of 16 min() columns — one
    * aggregate expression, raw long[16] buffer, same bit-exact values
    * (asserted in Wave3Spec). No oracle (xxhash64 has no DuckDB
    * counterpart). Like [[minhashQuery]], the signature is emitted
    * comma-joined: the driver's rows-only check sorts the frame and raw
    * array columns are unsortable there (r3 gate crash on this key).
    */
  def minhashAggQuery(spark: SparkSession, dir: String): DataFrame = {
    // width before the explode, same as minhashSignatures: a compressed
    // corpus under the scan-split floor is ONE partition and would
    // serialize the explode + partial aggregate into a single task
    Tables.wide(spark, dir, "documents")
      .select(col("doc_id"), explode(shingleSet(col("text"))).as("sh"))
      .groupBy("doc_id")
      .agg(expr("minhash_agg(sh)").as("sig"))
      .select(col("doc_id"),
        concat_ws(",", transform(col("sig"), _.cast("string")))
          .as("signature"))
      .orderBy("doc_id")
  }

  /** URL-canonicalization dedup — the crawl-side dedup that runs BEFORE
    * any content hashing: synthesize each doc's URL deterministically
    * from its fields, then canonicalize (lowercase host via `parse_url`,
    * strip the trailing path slash, drop `utm_*` tracking params, keep
    * semantic params) and collapse per canonical URL with the min-id
    * survivor. Pure map-side until the one canonical-keyed aggregate.
    * The oracle restates the canonical form CLOSED-FORM from the source
    * columns (the synthesis is invertible), so the parse_url → strip →
    * reassemble chain is verified end-to-end.
    */
  def dedupUrl(spark: SparkSession, dir: String): DataFrame = {
    val url = concat(lit("https://"), upper(col("source")),
      lit(".Example.COM/"), col("lang"), lit("/doc-"),
      col("doc_id") % 100, lit("/?utm_campaign=c"), col("doc_id"),
      lit("&ref="), col("lang"))
    Tables(spark, dir, "documents")
      .withColumn("url", url)
      .withColumn("host", lower(expr("parse_url(url, 'HOST')")))
      .withColumn("path", regexp_replace(
        expr("parse_url(url, 'PATH')"), "/$", ""))
      .withColumn("q", regexp_replace(
        expr("parse_url(url, 'QUERY')"), "(^|&)utm_[^&]*", ""))
      .withColumn("canonical", concat(col("host"), col("path"),
        when(col("q") =!= "", concat(lit("?"), regexp_replace(col("q"), "^&", "")))
          .otherwise(lit(""))))
      .groupBy("canonical")
      .agg(min("doc_id").as("canon_id"), count(lit(1)).as("n_variants"))
      .orderBy("canonical")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "llm_dedup_url" -> dedupUrl,
    "llm_dedup_exact" -> dedupExact,
    "llm_dedup_paragraph" -> dedupParagraph,
    "llm_canonicalize" -> canonicalize,
    "llm_minhash_signature" -> minhashQuery,
    "llm_minhash_agg" -> minhashAggQuery,
    "llm_dedup_near" -> dedupNear,
    // no oracle: recall is the probabilistic LSH contract (see scaladoc);
    // driver records a rows-only check, recall is unit/dev-probe-tested
    "llm_dedup_lsh" -> dedupNearLsh
  )

  def oracle: Map[String, String] = Map(
    // the EXHAUSTIVE jaccard >= 0.5 pair set (same trigram stream as the
    // ngram_jaccard oracle, threshold 0.5): equals dedupNear's output BY
    // CONSTRUCTION since r7 — PPJoin prefix filtering at τ=0.5 has exact
    // recall on any corpus (see dedupNear scaladoc)
    "llm_dedup_near" ->
      (s"WITH sh AS (SELECT doc_id, unnest(list_distinct(${DedupVariants.shingleSql})) AS sh FROM documents), " +
        "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), " +
        "inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) AS jaccard " +
        "FROM inter JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b " +
        "WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5 " +
        "ORDER BY id_a, id_b"),
    "llm_dedup_url" ->
      ("SELECT source || '.example.com/' || lang || '/doc-' || " +
        "CAST(doc_id % 100 AS VARCHAR) || '?ref=' || lang AS canonical, " +
        "min(doc_id) AS canon_id, count(*) AS n_variants " +
        "FROM documents GROUP BY 1 ORDER BY canonical"),
    "llm_dedup_exact" ->
      ("SELECT doc_id, lang, source, n_chars FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn " +
        "FROM documents) WHERE rn = 1 ORDER BY doc_id"),
    // chunk-level keep-first restated: same 8-word windows, same
    // lexicographic (doc_id, pos) winner (struct min — no encoding),
    // same NULL/empty-text exclusion
    "llm_dedup_paragraph" ->
      ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS words " +
        "FROM documents WHERE text IS NOT NULL AND text <> ''), " +
        "ch AS (SELECT doc_id, " +
        "unnest(range((len(words)+7)//8)) AS pos, " +
        "unnest(list_transform(range((len(words)+7)//8), " +
        "i -> array_to_string(words[i*8+1 : i*8+8], ' '))) AS chunk " +
        "FROM w), " +
        "winners AS (SELECT chunk, min(row(doc_id, pos)) AS wkey " +
        "FROM ch GROUP BY chunk), " +
        "kept AS (SELECT c.doc_id, count(*) AS n_kept FROM ch c " +
        "JOIN winners x ON c.chunk = x.chunk " +
        "AND row(c.doc_id, c.pos) = x.wkey GROUP BY c.doc_id), " +
        "tot AS (SELECT doc_id, count(*) AS n_chunks FROM ch " +
        "GROUP BY doc_id) " +
        "SELECT t.doc_id, t.n_chunks, COALESCE(k.n_kept, 0) AS n_kept " +
        "FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id " +
        "ORDER BY t.doc_id"),
    "llm_canonicalize" ->
      ("WITH c AS (SELECT doc_id, trim(regexp_replace(" +
        "regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), " +
        "' +', ' ', 'g')) AS canon FROM documents) " +
        "SELECT min(doc_id) AS survivor_id, count(*) AS n_variants, " +
        "CAST(min(length(canon)) AS BIGINT) AS canon_len " +
        "FROM c GROUP BY md5(canon) ORDER BY survivor_id")
  )
}
