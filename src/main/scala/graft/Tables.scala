package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Single choke point for reading the fixture tables (SURVEY.md §7.1).
  *
  * All schema handling is schema-on-read from parquet footers; the corpus
  * is flat except `embeddings.embedding: ArrayType(FloatType)`
  * (FIXTURES.md). At 100 TB scale this is where partitioned layouts,
  * bucketing metadata, or a catalog would plug in — every operator goes
  * through here, so swapping `read.parquet(file)` for a partitioned table
  * scan is a one-line change.
  *
  * `events.ts` has changed physical type across fixture regenerations
  * (round 1: parquet TIMESTAMP(NANOS); round 6 driver regen: TIMESTAMP
  * (MICROS), isAdjustedToUTC=false → Spark reads TIMESTAMP_NTZ). Rather
  * than hard-wiring one layout, sessions enable the `nanosAsLong` escape
  * hatch at construction ([[Sessions]]; harmless for non-nanos files,
  * asserted — not set — here) and the reader branches on the type
  * Spark actually inferred from the footer:
  *   - LongType          → file was NANOS; truncate ns→µs (the same
  *                         truncation DuckDB applies surfacing
  *                         TIMESTAMP_NS as TIMESTAMP)
  *   - TimestampNTZType  → file was MICROS without UTC adjustment; the
  *                         session is pinned UTC, so casting to
  *                         TimestampType preserves the instant and the
  *                         oracle's unix_micros values exactly
  *   - TimestampType     → already the canonical type; pass through
  * This makes the reader robust to driver-side fixture regeneration —
  * the round-6 regen silently broke all 52 events-dependent keys for a
  * full round because the old code assumed NANOS forever.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet footer schemas memoized per (sfDir, table) — METADATA of
    * an immutable fixture file, never data. Schema inference dominates
    * the per-action floor: a bare `spark.read.parquet` measures ~100 ms
    * per call at local[32] (footer read + inference inside the session
    * lock), vs ~6 ms with the schema provided (DevFloor probe, r17).
    * With ~1.5 Tables calls per key x 304 keys x 2 reps that floor is a
    * double-digit share of the whole bench. The memo is keyed by path,
    * not session: a footer schema is a pure function of the file (all
    * graft sessions set the same nanosAsLong flag inference depends
    * on). Each entry carries a local stat of the path — file count,
    * total bytes, max mtime, no footer read — and a path rewritten in
    * the same JVM no longer matches it and is inferred again. Each call
    * still builds a FRESH relation with fresh attribute ids — only the
    * StructType is reused — so plan shapes, self-join resolution and
    * results are byte-identical (Round17OptSpec).
    */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    String, ((Int, Long, Long), org.apache.spark.sql.types.StructType)]()

  /** (files, total bytes, max mtime) of a local file or directory tree. */
  private def stat(path: String): (Int, Long, Long) = {
    def files(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(files)
      else Iterator(f).filter(_.isFile)
    files(new java.io.File(path)).foldLeft((0, 0L, 0L)) {
      case ((n, b, t), f) => (n + 1, b + f.length, t max f.lastModified)
    }
  }

  private def readParquet(spark: SparkSession, path: String): DataFrame = {
    val now = stat(path)
    schemaMemo.get(path) match {
      case (`now`, schema) => spark.read.schema(schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        schemaMemo.put(path, (now, df.schema))
        df
    }
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events") {
      // ASSERT, don't set (r7 verdict #3): a table reader silently
      // flipping a session-wide legacy flag is a footgun for concurrent
      // sessions. The flag belongs in the session builder — every graft
      // entry point gets it via graft.Sessions.
      require(
        spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") == "true",
        "events reads need spark.sql.legacy.parquet.nanosAsLong=true at " +
          "session construction (the fixture has shipped TIMESTAMP(NANOS) " +
          "layouts); build the session via graft.Sessions")
      val raw = readParquet(spark, s"$sfDir/events.parquet")
      import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
        case TimestampNTZType =>
          // NTZ→Timestamp reinterprets the naive value in the SESSION
          // timezone — only UTC preserves the oracle's unix_micros
          require(
            spark.conf.get("spark.sql.session.timeZone") == "UTC",
            "events NTZ cast needs spark.sql.session.timeZone=UTC " +
              "(graft.Sessions sets it)")
          raw.withColumn("ts", col("ts").cast(TimestampType))
        case TimestampType => raw
        case other => throw new IllegalStateException(
          s"events.ts read as unsupported type $other — fixture layout " +
            "changed again; extend Tables.apply for the new physical type")
      }
    } else {
      readParquet(spark, s"$sfDir/$name.parquet")
    }
  }

  /** The table scan repartitioned to DATA-DERIVED width on `key` — for
    * explode-heavy consumers. A compressed file under Spark's scan-split
    * floor arrives as ONE partition (and a parquet row group can never
    * be split), so a downstream explode/hash chain would run in a single
    * task no matter the core count: the small-input/big-intermediate
    * trap (measured 37 s → 4.7 s on llm_dedup_substring at the 10×
    * replica). One narrow-input exchange buys width for the
    * orders-of-magnitude-larger derived stream. At 100 TB file sizes
    * exceed the split floor and scans arrive wide — this exchange then
    * costs one pass over the narrow input, still cheap relative to the
    * derived work it parallelizes.
    *
    * Width scales with the TABLE's bytes, not a constant (guide §2: a
    * partition count tuned for either local mode or the cluster is
    * wrong at the other end): one partition per ~192 KiB of compressed
    * input (text parquet expands ~10× decoded and the explode-heavy
    * consumers derive 10-30× more intermediate, so a 192 KiB slice is
    * already a few MB of in-flight rows), floored at 4, capped at the
    * session's shuffle width. The 10× replica (6 MB) still lands at
    * full local width = the layout the 37 s → 4.7 s measurement needs;
    * the sf0.1 fixture (600 KB) stops paying 32 tasks per stage for
    * 5000 docs — which the 8-round bpeTrainK loop amplified to ~2.4 s
    * of pure task dispatch (measured, r16 opt).
    */
  def wide(spark: SparkSession, sfDir: String, name: String,
      key: String = "doc_id"): DataFrame =
    apply(spark, sfDir, name)
      .repartition(explodeWidth(spark, sfDir, name), col(key))

  /** The [[wide]] width formula, exposed for consumers that pin their
    * own derived-stream exchanges (substring spans, contamination grams)
    * instead of going through `wide`: one partition per ~192 KiB of the
    * source table's compressed bytes, floor 4, cap = session shuffle
    * width. */
  def explodeWidth(spark: SparkSession, sfDir: String, name: String): Int = {
    def bytes(f: java.io.File): Long =
      if (f.isFile) f.length
      else Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L)
    val b = bytes(new java.io.File(s"$sfDir/$name.parquet"))
    val cap = spark.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(4, math.min(cap, (b / (192L << 10)).toInt))
  }
}
