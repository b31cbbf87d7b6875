package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Paths}
import java.util.UUID

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.{ColumnPath, ParquetMetadata}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, InSet, Literal}
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType, DateType, DecimalType, IntegerType, LongType, MapType, ShortType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** Graft Versioned Table (GVT) — a minimal lakehouse table format:
  * immutable parquet data files plus an append-only JSON commit log,
  * giving training-data pipelines the three properties raw parquet
  * directories cannot: **atomic multi-file commits**, **snapshot
  * isolation with time travel** (dataset versioning — "train on exactly
  * the corpus snapshot the model card cites"), and **file-granular
  * copy-on-write** MERGE/DELETE/compaction.
  *
  * Layout (all paths relative to the table root):
  * {{{
  *   data/c<version>-<uuid>/part-*.parquet   immutable data files
  *   _gvt_log/00000042.json                  one JSON doc per commit
  *   _gvt_log/00000040.ckpt.json             full-state checkpoint
  * }}}
  *
  * The JSON checkpoint is the table's one checkpoint format: every
  * `checkpointEvery`-th commit and every [[vacuum]] floor writes one
  * `%08d.ckpt.json` doc holding the full active-file list, and
  * [[snapshot]] resolution anchors on the newest one ≤ v.
  *
  * A commit records `adds` (new files with row counts + per-column
  * min/max stats) and `removes` (paths logically deleted). Snapshot at
  * version v = replay adds∖removes through v, starting from the newest
  * checkpoint ≤ v, so resolution cost is O(commits since checkpoint),
  * not O(table age). Readers never list the data directory — the log IS
  * the listing, which at 100 TB (millions of files on object storage)
  * is the difference between a planning step and a coffee break.
  *
  * Commit protocol: write `.tmp-*` then hard-LINK it to the next
  * `%08d.json` (`Files.createLink` is atomic create-if-absent; a
  * rename would silently REPLACE a racing winner — see [[tryPublish]]).
  * Link creation fails if the version was taken — optimistic
  * concurrency. Appends retry (adds stay valid under any interleaving);
  * read-modify-write ops (merge/delete/compact) abort on conflict
  * because their read set may be stale. This is Delta-style SET
  * semantics built on nothing but a filesystem with an atomic
  * create-if-absent; on S3 it would go through a log-store /
  * conditional-put instead.
  *
  * Reads go through the NATIVE parquet scan: a `HadoopFsRelation` whose
  * file index is the manifest-backed [[GvtFileIndex]] and whose schema
  * is the commit log's pin ([[scanFiles]]), so building a DataFrame
  * lists no directory and reads no footer. Vectorized reader, predicate
  * pushdown, column pruning and whole-stage codegen all apply — a
  * custom DSv2 `PartitionReader` would forfeit vectorization for no
  * semantic gain. [[readPruned]] additionally prunes FILES from the
  * manifest stats before Spark ever sees them (zone-map skipping at
  * planning time).
  *
  * Scale design notes:
  *  - [[merge]] bounds rewrite I/O to files that actually contain a
  *    matched key: manifest-range prune, then an exact column-pruned
  *    probe (scan ONLY the key column of surviving files, semi-join
  *    against the source) — untouched files carry over by reference.
  *  - Per-file row counts and min/max stats come from the footers of
  *    the files just written, read on the driver, so a commit is one
  *    write job plus metadata; a stat the footers do not hold exactly
  *    sends the commit to ONE distributed aggregation over those files
  *    (group by filename).
  *  - [[compact]] bin-packs small files and removes them in one atomic
  *    commit — the small-file death spiral (100 TB ⇒ billions of 1 MB
  *    files without it) has a first-class answer, and readers never see
  *    a half-compacted state.
  */
object Gvt {

  /** One immutable data file. `min`/`max` are stringified per-column
    * stats (numerics parse back for pruning; strings compare as-is).
    * `dv` lists the DELETION-VECTOR sidecar dirs that apply to this file
    * (merge-on-read row-level deletes, [[deleteWhereDV]]); null on every
    * pre-DV log doc (Jackson leaves the missing field null — the same
    * contract as [[GvtCommit.txn]]). `dvRows` counts the rows those
    * vectors delete, so maintenance ([[absorbDeletes]]) can rewrite
    * exactly the files whose live fraction dropped, from the manifest
    * alone. `bytes` is the file's on-disk size, stamped at write time
    * so planners (the DSv2 connector's `sizeInBytes`, split planning)
    * never stat the filesystem per file — 0 on pre-r12 log docs
    * (Jackson's missing-primitive default), where readers fall back to
    * one local stat. `tz` is the r13-era write-session zone stamp for
    * TIMESTAMP stat strings — HISTORICAL ONLY since r14 (TIMESTAMP
    * stats are zone-free epoch micros now, so nothing new stamps it);
    * it remains so pre-r14 string-statted files keep their
    * zone-guarded chrono pruning. */
  final case class GvtFile(path: String, rows: Long,
      min: Map[String, String], max: Map[String, String],
      dv: Seq[String] = null, dvRows: Long = 0L, bytes: Long = 0L,
      tz: String = null)

  /** Normalized DV list (old log docs deserialize `dv` as null). */
  private def dvOf(f: GvtFile): Seq[String] = Option(f.dv).getOrElse(Nil)

  /** COLUMN-MAPPING state (rename/drop without rewriting history —
    * the Delta column-mapping shape): data files always store columns
    * under their PHYSICAL names (the name at first write), and this
    * state maps physical → current logical. `renames` is the full
    * cumulative map (each schema commit carries complete state, so
    * resolution is "newest state wins" — no fold, no partial replay);
    * `drops` lists dropped physical columns. Reads alias physical to
    * logical after the scan; time travel BEFORE a rename resolves that
    * version's own state and shows the old name — history is never
    * rewritten, which is the entire point. Null on every pre-mapping
    * doc (the [[GvtCommit.txn]] Jackson contract). */
  final case class GvtSchemaState(renames: Map[String, String],
      drops: Seq[String], checks: Map[String, String] = null,
      stats: Seq[String] = null) {
    // Jackson sees a no-arg def as a bean property; keep it out of the
    // serialized doc (fixed wire contract, like GvtFile/GvtCommit)
    /** FULLY empty — nothing worth persisting. Checkpoint writers key
      * on this: a checks-only state serialized as null would erase
      * every constraint at the next checkpoint (r11 review finding). */
    @com.fasterxml.jackson.annotation.JsonIgnore
    def isEmpty: Boolean =
      renames.isEmpty && drops.isEmpty && checkMap.isEmpty &&
        statsList.isEmpty
    /** Declared clustering/stats columns (LOGICAL names — the SQL
      * catalog's `stats` table property, [[create]]); null on every
      * pre-r12 doc. SQL INSERTs cluster and stat on these the way API
      * callers pass statsCols explicitly. */
    @com.fasterxml.jackson.annotation.JsonIgnore
    def statsList: Seq[String] = Option(stats).getOrElse(Nil)
    /** No RENAME/DROP state — constraints alone don't gate reads or
      * rewrite ops; only the mapping does. */
    @com.fasterxml.jackson.annotation.JsonIgnore
    def mappingEmpty: Boolean = renames.isEmpty && drops.isEmpty
    /** Normalized CHECK-constraint map (null on pre-constraint docs —
      * the [[GvtCommit.txn]] Jackson contract). name → SQL predicate
      * over LOGICAL column names; SQL-standard semantics (a NULL
      * predicate passes — declare NOT NULL explicitly). */
    @com.fasterxml.jackson.annotation.JsonIgnore
    def checkMap: Map[String, String] = Option(checks).getOrElse(Map.empty)
    /** Current logical name of a physical column. */
    def logicalOf(physical: String): Option[String] =
      if (drops.contains(physical)) None
      else Some(renames.getOrElse(physical, physical))
    /** Physical column behind a current logical name. */
    def physicalOf(logical: String): String =
      renames.find(_._2 == logical).map(_._1).getOrElse(logical)
  }

  private[sources] val EmptySchemaState = GvtSchemaState(Map.empty, Nil)

  /** COMMIT-TIME CHECK enforcement, fused into the write pass itself
    * (no second scan): every row written flows through a filter whose
    * predicate is `assert_true(check)` — a violating row FAILS THE JOB
    * before any commit doc exists (the half-written files are orphans,
    * vacuum reaps them), so a constrained table can never contain a
    * bad row at any readable version. The filter cannot be pruned away
    * (its condition is the assertion) and rides whole-stage codegen. */
  private def enforceChecks(df: DataFrame, state: GvtSchemaState): DataFrame =
    state.checkMap.foldLeft(df) { case (d, (name, pred)) =>
      d.filter(coalesce(assert_true(
        coalesce(expr(pred), lit(true)), // SQL CHECK: NULL passes
        concat(lit(s"GVT check '$name' violated ($pred) by row: "),
          to_json(struct(d.columns.map(col).toIndexedSeq: _*)))), lit(true)))
    }

  /** Declare a CHECK constraint (name → SQL predicate over logical
    * names). Validates EXISTING data first — a table is never left
    * claiming a constraint its rows violate (the Delta ADD CONSTRAINT
    * contract) — then lands a metadata-only schema commit. Every
    * subsequent append/merge enforces it in-write; [[publishBranch]]
    * re-validates a branch's net adds against the PARENT's current
    * checks, so a check added after a fork still gates the publish. */
  def addCheck(spark: SparkSession, dir: String, name: String,
      predicate: String): Int = {
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      require(!state.checkMap.contains(name),
        s"GVT at $dir already has a check named '$name'")
      // empty snapshot (fresh table, or fully-deleted) ⇒ vacuously
      // valid: the normal DDL order declares checks BEFORE the first
      // load, and read()'s nonEmpty require must not forbid it (r11
      // advisor finding) — the in-write gate enforces from load one
      val (live, _, pin) =
        if (v == 0) (Nil, state, None) else resolveManifest(dir, None)
      if (live.nonEmpty) {
        val bad = applyMapping(readFiles(spark, dir, live,
          schemaFor(spark, dir, live, pin)), state)
          .filter(!coalesce(expr(predicate), lit(true))).limit(1).count()
        require(bad == 0,
          s"GVT at $dir has existing rows violating '$predicate' — " +
            "clean the data before declaring the check")
      }
      val next = state.copy(checks = state.checkMap + (name -> predicate))
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil, schema = next),
        spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** NOT NULL sugar: the standard-semantics escape from CHECK's
    * NULL-passes rule. */
  def addNotNull(spark: SparkSession, dir: String, column: String): Int =
    addCheck(spark, dir, s"${column}_not_null", s"$column IS NOT NULL")

  /** Re-declare the clustering/stats columns (metadata-only — the SQL
    * `ALTER TABLE ... SET TBLPROPERTIES('stats'=...)` surface). Takes
    * effect from the next write; existing files keep whatever stats
    * they were born with (zone maps are per-file facts). */
  def setStats(spark: SparkSession, dir: String,
      statsCols: Seq[String]): Int = {
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      val logicals = logicalColumns(spark, dir, state)
      statsCols.foreach(c => require(logicals.contains(c),
        s"GVT at $dir has no column '$c' to cluster on " +
          s"(logical schema: ${logicals.mkString(", ")})"))
      val next = state.copy(
        stats = if (statsCols.isEmpty) null else statsCols)
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil, schema = next),
        spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** ADD COLUMN (metadata-only — the SQL `ALTER TABLE ... ADD COLUMN`
    * surface): extends the unified-schema PIN by one nullable field,
    * so pin-driven readers (the connector / SQL catalog — where ALTER
    * lives) serve the new column null-backfilled immediately, and
    * writers may populate it from the next commit — no file is
    * rewritten. [[read]]'s footer-merge path shows the column once the
    * first data carrying it lands (the same schema-evolution contract
    * organically-evolved tables get); in the declared-but-never-
    * written window the SQL surface is the authority. Requires the pin
    * to resolve (on a pre-pin table the declaration would be
    * invisible — fail loudly rather than no-op). */
  def addColumn(spark: SparkSession, dir: String, name: String,
      dataType: DataType): Int = {
    require(!name.startsWith("_gvt_"),
      s"GVT at $dir: '_gvt_' names are reserved for row identity")
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      val logicals = logicalColumns(spark, dir, state)
      require(!logicals.contains(name),
        s"GVT at $dir already has a column '$name'")
      require(!state.renames.contains(name),
        s"GVT at $dir: '$name' is the physical storage slot of " +
          s"logical '${state.renames.get(name).orNull}' — pick another")
      require(!state.drops.contains(name),
        s"GVT at $dir: '$name' is a retired physical slot — history " +
          "keeps it; pick another name")
      require(pinnedSchema(dir).isDefined,
        s"GVT at $dir predates the schema pin — ADD COLUMN would be " +
          "invisible; write data carrying the column instead")
      val add = StructType(Seq(
        org.apache.spark.sql.types.StructField(name, dataType,
          nullable = true)))
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil,
        dataSchema = add.json), spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** Drop a CHECK constraint by name (metadata-only). */
  def dropCheck(spark: SparkSession, dir: String, name: String): Int = {
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      require(state.checkMap.contains(name),
        s"GVT at $dir has no check named '$name'")
      val next = state.copy(checks = state.checkMap - name)
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil, schema = next),
        spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** `txn` is an optional idempotence token ([[appendTxn]]): null on
    * plain commits and on every pre-existing log doc (Jackson leaves
    * the missing field null on read). `ts` is the commit's publish
    * timestamp (epoch millis), stamped by [[tryPublish]] as
    * `max(clock, previous ts + 1)` so it is STRICTLY increasing even
    * when commits land inside one millisecond — [[versionAt]] needs the
    * strict order to resolve a timestamp to exactly one version. 0 on
    * pre-timestamp log docs (Jackson's missing-primitive default).
    *
    * `dataSchema` PINS the physical parquet schema of the files this
    * commit ADDED (`StructType.json`) — a per-commit immutable fact, so
    * it folds race-free: the table's unified schema at any version is
    * the MERGE of the checkpoint's pin plus the tail commits' pins,
    * and two concurrent appends evolving different columns cannot lose
    * each other's (each doc carries only its own adds' schema; the
    * merge happens at read time). Null on metadata-only commits, on
    * re-add commits (`dv_delete`/`restore` — their files' schemas are
    * already covered by older pins), and on every pre-r12 doc, where
    * resolution falls back to the footer merge. This is what kills the
    * connector's per-version cold footer merge (4.3 s at 2000 files,
    * DevDsv2Scale). */
  final case class GvtCommit(version: Int, op: String,
      adds: Seq[GvtFile], removes: Seq[String], txn: String = null,
      ts: Long = 0L, schema: GvtSchemaState = null,
      dataSchema: String = null)

  /** `dataSchema` = the UNIFIED physical schema at the checkpoint
    * version (merge over every pin ≤ it), so resolution never walks
    * pre-checkpoint docs for the schema either. Null on pre-r12
    * checkpoints (⇒ unified schema unresolvable from metadata alone;
    * readers fall back to the footer merge). */
  final case class GvtCheckpoint(version: Int, files: Seq[GvtFile],
      schema: GvtSchemaState = null, dataSchema: String = null)

  val LogDir = "_gvt_log"
  /** DEFAULT checkpoint cadence: snapshot resolution reads ≤ this many
    * commit docs plus one checkpoint, regardless of table age.
    * Tunable per session via `spark.graft.gvt.checkpointEvery` (r15 —
    * the poll knob got a dial in r14 while both cadences stayed
    * hard-coded; an object-store table wants all three tunable):
    * resolution anchors at the NEWEST checkpoint ≤ v, never assuming a
    * regular cadence, so changing the knob mid-table-life is safe. */
  val CheckpointEvery = 10

  /** Cadence knob, parsed at [[tryPublish]] entry — BEFORE the commit
    * link, so a malformed value fails the write upfront rather than
    * between the commit and its checkpoint (r14 lesson). Call sites
    * without a session (metadata-only publishes) fall back to the
    * thread's active/default session, then the default. */
  private def checkpointEvery(spark: SparkSession): Int = {
    val v = Option(spark).orElse(SparkSession.getActiveSession)
      .orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption("spark.graft.gvt.checkpointEvery"))
      .map(_.toInt).getOrElse(CheckpointEvery)
    require(v >= 1, s"spark.graft.gvt.checkpointEvery must be >= 1, got $v")
    v
  }

  private def sessionConf(spark: SparkSession, key: String): Option[String] =
    Option(spark).orElse(SparkSession.getActiveSession)
      .orElse(SparkSession.getDefaultSession)
      .flatMap(_.conf.getOption(key))

  /** TABLE-log AUTO-VACUUM policy knob (r15 — the coordinator log got
    * its policy this round; this is the same "no operator memory"
    * closure one rung down, where the reaped bytes are DATA files, so
    * the default is emphatically OFF): `spark.graft.gvt.tableRetain` =
    * R versions of time travel to retain behind the head. When set,
    * every ORGANIC commit probes the floor (one extra listing per
    * commit while the knob is set — the commit itself already paid
    * several; zero extra IO with the knob unset) and, once the
    * retained span reaches 2R, vacuums to head−R — the floor advances
    * in R-sized steps, retained span in [R, 2R]. The trigger is the
    * SPAN, not a version modulo (r16, unified with the txn log's
    * [[GvtTxn]] policy): a modulo gate never fires when the R-multiple
    * versions happen to be txn-carrying commits (which are excluded by
    * design), so under mixed organic/txn workloads the floor could lag
    * arbitrarily; the span form is workload-independent.
    * SIZE R ABOVE every consumer of history: in-flight readers,
    * CDC/diff windows, and the [[appendTxn]] idempotence horizon.
    * Coordinator pins are CLAMPED mechanically since r16: a table
    * whose commits a [[GvtTxn]] coordinator pins carries a marker, and
    * the policy never vacuums above the coordinator's oldest live pin
    * ([[GvtTxn.oldestLivePin]]) — an old pin blocks the reap until the
    * coordinator's own vacuum releases it. (A MANUAL [[vacuum]] below
    * the clamp stays allowed — explicit operator intent.)
    * Physical data deletes keep the vacuum grace
    * (`spark.graft.gvt.vacuumGraceMs`, default 600 s) so files a
    * racing reader's plan still references age out instead of
    * vanishing mid-query — the manual vacuum's exact discipline.
    * COST, honestly (ADVICE r15): when the trigger fires, the full
    * vacuum — O(tail²) resolveManifest replays, branch walks, and the
    * physical data-dir walk — runs SYNCHRONOUSLY on the committing
    * writer's path, a periodic latency spike once per R commits (the
    * spike is what keeps the log from ever reaching the regime where
    * every operation pays; production engines move it to a background
    * thread, which this single-process demo deliberately does not). */
  private def tableRetain(spark: SparkSession): Option[Int] =
    sessionConf(spark, "spark.graft.gvt.tableRetain").map { s =>
      val r = s.toInt
      require(r >= 1, s"spark.graft.gvt.tableRetain must be >= 1, got $r")
      r
    }

  private def vacuumGraceMs(spark: SparkSession): Long = {
    val v = sessionConf(spark, "spark.graft.gvt.vacuumGraceMs")
      .map(_.toLong).getOrElse(600000L)
    require(v >= 0, s"spark.graft.gvt.vacuumGraceMs must be >= 0, got $v")
    v
  }

  /** AUTO-COMPACT policy knob (r16 — the LAST manual maintenance op
    * gets its policy: checkpointing auto since r14, DV absorb auto
    * since r14, both log vacuums auto since r15; without this, a
    * micro-batch sink appending per batch grows file counts without
    * bound unless an operator remembers — the same "no operator
    * memory" argument every prior policy closed):
    * `spark.graft.gvt.compactAfterFiles` = F. Unset (the default) =
    * OFF, compaction stays manual. Set, every ORGANIC append probes
    * the head snapshot, and once ≥ F files are SMALL (rows <
    * `spark.graft.gvt.compactSmallRows`, default 2²² ≈ 4.2M — size it
    * to your target file row count) they are bin-packed into files
    * targeting ~2× the small threshold, so compacted output escapes
    * the small set instead of being rewritten at every crossing
    * (write amplification stays one rewrite per small byte per
    * crossing, Delta autoCompact's exact discipline). Steady state
    * under continuous appends: live file count bounded by F + the
    * compacted tail, never O(commits). F ≥ 2 (F = 1 would rewrite the
    * whole small set on every single append). Gated to organic
    * appends exactly like the vacuum policy: txn-carrying commits
    * (the serialized regime's contiguity proof owns the version
    * sequence — a surprise compact commit between a txn append and
    * its doc CAS would thrash it), restore, and branch dirs never
    * trigger; compact commits themselves don't re-trigger (op gate),
    * so there is no recursion. Synchronous on the committing writer
    * once per crossing, like the vacuum policies (see tableRetain's
    * cost note). */
  private def compactAfterFiles(spark: SparkSession): Option[Int] =
    sessionConf(spark, "spark.graft.gvt.compactAfterFiles").map { s =>
      val f = s.toInt
      require(f >= 2,
        s"spark.graft.gvt.compactAfterFiles must be >= 2, got $f")
      f
    }

  private def compactSmallRows(spark: SparkSession): Long = {
    val v = sessionConf(spark, "spark.graft.gvt.compactSmallRows")
      .map(_.toLong).getOrElse(1L << 22)
    require(v >= 1,
      s"spark.graft.gvt.compactSmallRows must be >= 1, got $v")
    v
  }

  /** The auto-compact trigger, run from [[tryPublish]] after a won
    * ORGANIC append (op gate: compact/restore/txn commits never fire —
    * see the knob's scaladoc). Best-effort after the commit, counted
    * and warned on swallow ([[GvtMaintenance.compactSwallowed]]) like
    * every maintenance path; a lost publish race inside [[compact]]
    * burns nothing but the attempt (the policy re-fires on the next
    * append). Needs a session to run the rewrite job — a metadata-only
    * publish with no active session skips (counted the same way a
    * failed one is not: silently, because there is nothing to warn
    * about — the next sessionful append fires). */
  private def maybeAutoCompact(dir: String, commit: GvtCommit,
      after: Option[Int], smallRows: Long, spark: SparkSession): Unit =
    after.foreach { f =>
      if (commit.txn == null && commit.op == "append" &&
          !Files.isSymbolicLink(Paths.get(dir, "data")))
        try {
          val sess = Option(spark).orElse(SparkSession.getActiveSession)
            .orElse(SparkSession.getDefaultSession).orNull
          if (sess != null) {
            val (files, state, _) = resolveManifest(dir, Some(commit.version))
            val small = files.filter(_.rows < smallRows)
            if (small.size >= f) {
              GvtMaintenance.compactFailpoint()
              // pack into ~2×-threshold outputs so they leave the
              // small set; a sub-2S total still lands in one file
              val target = math.max(1L,
                (small.map(_.rows).sum + 2 * smallRows - 1) / (2 * smallRows))
              compact(sess, dir, smallRows, target.toInt, state.statsList)
              ()
            }
          }
        } catch {
          case scala.util.control.NonFatal(e) => GvtMaintenance.swallow(
            GvtMaintenance.compactSwallowed,
            s"table auto-compact@${commit.version} ($dir)", e)
        }
    }

  /** The policy trigger, run from [[tryPublish]] after a won link.
    * Gated to ORGANIC data commits: transactional commits (txn != null
    * — the serialized regime's contiguity proof owns the version
    * sequence) and `restore` (an operator recovering history is the
    * worst moment to reap it) never trigger; branch dirs never trigger
    * (their data pool is the parent's — vacuum refuses symlinked
    * pools by contract). The SPAN trigger (v − floor ≥ 2R, r16) fires
    * regardless of which ops occupy which version numbers — txn
    * commits still never fire it themselves, but the next organic
    * commit sees the full span and catches the floor up.
    *
    * PIN CLAMP (r16): a coordinator-pinned table ([[GvtTxn]] marker)
    * never auto-vacuums above the oldest live pin — and if the clamp
    * cannot be computed (a racing coordinator vacuum mid-fold), the
    * policy SKIPS this crossing rather than reap unclamped (fail-safe;
    * counted+warned, re-fires on the next commit). Best-effort after
    * the commit, counted and warned on swallow like every maintenance
    * path. */
  private def maybeAutoVacuumTable(dir: String, commit: GvtCommit,
      retain: Option[Int], graceMs: Long): Unit =
    retain.foreach { r =>
      val v = commit.version
      if (commit.txn == null && commit.op != "restore" &&
          !Files.isSymbolicLink(Paths.get(dir, "data")))
        try {
          val floor = vacuumFloor(dir)
          if (v - floor >= 2 * r) {
            val target = GvtTxn.coordinatorOf(dir) match {
              case Some(coord) =>
                GvtTxn.oldestLivePin(coord, dir) match {
                  case Some(pin) => math.min(v - r, pin)
                  case None => v - r
                }
              case None => v - r
            }
            if (target > floor) { vacuum(dir, target, graceMs); () }
          }
        } catch {
          case scala.util.control.NonFatal(e) => GvtMaintenance.swallow(
            GvtMaintenance.tableVacuumSwallowed,
            s"table auto-vacuum@$v (target ≤ ${v - r}) ($dir)", e)
        }
    }

  private lazy val mapper: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  private def logDirOf(dir: String) = Paths.get(dir, LogDir)
  private def commitPath(dir: String, v: Int) =
    logDirOf(dir).resolve(f"$v%08d.json")
  private def ckptPath(dir: String, v: Int) =
    logDirOf(dir).resolve(f"$v%08d.ckpt.json")

  /** Lowest commit doc still in the log (a branch's oldest readable
    * version via its linked seed tail), or -1 for an empty table. */
  private def oldestVersion(dir: String): Int = {
    val ld = logDirOf(dir)
    if (!Files.isDirectory(ld)) return -1
    val it = Files.list(ld)
    try {
      val m = it.iterator().asScala()
        .map(_.getFileName.toString)
        .collect { case CommitName(v) => v }
        .foldLeft(Int.MaxValue)(math.min)
      if (m == Int.MaxValue) -1 else m
    } finally it.close()
  }

  /** Highest committed version, or -1 for an empty/absent table. */
  def latestVersion(dir: String): Int = {
    val ld = logDirOf(dir)
    if (!Files.isDirectory(ld)) return -1
    val it = Files.list(ld)
    try it.iterator().asScala()
      .map(_.getFileName.toString)
      .collect { case CommitName(v) => v }
      .foldLeft(-1)(math.max)
    finally it.close()
  }

  private object CommitName {
    private val Re = raw"(\d{8})\.json".r
    def unapply(name: String): Option[Int] =
      name match { case Re(d) => Some(d.toInt); case _ => None }
  }
  private object CkptName {
    private val Re = raw"(\d{8})\.ckpt\.json".r
    def unapply(name: String): Option[Int] =
      name match { case Re(d) => Some(d.toInt); case _ => None }
  }
  private object VacuumName {
    private val Re = raw"(\d{8})\.vacuum\.json".r
    def unapply(name: String): Option[Int] =
      name match { case Re(d) => Some(d.toInt); case _ => None }
  }

  /** Oldest version still readable (0 if never vacuumed): the max floor
    * recorded by [[vacuum]] markers. */
  def vacuumFloor(dir: String): Int = {
    val ld = logDirOf(dir)
    if (!Files.isDirectory(ld)) return 0
    val it = Files.list(ld)
    try it.iterator().asScala().map(_.getFileName.toString)
      .collect { case VacuumName(v) => v }
      .foldLeft(0)(math.max)
    finally it.close()
  }

  /** Newest checkpoint ≤ `upTo`, or -1. */
  private def newestCkpt(dir: String, upTo: Int): Int = {
    val it = Files.list(logDirOf(dir))
    try it.iterator().asScala().map(_.getFileName.toString)
      .collect { case CkptName(v) if v <= upTo => v }
      .foldLeft(-1)(math.max)
    finally it.close()
  }

  // tiny shim: Files.list gives a Java stream; keep usage in one place
  // (private[sources]: GvtCatalog imports it rather than owning a twin)
  implicit private[sources] class JIter[A](private val it: java.util.Iterator[A]) {
    def asScala(): Iterator[A] = new Iterator[A] {
      def hasNext = it.hasNext; def next() = it.next()
    }
  }

  /** ONE anchor-plus-tail walk producing the active file list, the
    * column-mapping/constraint state, AND the unified physical data
    * schema at `asOf` — [[snapshot]] / [[mappingAt]] / [[pinnedSchema]]
    * are views of this, and the combined read paths ([[read]],
    * [[readPrunedMulti]]) call it once: the checkpoint is parsed a
    * single time per resolution, not once per concern (r11 review
    * finding).
    *
    * The schema pin is `None` (unresolvable) whenever any adds-bearing
    * doc in the resolution path predates the pin, or two pins disagree
    * on a column's type — callers then fall back to the footer merge,
    * so the pin is an optimization that can never be wrong.
    *
    * The walk retries: a CONCURRENT VACUUM unlinking pre-floor docs
    * can make a racing reader's directory listing MISS unrelated
    * entries (POSIX readdir gives no snapshot guarantee while entries
    * are being removed), so the walk can anchor below the vacuum's
    * fresh floor checkpoint and then chase just-deleted commit docs
    * into NoSuchFileException. The
    * post-vacuum directory is complete and consistent — re-list and
    * re-resolve. Bounded: a miss that persists past the retries is a
    * real hole (a vacuumed version someone still references) and
    * surfaces loudly. Found by the cross-JVM smoke's rmw phase racing
    * vacuum against a concurrent writer's re-resolution (r14). */
  private def resolveManifest(dir: String, asOf: Option[Int])
      : (Seq[GvtFile], GvtSchemaState, Option[StructType]) = {
    var attempt = 0
    while (true) {
      try return resolveManifestOnce(dir, asOf)
      catch {
        case _: java.nio.file.NoSuchFileException if attempt < 5 =>
          attempt += 1; Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def resolveManifestOnce(dir: String, asOf: Option[Int])
      : (Seq[GvtFile], GvtSchemaState, Option[StructType]) = {
    // floor BEFORE latest: a floor is never above the latest version at
    // the time it is read, so a concurrent append + vacuum cannot leave
    // the latest snapshot below a floor read after it
    val floor = vacuumFloor(dir)
    val last = asOf.getOrElse(latestVersion(dir))
    require(last >= 0, s"GVT at $dir has no commits (asOf=$asOf)")
    require(last >= floor,
      s"GVT at $dir: version $last was vacuumed (floor $floor) — " +
        "time travel below the retention floor is gone by design")
    // a LATEST head that vanished was unlinked by a vacuum at a newer
    // head after the listing: retryable, like a readdir miss
    if (asOf.isEmpty && !Files.exists(commitPath(dir, last)))
      throw new java.nio.file.NoSuchFileException(commitPath(dir, last).toString)
    require(Files.exists(commitPath(dir, last)),
      s"GVT at $dir has no version $last")
    val ckptVersion = newestCkpt(dir, last)
    val active = mutable.LinkedHashMap.empty[String, GvtFile]
    var state: GvtSchemaState = EmptySchemaState
    var pin: Option[StructType] = Some(new StructType())
    if (ckptVersion >= 0) {
      val ck = mapper.readValue(
        Files.readAllBytes(ckptPath(dir, ckptVersion)), classOf[GvtCheckpoint])
      ck.files.foreach(f => active.put(f.path, f))
      if (ck.schema != null) state = ck.schema
      pin =
        if (ck.dataSchema != null)
          Some(DataType.fromJson(ck.dataSchema).asInstanceOf[StructType])
        else if (ck.files.isEmpty) pin // empty table: vacuously pinned
        else None // pre-r12 checkpoint: unified schema unknown
    }
    ((ckptVersion + 1) to last).foreach { v =>
      val c = mapper.readValue(
        Files.readAllBytes(commitPath(dir, v)), classOf[GvtCommit])
      c.removes.foreach(active.remove)
      c.adds.foreach(f => active.put(f.path, f))
      if (c.schema != null) state = c.schema
      if (c.dataSchema != null)
        pin =
          // ops that REPLACE the full file set RESET the pin (r12
          // review fixes, both passes: the merge fold is monotone, so
          // without the reset a restore below a schema evolution — or
          // an overwrite narrower than the history — left phantom
          // columns the live files don't have, and connector and
          // read() disagreed); every other op's pin merges in. A
          // DML delete that merely removes the last file carrying a
          // column intentionally keeps the union — schema never
          // shrinks through DML, the industry contract.
          if (PinResetOps.contains(c.op))
            Some(DataType.fromJson(c.dataSchema).asInstanceOf[StructType])
          else pin.flatMap(mergeStruct(_,
            DataType.fromJson(c.dataSchema).asInstanceOf[StructType]))
      else if (PinResetOps.contains(c.op))
        pin = None // a pre-r12 reset op: its reset target is unknown
      else if (c.adds.nonEmpty && !ReAddOps.contains(c.op))
        pin = None // a pre-r12 adds doc: schemas of its files unknown
    }
    (active.values.toSeq, state, pin)
  }

  /** Commits whose adds only RE-REFERENCE files older pins already
    * cover (a DV swap re-adds the entry; restore re-adds the target
    * snapshot) — a null dataSchema there does not break the pin. */
  private val ReAddOps = Set("dv_delete", "restore")

  /** Commits that REPLACE the whole file set: their dataSchema resets
    * the pin instead of merging (restore to a pre-evolution state,
    * truncate-and-load overwrite). */
  private val PinResetOps = Set("restore", "overwrite")

  /** Append-only field-union of two pinned schemas: `b`'s new fields
    * append after `a`'s; a same-name field with a DIFFERENT type makes
    * the union unresolvable (None — fall back to parquet's footer
    * merge, which knows the real widening rules). */
  private def mergeStruct(a: StructType, b: StructType)
      : Option[StructType] = {
    val byName = a.fields.map(f => f.name -> f).toMap
    val conflict = b.fields.exists(f =>
      byName.get(f.name).exists(_.dataType != f.dataType))
    if (conflict) None
    else Some(StructType(
      a.fields ++ b.fields.filterNot(f => byName.contains(f.name))))
  }

  /** The unified PHYSICAL schema at `asOf`, from manifest metadata
    * alone (no footer reads) — None when any doc in the resolution
    * predates the r12 pin. Every DataFrame this object builds over
    * table data, and the DSv2 connector's, takes its schema from this
    * pin through [[schemaFor]], so [[read]] and the connector serve the
    * same unified schema. */
  def pinnedSchema(dir: String,
      asOf: Option[Int] = None): Option[StructType] =
    resolveManifest(dir, asOf)._3

  /** The full (files, state, pin) resolution in ONE walk — the DSv2
    * connector's planning entry (r12 review fix: newScanBuilder used to
    * re-resolve the manifest once per concern, 4-5x the planning I/O of
    * the library read paths at checkpoint-sized manifests). */
  private[sources] def resolveAll(dir: String, asOf: Option[Int])
      : (Seq[GvtFile], GvtSchemaState, Option[StructType]) =
    resolveManifest(dir, asOf)

  /** Active files at `asOf` (default: latest). Replays from the newest
    * checkpoint ≤ asOf; preserves add order for stable file lists. */
  def snapshot(dir: String, asOf: Option[Int] = None): Seq[GvtFile] =
    resolveManifest(dir, asOf)._1

  /** Column-mapping/constraint state at `asOf` (newest complete state ≤
    * asOf — schema commits carry CUMULATIVE state). Empty state for
    * tables that never declared anything — every pre-mapping code path
    * is byte-identical in that case — and for empty/absent tables (the
    * lenient entry the strict [[snapshot]] preconditions would refuse). */
  def mappingAt(dir: String, asOf: Option[Int] = None): GvtSchemaState = {
    val last = asOf.getOrElse(latestVersion(dir))
    if (last < 0) return EmptySchemaState
    if (!Files.isDirectory(logDirOf(dir))) return EmptySchemaState
    resolveManifest(dir, asOf)._2
  }

  /** Alias a PHYSICAL-schema DataFrame to the state's logical names and
    * drop dropped columns (order matters: a dropped column's rename
    * entry is removed at drop time, so drop-then-rename cannot alias a
    * corpse). No-op on the empty state. */
  private def applyMapping(df: DataFrame, state: GvtSchemaState): DataFrame =
    if (state.mappingEmpty) df
    else {
      val dropped = state.drops.foldLeft(df)(_.drop(_))
      state.renames.foldLeft(dropped) { case (d, (p, l)) =>
        d.withColumnRenamed(p, l)
      }
    }

  /** [[applyMapping]] at the SCHEMA level (the DSv2 connector's form:
    * it aliases positionally-read rows by re-reporting the schema, so
    * the DataFrame-level alias never runs). Dropped physical slots
    * vanish; renamed ones surface under their logical names. */
  private[sources] def mapSchema(physical: StructType,
      state: GvtSchemaState): StructType =
    if (state.mappingEmpty) physical
    else StructType(physical.fields.flatMap(f =>
      state.logicalOf(f.name).map(l => f.copy(name = l))))

  /** Translate a LOGICAL-schema DataFrame (an append's input) back to
    * physical names for the write path, so data files stay physically
    * named forever. Refuses input that resurrects a dropped column or
    * collides with a renamed physical name (writing a column literally
    * named like someone else's physical storage is an aliasing bug, not
    * a write). */
  private def toPhysical(df: DataFrame, state: GvtSchemaState): DataFrame =
    if (state.mappingEmpty) df
    else {
      df.columns.foreach { c =>
        require(!state.drops.contains(state.physicalOf(c)),
          s"column '$c' was dropped from this table; re-add it with a " +
            "fresh name (the physical slot is retired, history keeps it)")
        require(!state.renames.contains(c) || state.renames(c) == c,
          s"column '$c' is the PHYSICAL slot of logical " +
            s"'${state.renames(c)}' — write the logical name")
      }
      state.renames.foldLeft(df) { case (d, (p, l)) =>
        if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d
      }
    }

  /** Schema commits: RENAME a column (metadata-only; history keeps the
    * old name at old versions). The new state is validated against the
    * CURRENT logical schema and republished in full. */
  def renameColumn(spark: SparkSession, dir: String, oldName: String,
      newName: String): Int = {
    require(oldName != newName, "rename to the same name")
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      val logicals = logicalColumns(spark, dir, state)
      require(logicals.contains(oldName),
        s"GVT at $dir has no column '$oldName' (logical schema: " +
          s"${logicals.mkString(", ")})")
      require(!logicals.contains(newName),
        s"GVT at $dir already has a column '$newName'")
      require(!newName.startsWith("_gvt_"),
        s"GVT at $dir: '_gvt_' names are reserved for row identity " +
          "(a rename onto them would collide with the metadata columns " +
          "every rewrite op injects)")
      requireUnreferenced(state, oldName, "rename")
      val p = state.physicalOf(oldName)
      // a logical name equal to ANOTHER column's PHYSICAL storage slot
      // would make writes of that name ambiguous (toPhysical refuses
      // them) and applyMapping's rename chain order-dependent — refuse
      // at declaration time (r11 review finding: rename a→c then b→a).
      // Renaming back to your OWN slot is the clear-the-entry case.
      require(!state.renames.contains(newName) || newName == p,
        s"GVT at $dir: '$newName' is the physical storage slot of " +
          s"logical '${state.renames(newName)}' — pick another name")
      val renames =
        if (newName == p) state.renames - p else state.renames + (p -> newName)
      // the stats/clustering declaration speaks LOGICAL names: it must
      // follow the rename or every subsequent SQL INSERT would cluster
      // on a name that no longer exists (r12 second-review finding)
      val next = state.copy(renames = renames,
        stats = Option(state.stats)
          .map(_.map(s => if (s == oldName) newName else s)).orNull)
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil, schema = next),
        spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** Schema commits: DROP a column (metadata-only — no file rewritten;
    * pre-drop versions still serve it, the physical slot is retired
    * forever). */
  def dropColumn(spark: SparkSession, dir: String, name: String): Int = {
    var v = latestVersion(dir) + 1
    while (true) {
      val state = mappingAt(dir)
      val logicals = logicalColumns(spark, dir, state)
      require(logicals.contains(name),
        s"GVT at $dir has no column '$name' to drop")
      requireUnreferenced(state, name, "drop")
      val p = state.physicalOf(name)
      // dropping a declared clustering column degrades the clustering
      // gracefully (SQL INSERTs keep working on the remaining columns)
      // rather than leaving a dangling reference that fails every
      // write forever (r12 second-review finding)
      val next = state.copy(renames = state.renames - p,
        drops = state.drops :+ p,
        stats = Option(state.stats).map(_.filterNot(_ == name)).orNull)
      if (tryPublish(dir, GvtCommit(v, "schema", Nil, Nil, schema = next),
        spark)) return v
      v = latestVersion(dir) + 1
    }
    -1 // unreachable
  }

  /** Current logical column set: the unified physical schema at the
    * head ([[schemaFor]]), mapped. */
  private def logicalColumns(spark: SparkSession, dir: String,
      state: GvtSchemaState): Seq[String] = {
    val (files, _, pin) = resolveManifest(dir, None)
    schemaFor(spark, dir, files, pin).fieldNames.toSeq.flatMap(state.logicalOf)
  }

  /** The physical schema a read of `files` gets: the manifest pin when
    * it resolves, so no footer is read. Only on a pre-pin log (`pin` is
    * None) does it merge the footers of `files` — the one footer-inference
    * read left, which launches Spark's schema-merge job. */
  private[sources] def schemaFor(spark: SparkSession, dir: String,
      files: Seq[GvtFile], pin: Option[StructType]): StructType =
    pin.filter(_.nonEmpty).getOrElse {
      require(files.nonEmpty, s"GVT at $dir is empty")
      spark.read.option("mergeSchema", "true")
        .parquet(files.map(f => s"$dir/${f.path}"): _*).schema
    }

  /** A schema change may not orphan a CHECK's column reference (the
    * Delta contract: drop the constraint first or restate it). Word
    * boundary match over the predicate text — coarse, errs loud. */
  private def requireUnreferenced(state: GvtSchemaState, column: String,
      op: String): Unit =
    state.checkMap.foreach { case (name, pred) =>
      require(!s"\\b${java.util.regex.Pattern.quote(column)}\\b".r
        .findFirstIn(pred).isDefined,
        s"cannot $op column '$column': referenced by check '$name' " +
          s"($pred) — drop the check first")
    }

  private[sources] def deleteRecursively(p: java.nio.file.Path): Unit = {
    // NOFOLLOW: a symlinked directory (a branch's shared `data` link)
    // must be unlinked as an entry, never descended into — following it
    // would delete the parent table's data pool
    if (Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) {
      val s = Files.list(p)
      try s.iterator().asScala().foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** TIMESTAMP time travel: the greatest version whose publish
    * timestamp is ≤ `tsMillis`, or -1 if no retained version existed
    * yet. Binary search over the retained tail (commit `ts` is strictly
    * increasing by [[tryPublish]]'s stamping; docs are random-access by
    * version), so resolution is O(log tail) doc reads — never a data
    * read. Pre-timestamp log docs carry ts=0 and sort below any real
    * clock, which resolves queries into an old table's un-stamped era
    * to its last un-stamped version — documented, deterministic.
    * A request below the vacuum floor's timestamp returns the floor
    * minus one; the subsequent [[read]] raises the retention error. */
  def versionAt(dir: String, tsMillis: Long): Int = {
    val head = latestVersion(dir)
    if (head < 0) return -1
    var lo = vacuumFloor(dir)
    if (commitAt(dir, lo).ts > tsMillis) return lo - 1
    var hi = head
    // invariant: ts(lo) <= tsMillis < ts(hi+1)
    while (lo < hi) {
      val mid = lo + (hi - lo + 1) / 2
      if (commitAt(dir, mid).ts <= tsMillis) lo = mid else hi = mid - 1
    }
    lo
  }

  /** Snapshot read at a TIMESTAMP (`TIMESTAMP AS OF`): resolve via
    * [[versionAt]], then the ordinary version read. */
  def readAsOfTimestamp(spark: SparkSession, dir: String,
      tsMillis: Long): DataFrame = {
    val v = versionAt(dir, tsMillis)
    require(v >= 0,
      s"GVT at $dir: no version existed at ts=$tsMillis (table created later)")
    read(spark, dir, Some(v))
  }

  /** Snapshot read — time travel via `asOf`. Native vectorized parquet
    * scan over the manifest's file list with the version's UNIFIED
    * schema from the commit log's pin ([[schemaFor]]): building the
    * DataFrame lists no directory and reads no footer. Schema evolution
    * is merge-on-read — a column added by a later commit back-fills
    * null in older files, no history is rewritten — and the result is
    * the schema the DSv2 connector serves for the same version. */
  def read(spark: SparkSession, dir: String,
      asOf: Option[Int] = None): DataFrame = {
    val (files, state, pin) = resolveManifest(dir, asOf)
    require(files.nonEmpty, s"GVT at $dir is empty at version $asOf")
    // physical scan, logical face: files store stable physical names;
    // the version's OWN mapping state aliases them (time travel below a
    // rename shows the old name — history unrewritten)
    applyMapping(
      readFiles(spark, dir, files, schemaFor(spark, dir, files, pin)), state)
  }

  /** `data/cN-uuid/part-x.parquet` from `_metadata.file_path`: the last
    * three URI components ARE the table-relative path (fixed layout
    * depth; the uuid dir makes the pair unique across commits). */
  private def relFileCol: Column =
    concat_ws("/", slice(split(col("_metadata.file_path"), "/"), -3, 3))

  /** Read `files` with their deletion vectors applied, keeping the row
    * identity columns (`_gvt_file`, `_gvt_pos`) for callers that need
    * them (probe/delete paths). Row identity is (relative file path,
    * parquet row index via `_metadata.row_index` — stable because data
    * files are immutable); deleted identities are anti-joined away. The
    * DV set is bounded by deletes since the last rewrite, so AQE
    * broadcasts it in the common case; either way the join is keyed and
    * distributed — no driver materialization. */
  private def readFilesWithId(spark: SparkSession, dir: String,
      files: Seq[GvtFile], schema: StructType): DataFrame = {
    val base = scanFiles(spark, dir, files, schema)
      .select(col("*"), relFileCol.as("_gvt_file"),
        col("_metadata.row_index").as("_gvt_pos"))
    val dvDirs = files.flatMap(dvOf).distinct
    if (dvDirs.isEmpty) base
    else base.join(readDv(spark, dir, dvDirs),
      Seq("_gvt_file", "_gvt_pos"), "left_anti")
  }

  /** DV-aware snapshot-subset read (every internal rewrite MUST come
    * through here — reading a file without its vectors would resurrect
    * deleted rows into the rewrite). `schema` is the physical schema of
    * the result, normally the version's pin ([[schemaFor]]): files
    * lacking one of its columns read it as null. */
  private def readFiles(spark: SparkSession, dir: String,
      files: Seq[GvtFile], schema: StructType): DataFrame =
    if (files.forall(f => dvOf(f).isEmpty))
      // fast path: no vectors anywhere — plain vectorized scan, no
      // metadata columns, no join in the plan
      scanFiles(spark, dir, files, schema)
    else readFilesWithId(spark, dir, files, schema)
      .drop("_gvt_file", "_gvt_pos")

  /** A parquet scan of `files` under `schema`: a `HadoopFsRelation`
    * over the manifest-backed [[GvtFileIndex]], so building it lists no
    * directory and infers no schema — no Spark job runs until an action.
    * Empty `files` give an empty DataFrame of that schema. */
  private def scanFiles(spark: SparkSession, dir: String,
      files: Seq[GvtFile], schema: StructType): DataFrame =
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new GvtFileIndex(spark, dir, files, schema), new StructType(), schema,
      None, new ParquetFileFormat, Map.empty)(spark))

  /** The parquet part files under the table-relative dir `sub`, as
    * stat-less manifest entries sized by one local listing — how a
    * commit's freshly written files and the DV sidecars are scanned
    * without Spark's listing. */
  private def partFiles(dir: String, sub: String): Seq[GvtFile] = {
    val it = Files.list(Paths.get(dir, sub))
    try it.iterator().asScala()
      .filter(_.getFileName.toString.matches("[^._].*\\.parquet"))
      .map(p => GvtFile(s"$sub/${p.getFileName}", 0L, Map.empty, Map.empty,
        bytes = Files.size(p)))
      .toSeq.sortBy(_.path)
    finally it.close()
  }

  /** Row identities of a deletion-vector sidecar. */
  private val DvSchema = new StructType()
    .add("_gvt_file", StringType).add("_gvt_pos", LongType)

  /** The (`_gvt_file`, `_gvt_pos`) rows of the sidecar dirs `dvDirs`. */
  private[sources] def readDv(spark: SparkSession, dir: String,
      dvDirs: Seq[String]): DataFrame =
    scanFiles(spark, dir, dvDirs.flatMap(partFiles(dir, _)), DvSchema)

  /** The footer of the parquet file at `path`, read on the driver. */
  private[graft] def readFooter(conf: Configuration,
      path: String): ParquetMetadata = {
    val reader = ParquetFileReader.open(conf, new Path(path))
    try reader.getFooter finally reader.close()
  }

  /** The schema a `spark.read.parquet` of the file at `path` infers from
    * its `footer`: Spark's own footer decoding, made nullable at every
    * level as a file read is. */
  private def footerSchema(spark: SparkSession, path: String,
      footer: ParquetMetadata): StructType =
    asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(new Path(path), footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))
      .asInstanceOf[StructType]

  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType), true)
    case other => other
  }

  // --------------------------------------------------------------------
  // ZONE-MAP STAT COMPARISON — one rule shared by every prune path (the
  // connector's Catalyst-driven GvtFileIndex AND the caller-driven
  // readPrunedMulti), so two paths can never disagree on a survivor.
  // The manifest stats are STRING-encoded (cast at write time); bounds
  // compare in one of three kinds, and any unparsable side keeps the
  // file — pruning is never load-bearing for correctness.
  // --------------------------------------------------------------------

  /** Bound-value kinds over the string-encoded stats. */
  private[sources] object ZKind {
    /** Parse both sides as Double (the pre-r12 numeric rule). */
    val Num = 0
    /** Fixed-format `yyyy-MM-dd[ HH:mm:ss[.f]]` date/timestamp strings:
      * zero-padded UTC-rendered text compares lexicographically ≡
      * chronologically (fractions trim trailing zeros on BOTH sides —
      * the Spark cast contract — so digit-wise comparison is numeric).
      * Guarded by [[ChronoRe]] on both sides; exotic encodings
      * (negative years) contribute no constraint. */
    val Chrono = 1
    /** Raw strings: UTF8 binary order — exactly the order Spark's
      * min/max used to produce the stat, so the comparison is the
      * stat's own. */
    val Str = 2
  }

  /** One pruning constraint: files whose [min,max] box on `column`
    * provably misses [lo,hi] (open side = unbounded) are skipped.
    * `zoned` marks bounds whose string rendering depends on the session
    * timezone (TIMESTAMP literals — the write-side `cast(string)` that
    * produced the stat rendered in the WRITER's zone): such a bound may
    * only constrain a file whose recorded write zone ([[GvtFile.tz]])
    * provably matches the scan's rendering zone; otherwise the file is
    * kept (pruning is never load-bearing). DATE / TIMESTAMP_NTZ render
    * zone-free on both sides and stay unguarded. */
  private[sources] final case class ZBound(column: String,
      lo: Option[String], hi: Option[String], kind: Int,
      zoned: Boolean = false)

  /** Two zone ids admit zone-sensitive pruning iff their rules agree
    * (catches aliases like UTC ≡ Etc/UTC) AND the shared zone is a
    * FIXED offset: in a DST zone the wall-clock rendering is
    * non-monotonic across a fall-back transition (01:30 EDT sorts
    * after 01:15 EST while the instants order the other way), so the
    * min/max stat strings do not bound the file's renderings even with
    * writer ≡ reader zone — only transition-free zones keep
    * lexicographic ≡ instant order (r13 review finding). null /
    * unparsable ⇒ not provably safe ⇒ the caller keeps the file. */
  private[sources] def zoneEquiv(a: String, b: String): Boolean =
    a != null && b != null &&
      (try {
        val (ra, rb) = (java.time.ZoneId.of(a).getRules,
          java.time.ZoneId.of(b).getRules)
        ra == rb && ra.isFixedOffset
      } catch { case _: Exception => false })

  private[sources] val ChronoRe =
    raw"\d{4}-\d{2}-\d{2}( \d{2}:\d{2}:\d{2}(\.\d+)?)?".r

  private def binCmp(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** Compare a stat string against a bound in the kind's order; None =
    * not comparable (the caller keeps the file). */
  private def zCompare(stat: String, bound: String, kind: Int): Option[Int] =
    kind match {
      case ZKind.Num =>
        try Some(java.lang.Double.compare(stat.toDouble, bound.toDouble))
        catch { case _: NumberFormatException => None }
      case ZKind.Chrono =>
        if (ChronoRe.matches(stat)) Some(binCmp(stat, bound)) else None
      case _ => Some(binCmp(stat, bound))
    }

  /** The survivor rule: a file lives unless a bound PROVABLY excludes
    * its [min,max] box (missing stat / unparsable side ⇒ keep). A
    * zone-sensitive bound (TIMESTAMP literal) additionally requires the
    * file's recorded write zone to provably match `scanZone` — a file
    * statted under a different (or unrecorded) zone is never pruned by
    * it (the r12 advisor's silent-wrong-results hole: literal rendered
    * in the READ zone vs stats cast in the WRITE zone). */
  private[sources] def zSurvives(f: GvtFile, bounds: Seq[ZBound],
      scanZone: String = null): Boolean =
    bounds.forall { b =>
      if (b.zoned && !zoneEquiv(f.tz, scanZone)) true
      else {
        val mnOk = b.hi.forall(h => f.min.get(b.column).forall(mn =>
          zCompare(mn, h, b.kind).forall(_ <= 0)))
        val mxOk = b.lo.forall(l => f.max.get(b.column).forall(mx =>
          zCompare(mx, l, b.kind).forall(_ >= 0)))
        mnOk && mxOk
      }
    }

  /** Manifest-stats file pruning for a numeric range predicate: a file
    * survives iff its [min,max] on `column` can intersect [lo,hi]
    * (missing stats ⇒ keep — pruning must never be load-bearing for
    * correctness). Returns (df, filesScanned, filesTotal); the df also
    * carries the row-level filter, so the answer is right even if the
    * stats were garbage. */
  def readPruned(spark: SparkSession, dir: String, column: String,
      lo: Double, hi: Double, asOf: Option[Int] = None)
      : (DataFrame, Int, Int) =
    readPrunedMulti(spark, dir, Seq((column, lo, hi)), asOf)

  /** Multi-dimensional manifest pruning: a file survives only if its
    * [min,max] box can intersect EVERY requested range — with a
    * z-order-clustered table (stats on both interleaved dimensions),
    * this is Delta/Iceberg-style 2-D data skipping from nothing but the
    * commit log. Missing stats ⇒ keep (pruning is never load-bearing);
    * the row-level conjunction is reapplied on the result. */
  def readPrunedMulti(spark: SparkSession, dir: String,
      ranges: Seq[(String, Double, Double)], asOf: Option[Int] = None)
      : (DataFrame, Int, Int) = {
    // one walk for files + state; range columns are LOGICAL, manifest
    // stats key PHYSICAL names; the survivor rule is the SHARED
    // [[zSurvives]] (Double round-trips through toString exactly, so
    // the numeric semantics are unchanged)
    val (files, state, pin) = resolveManifest(dir, asOf)
    val bounds = ranges.map { case (column, lo, hi) =>
      ZBound(state.physicalOf(column),
        Some(lo.toString), Some(hi.toString), ZKind.Num)
    }
    val kept = files.filter(f => zSurvives(f, bounds))
    // all files pruned: an empty scan of the same schema
    val schema = schemaFor(spark, dir,
      if (kept.isEmpty) files.take(1) else kept, pin)
    val df = applyMapping(readFiles(spark, dir, kept, schema), state)
    val filtered = ranges.foldLeft(df) { case (d, (column, lo, hi)) =>
      d.filter(col(column) >= lit(lo) && col(column) <= lit(hi))
    }
    (filtered, kept.size, files.size)
  }

  /** A staged commit directory: the manifest entries (bytes stamped
    * from one local listing — commit-churn-bounded, never table size)
    * plus the written files' physical parquet schema, which the commit
    * doc pins so readers resolve the unified schema from metadata
    * alone. */
  private final case class Written(adds: Seq[GvtFile], dataSchema: String)

  /** `df` coalesced to ONE partition when its Catalyst size estimate
    * (`optimizedPlan.stats.sizeInBytes`; over table files, the
    * manifest's own bytes through [[GvtFileIndex.sizeInBytes]]) is at
    * most `spark.sql.files.openCostInBytes`, else None. Every step
    * planned on top of one partition runs with no exchange: Spark's
    * `SinglePartition` satisfies the clustered, all-tuples and ordered
    * distributions that an aggregate, a `distinct` or a global sort
    * asks for, so each is one job, with no range-partition sample and
    * no AQE stage boundary. */
  private def onePartition(df: DataFrame): Option[DataFrame] =
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes <=
        df.sparkSession.sessionState.conf.filesOpenCostInBytes)
      Some(df.coalesce(1))
    else None

  /** `df` on one partition when [[onePartition]] takes it, else as is. */
  private def narrowed(df: DataFrame): DataFrame =
    onePartition(df).getOrElse(df)

  /** Write `df` as a new commit directory and return its [[GvtFile]]
    * entries: one write job, then metadata. The driver lists the
    * directory and reads each part's footer. The first footer gives the
    * schema the commit pins (every part of one write carries the same
    * one); all of them give each file's row count and `statsCols`
    * min/max ([[footerStats]]). Only a commit whose stats the footers do
    * not hold exactly takes [[aggregateStats]], one distributed
    * aggregate over the files just written. Zero-row parts never enter
    * the manifest, and a write whose every part is empty deletes its
    * commit directory and returns no adds; its schema is still pinned,
    * so an empty overwrite keeps its declared shape.
    *
    * Data files are CLUSTERED on `statsCols` by construction. A commit
    * that [[onePartition]] takes is one partition sorted on them: one
    * file and one job, no sample. A larger one is range-partitioned on
    * them and sorted within each partition (AQE-coalesced to size): a
    * sampling job, then the exchange and the write. Without clustering,
    * any copy-on-write rewrite hash-scatters the touched rows and every
    * new file spans the whole key range — measured at docs ×100
    * (DevGvtScale): after one uniformly-keyed merge, zone-map pruning
    * degraded from 2-of-N files kept to 25-of-35. Clustering on the
    * write path keeps the manifest's min/max tight through appends,
    * merges, and deletes alike; the extra exchange is bounded by the
    * commit's own data, never the table. */
  private def writeData(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], version: Int,
      cluster: Boolean = true): Written = {
    val sub = f"data/c$version%d-${UUID.randomUUID().toString.take(8)}"
    val cdir = s"$dir/$sub"
    val by = statsCols.map(col)
    val shaped =
      if (cluster && statsCols.nonEmpty)
        onePartition(df).getOrElse(df.repartitionByRange(by: _*))
          .sortWithinPartitions(by: _*)
      else df
    shaped.write.parquet(cdir)
    val conf = spark.sessionState.newHadoopConf()
    val parts = partFiles(dir, sub)
      .map(f => f -> readFooter(conf, s"$dir/${f.path}"))
    val schema = footerSchema(spark, s"$dir/${parts.head._1.path}",
      parts.head._2)
    val adds =
      if (parts.forall(p => rowsOf(p._2) == 0)) {
        deleteRecursively(Paths.get(cdir))
        Nil
      } else footerStats(spark, conf, parts, schema, statsCols).getOrElse(
        aggregateStats(spark, dir, parts.map(_._1), schema, statsCols))
    Written(adds, schema.json)
  }

  private def rowsOf(footer: ParquetMetadata): Long =
    footer.getBlocks.iterator().asScala().map(_.getRowCount).sum

  /** The footer entry Spark writes when it rebased dates into the legacy
    * hybrid calendar: that file's DATE stats are not the values a read
    * returns. */
  private val LegacyDateTimeKey = "org.apache.spark.legacyDateTime"

  /** Types whose parquet column-chunk stats, read back as Spark values,
    * order as Spark's `min`/`max` do: signed integers, dates (signed
    * days) and UTF8_BINARY strings (unsigned byte order). */
  private def footerStatType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** Per-file rows and `statsCols` min/max of freshly written `parts`
    * from their footers, rendered by Spark's own `cast(string)` so they
    * equal [[aggregateStats]]' byte for byte; zero-row parts are left
    * out, as the aggregate leaves them. None sends the whole commit to
    * the aggregate, by one rule: every stats column must name one field
    * of a [[footerStatType]], every column chunk holding a non-null
    * value must carry its min/max (parquet drops a stat over 4 KB, and a
    * writer may switch stats off), and parquet must not truncate stats
    * (`parquet.statistics.truncate.length` set). */
  private[graft] def footerStats(spark: SparkSession, conf: Configuration,
      parts: Seq[(GvtFile, ParquetMetadata)], schema: StructType,
      statsCols: Seq[String]): Option[Seq[GvtFile]] = {
    val types = statsCols.map(c => schema.fields.filter(_.name == c) match {
      case Array(f) if footerStatType(f.dataType) => Some(f.dataType)
      case _ => None
    })
    if (types.contains(None) ||
        conf.get("parquet.statistics.truncate.length") != null) return None
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def render(v: Any, dt: DataType): String =
      Cast(Literal(v, dt), StringType, tz).eval().toString
    val files = parts.filter(p => rowsOf(p._2) > 0).map { case (f, footer) =>
      val legacyDates = footer.getFileMetaData.getKeyValueMetaData
        .containsKey(LegacyDateTimeKey)
      val bounds = statsCols.zip(types.flatten).map { case (c, dt) =>
        if (dt == DateType && legacyDates) None
        else chunkBounds(footer, c, dt).map(_.map { case (lo, hi) =>
          (c, render(lo, dt), render(hi, dt)) })
      }
      if (bounds.contains(None)) None
      else {
        val known = bounds.flatten.flatten
        Some(f.copy(rows = rowsOf(footer),
          min = known.map(b => b._1 -> b._2).toMap,
          max = known.map(b => b._1 -> b._3).toMap))
      }
    }
    if (files.contains(None)) None else Some(files.flatten)
  }

  /** The [min, max] of top-level column `c` over the footer's row
    * groups, as Spark values of `dt`: Some(None) when every value is
    * null, None when a chunk holding a non-null value has no min/max. */
  private def chunkBounds(footer: ParquetMetadata, c: String,
      dt: DataType): Option[Option[(Any, Any)]] = {
    val path = ColumnPath.get(c)
    val ord = PhysicalDataType.ordering(dt)
    def value(v: Any): Any = (dt, v) match {
      case (ByteType, i: Integer) => i.toByte
      case (ShortType, i: Integer) => i.toShort
      case (_, b: Binary) => UTF8String.fromBytes(b.getBytes)
      case _ => v
    }
    footer.getBlocks.iterator().asScala()
      .foldLeft(Option(Option.empty[(Any, Any)])) { (acc, block) =>
        acc.flatMap { sofar =>
          val st = block.getColumns.iterator().asScala()
            .find(_.getPath == path).map(_.getStatistics).orNull
          if (block.getRowCount == 0) acc
          else if (st == null || st.isEmpty || !st.isNumNullsSet) None
          else if (!st.hasNonNullValue)
            if (st.getNumNulls == block.getRowCount) acc else None
          else {
            val (lo, hi) = (value(st.genericGetMin), value(st.genericGetMax))
            Some(Some(sofar.fold((lo, hi)) { case (a, b) =>
              (ord.min(a, lo), ord.max(b, hi)) }))
          }
        }
      }
  }

  /** Per-file rows and `statsCols` min/max of `files` by one distributed
    * aggregate grouped by file name (part names are unique across
    * writes): [[writeData]]'s fallback for stats its footers do not hold
    * exactly. Zero-row files form no group and are left out. */
  private[graft] def aggregateStats(spark: SparkSession, dir: String,
      files: Seq[GvtFile], schema: StructType,
      statsCols: Seq[String]): Seq[GvtFile] = {
    val byName = files.map(f => f.path.split('/').last -> f).toMap
    val fname = element_at(split(input_file_name(), "/"), -1).as("_gvt_fname")
    // TIMESTAMP stats are recorded as UTC EPOCH MICROS (r14): a
    // TimestampType value IS an instant, and `cast(string)` rendered
    // it in the session zone — a zone-DEPENDENT stat that could only
    // ever be compared under a provably-matching fixed-offset reader
    // zone (the r13 guard's narrowing; DST zones never pruned at all
    // because fall-back transitions make wall-clock renderings
    // non-monotonic). `unix_micros` is zone-free and totally ordered,
    // so these stats prune in EVERY session zone; the reader emits an
    // epoch-micros bound alongside the legacy chrono rendering
    // (GvtFileIndex.render) and pre-r14 string-statted files keep the
    // zone-guarded path. DATE / TIMESTAMP_NTZ text is zone-free
    // already and stays string-rendered; no zone stamp is needed for
    // anything written from here on ([[GvtFile.tz]] remains for old
    // manifests).
    def isTsType(c: String) =
      schema.fields.exists(f => f.name == c && f.dataType == TimestampType)
    val aggs = count(lit(1)).as("_gvt_rows") +:
      statsCols.flatMap { c =>
        if (isTsType(c)) Seq(
          unix_micros(min(col(c))).cast("string").as(s"_gvt_min_$c"),
          unix_micros(max(col(c))).cast("string").as(s"_gvt_max_$c"))
        else Seq(
          min(col(c)).cast("string").as(s"_gvt_min_$c"),
          max(col(c)).cast("string").as(s"_gvt_max_$c"))
      }
    scanFiles(spark, dir, files, schema).groupBy(fname)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .toSeq
      .map { r =>
        byName(r.getString(0)).copy(rows = r.getLong(1),
          min = statsCols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getString(2 + 2 * i)).map(c -> _) }.toMap,
          max = statsCols.zipWithIndex.flatMap { case (c, i) =>
            Option(r.getString(3 + 2 * i)).map(c -> _) }.toMap)
      }
      .sortBy(_.path)
  }

  /** Write the checkpoint of version `v` (idempotent: a racing writer's
    * link wins). It carries the column-mapping state AND the unified
    * data-schema pin: vacuum deletes pre-floor schema and data commits,
    * so the anchor must serve both on its own (null when absent — old
    * readers see the pre-pin shape). */
  private def writeCheckpoint(dir: String, v: Int): Unit = {
    val (files, st, pin) = resolveManifest(dir, Some(v))
    val tmp = Files.createTempFile(logDirOf(dir), ".tmp-", ".ckpt")
    try {
      Files.write(tmp, mapper.writeValueAsBytes(GvtCheckpoint(v, files,
        if (st.isEmpty) null else st, pin.map(_.json).orNull)))
      try Files.createLink(ckptPath(dir, v), tmp)
      catch { case _: FileAlreadyExistsException => () }
    } finally Files.delete(tmp)
  }

  /** Atomically publish `commit` at its version; returns false if the
    * version was already taken (optimistic-concurrency loser).
    *
    * The create-if-absent primitive is `Files.createLink`, NOT a rename:
    * POSIX `rename(2)` silently REPLACES an existing target (and
    * `Files.move(ATOMIC_MOVE)` inherits that), so a rename-based publish
    * would let the loser of a race overwrite the winner. Hard-link
    * creation is atomic and fails with [[FileAlreadyExistsException]]
    * when the target exists; readers see either no file or the complete
    * doc, never a partial write (GvtSpec proves the abort fires with a
    * commit injected mid-operation). */
  private[graft] def tryPublish(dir: String, commit: GvtCommit,
      spark: SparkSession = null): Boolean = {
    // every maintenance knob parses BEFORE the commit link (r14
    // lesson): a malformed value fails the write upfront
    val ckptEvery = checkpointEvery(spark)
    val retain = tableRetain(spark)
    val graceMs = vacuumGraceMs(spark)
    val compactAfter = compactAfterFiles(spark)
    val smallRows = compactSmallRows(spark)
    val ld = logDirOf(dir)
    Files.createDirectories(ld)
    // stamp the publish timestamp, strictly above the predecessor's (the
    // predecessor doc exists by construction — versions are sequential
    // and we are about to contend for version N, so N-1 is published).
    // EXCEPT under a concurrent vacuum: the predecessor doc can be
    // unlinked between this writer's base read and the stamp (the
    // cross-JVM smoke's rmw phase hit exactly this at r14 close). A
    // vacuumed predecessor's ts is below the wall clock on this box by
    // construction (it was stamped from the same clock in the past),
    // so the fallback preserves strict monotonicity.
    val stamped = commit.copy(ts = {
      val prev =
        if (commit.version > 0)
          try commitAt(dir, commit.version - 1).ts
          catch { case _: java.nio.file.NoSuchFileException => 0L }
        else 0L
      math.max(System.currentTimeMillis(), prev + 1)
    })
    val tmp = Files.createTempFile(ld, ".tmp-", ".json")
    Files.write(tmp, mapper.writeValueAsBytes(stamped))
    val won =
      try { Files.createLink(commitPath(dir, commit.version), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    Files.delete(tmp)
    if (won && commit.version > 0 && commit.version % ckptEvery == 0) try {
      GvtMaintenance.tableCkptFailpoint()
      // checkpoints AFTER the commit is visible; a lost race or failure
      // here only costs replay length, never correctness — so the block
      // is best-effort: a checkpoint IO failure must not make an
      // already-committed write look failed to its caller. A swallow is
      // counted and warned ([[GvtMaintenance.tableCkptSwallowed]]): a
      // persistently failing writer degrades resolution to O(log) and
      // must be visible.
      writeCheckpoint(dir, commit.version)
    } catch {
      case scala.util.control.NonFatal(e) => GvtMaintenance.swallow(
        GvtMaintenance.tableCkptSwallowed,
        s"table checkpoint@${commit.version} ($dir)", e)
    }
    if (won) {
      maybeAutoVacuumTable(dir, commit, retain, graceMs)
      maybeAutoCompact(dir, commit, compactAfter, smallRows, spark)
    }
    won
  }

  /** CREATE an empty table: version 0 is a metadata commit pinning the
    * declared schema (connector/catalog reads serve it with zero data
    * files) and the clustering/stats columns every subsequent SQL
    * INSERT uses. The createLink publish makes creation atomic — a
    * concurrent creator of the same dir loses loudly. */
  def create(spark: SparkSession, dir: String, schema: StructType,
      statsCols: Seq[String] = Nil): Int = {
    require(latestVersion(dir) < 0, s"GVT at $dir already exists")
    schema.fieldNames.foreach(n => require(!n.startsWith("_gvt_"),
      s"GVT at $dir: '_gvt_' names are reserved for row identity"))
    statsCols.foreach(c => require(schema.fieldNames.contains(c),
      s"GVT at $dir: stats column '$c' is not in the declared schema"))
    // NOT NULL is enforced, not just recorded: a non-nullable field in
    // the PIN with no write-side gate would let the API append nulls
    // that Catalyst then optimizes against (IsNull folded to false —
    // silently wrong results; r12 second-review finding). The pin
    // stores the all-nullable shape (what parquet reads produce) and
    // each declared NOT NULL becomes a CHECK constraint riding the
    // existing in-write assert_true gate — SQL and API writes alike.
    val notNull = schema.fields.filterNot(_.nullable)
      .map(f => s"${f.name}_not_null" -> s"${f.name} IS NOT NULL").toMap
    val state =
      if (statsCols.isEmpty && notNull.isEmpty) null
      else EmptySchemaState.copy(
        checks = if (notNull.isEmpty) null else notNull,
        stats = if (statsCols.isEmpty) null else statsCols)
    if (!tryPublish(dir, GvtCommit(0, "create", Nil, Nil, schema = state,
        dataSchema = asNullable(schema).json), spark))
      throw new IllegalStateException(s"GVT at $dir already exists")
    0
  }

  /** OVERWRITE the table's full contents in one atomic commit (the SQL
    * `INSERT OVERWRITE` / truncate-and-load shape): removes = every
    * current file, adds = the new data. Readers see the old state or
    * the new, never empty-in-between. */
  def overwrite(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], txn: String = null): Int = rmwRetry(spark) {
    val base = latestVersion(dir)
    require(base >= 0, s"GVT at $dir does not exist (create it first)")
    val (files, state, _) = resolveManifest(dir, Some(base))
    val v = base + 1
    val w = writeData(spark, dir,
      toPhysical(enforceChecks(df, state), state),
      statsCols.map(state.physicalOf), v)
    if (!tryPublish(dir, GvtCommit(v, "overwrite", w.adds,
        files.map(_.path), txn = txn, dataSchema = w.dataSchema), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; overwrite stale")
    v
  }

  /** Append `df` as a new version. Safe to retry on conflict: an
    * append's adds are valid under any interleaving. Returns the
    * committed version. */
  def append(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String]): Int = {
    var v = latestVersion(dir) + 1
    // logical in, checks enforced in-write, physical on disk (all
    // no-ops without active mapping/constraints)
    val state = mappingAt(dir)
    val w = writeData(spark, dir,
      toPhysical(enforceChecks(df, state), state),
      statsCols.map(state.physicalOf), v)
    while (!tryPublish(dir, GvtCommit(v, "append", w.adds, Nil,
        dataSchema = w.dataSchema), spark)) {
      v = latestVersion(dir) + 1
      // losing the publish race means SOMETHING committed since our
      // state snapshot — if it declared a check our in-write gate never
      // saw, the staged files must pass it before we may land (r11
      // review finding: the addCheck/append TOCTOU)
      validateLateChecks(spark, dir, w, state)
    }
    v
  }

  /** Probe staged (uncommitted) files against checks declared AFTER the
    * writer's state snapshot — the publish-retry gate of [[append]] /
    * [[appendTxn]]. Throws instead of committing bad rows; the staged
    * files become orphans (vacuum reaps them). */
  private def validateLateChecks(spark: SparkSession, dir: String,
      staged: Written, snapshotState: GvtSchemaState): Unit = {
    val now = mappingAt(dir)
    val late = now.checkMap.toSet -- snapshotState.checkMap.toSet
    if (late.nonEmpty) {
      val rows = applyMapping(readFiles(spark, dir, staged.adds,
        DataType.fromJson(staged.dataSchema).asInstanceOf[StructType]), now)
      late.foreach { case (name, pred) =>
        require(rows.filter(!coalesce(expr(pred), lit(true)))
          .limit(1).count() == 0,
          s"GVT at $dir: check '$name' ($pred) was declared while this " +
            "append was in flight and its rows violate it — nothing " +
            "was committed")
      }
    }
  }

  /** The commit doc at `v` — the streaming source's per-version feed
    * ([[GvtStreamSource]] reads one doc per micro-batch; a listing walk
    * per batch would be O(log length) each trigger). */
  private[graft] def commitAt(dir: String, v: Int): GvtCommit =
    mapper.readValue(Files.readAllBytes(commitPath(dir, v)), classOf[GvtCommit])

  /** All commit docs currently in the log (post-vacuum tail), ascending. */
  private def listCommits(dir: String): Seq[GvtCommit] = {
    val ld = logDirOf(dir)
    if (!Files.isDirectory(ld)) return Nil
    val it = Files.list(ld)
    val versions =
      try it.iterator().asScala().map(_.getFileName.toString)
        .collect { case CommitName(v) => v }.toSeq.sorted
      finally it.close()
    versions.map(v => mapper.readValue(
      Files.readAllBytes(commitPath(dir, v)), classOf[GvtCommit]))
  }

  /** The committed version carrying `txnId`, if any — the lookup a
    * RETRIED multi-table transaction needs to re-pin a table whose
    * append already landed before the crash ([[GvtTxn.commitIdempotent]]:
    * appendTxn returns None on the dup, this recovers the version to
    * pin). Same forgetting horizon as [[appendTxn]]. */
  private[sources] def versionOfTxn(dir: String, txnId: String): Option[Int] =
    listCommits(dir).find(_.txn == txnId).map(_.version)

  /** IDEMPOTENT append — the exactly-once streaming-sink primitive: the
    * commit doc carries `txnId`, and a batch whose txnId already appears
    * in the log is skipped (returns None). A foreachBatch sink writing
    * `appendTxn(..., s"$queryName-$batchId")` therefore lands each
    * micro-batch EXACTLY ONCE no matter how many times the engine
    * re-delivers it after a failure — the checkpoint replays the batch,
    * the log proves it already committed, nothing duplicates. The race
    * window (two attempts of the SAME txn) is closed by re-checking the
    * log after EVERY `latestVersion` read, immediately before each
    * publish attempt: a twin that committed before our version read is
    * visible at the recheck, and one that commits after it takes the
    * same slot we computed (versions are allocated as latest+1), so our
    * publish loses and we loop back into the recheck. Either way this
    * attempt abandons its files (orphans; [[vacuum]] reaps them).
    * Forgetting horizon: vacuum drops pre-floor docs, so txn ids older
    * than the retention floor are forgotten with their data — retention
    * must exceed the source's redelivery horizon, same contract as any
    * log-truncating transactional sink. */
  def appendTxn(spark: SparkSession, dir: String, df: DataFrame,
      statsCols: Seq[String], txnId: String): Option[Int] = {
    require(txnId != null && txnId.nonEmpty, "appendTxn needs a txn id")
    def alreadyCommitted: Boolean = listCommits(dir).exists(_.txn == txnId)
    if (alreadyCommitted) return None
    var v = latestVersion(dir) + 1
    val txnState = mappingAt(dir)
    val w = writeData(spark, dir,
      toPhysical(enforceChecks(df, txnState), txnState),
      statsCols.map(txnState.physicalOf), v)
    while (true) {
      // the recheck must follow the version read that produced `v`: a
      // twin committing between a pre-read check and our publish would
      // hand us a fresh slot ABOVE its commit and we'd land twice
      if (alreadyCommitted) return None // our twin won; files are orphans
      if (tryPublish(dir, GvtCommit(v, "append", w.adds, Nil, txnId,
          dataSchema = w.dataSchema), spark))
        return Some(v)
      v = latestVersion(dir) + 1
      // same TOCTOU gate as append: a check declared since our state
      // snapshot must pass against the staged files before we land
      validateLateChecks(spark, dir, w, txnState)
    }
    None // unreachable
  }

  /** A merge's or key delete's source keys: their [[KeySummary]], one
    * duplicated key with its count (looked up on demand), how a plan
    * matches them, and what to release once the call is done. */
  private final case class SourceKeys(dataType: DataType, summary: KeySummary,
      dup: () => Option[Row], matcher: KeyMatch, release: () => Unit)

  /** The distinct keys (a null key counts as one), the largest key
    * multiplicity, and the non-null keys' `min`/`max` cast to string
    * (null when there is none). */
  private[graft] final case class KeySummary(keys: Long, maxN: Long,
      lo: String, hi: String)

  /** How a plan matches rows against a source's keys. */
  private sealed trait KeyMatch {
    /** The rows of `df` whose `key` is a source key. */
    def semi(df: DataFrame, key: String): DataFrame
    /** The rows of `df` whose `key` is no source key, null keys kept
      * (`left_anti`), in `df`'s column order. */
    def anti(df: DataFrame, key: String): DataFrame
  }

  /** Join against `keys`, a one-column DataFrame. */
  private final case class JoinKeys(keys: DataFrame) extends KeyMatch {
    private def on(key: String) = keys.toDF(key)
    def semi(df: DataFrame, key: String): DataFrame =
      df.join(on(key), Seq(key), "left_semi")
    // the using-join puts the key first; restore df's order
    def anti(df: DataFrame, key: String): DataFrame =
      df.join(on(key), Seq(key), "left_anti").select(df.columns.map(col): _*)
  }

  /** An `InSet` filter over `set`, non-null keys in Catalyst's internal
    * form of the key type: no join side, so no broadcast job. */
  private final case class SetKeys(set: Set[Any]) extends KeyMatch {
    private def in(key: String) = Bridge.column(InSet(Bridge.expression(col(key)), set))
    def semi(df: DataFrame, key: String): DataFrame = df.filter(in(key))
    def anti(df: DataFrame, key: String): DataFrame =
      df.filter(col(key).isNull || !in(key))
  }

  /** Key types an `InSet` matches exactly as an equi-join does. Floating
    * point keys stay on the join, which normalizes -0.0 and NaN; so do
    * collated strings and nested types. */
  private def setKeyType(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType |
        DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case s: StringType => s.collationId == StringType.collationId
    case _ => false
  }

  /** [[KeySummary]] of per-key counts `(key, n)` collected as rows, with
    * key type `dt`: the strings the aggregate `min(key).cast("string")`
    * gives, from `PhysicalDataType.ordering` and Spark's own cast, as
    * [[footerStats]] renders them. */
  private[graft] def keySummary(spark: SparkSession, counts: Seq[Row],
      dt: DataType): KeySummary = {
    val keys = internalKeys(counts, dt)
    val ord = PhysicalDataType.ordering(dt)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    def render(v: Any): String = Cast(Literal(v, dt), StringType, tz).eval().toString
    KeySummary(counts.size, counts.map(_.getLong(1)).maxOption.getOrElse(0L),
      if (keys.isEmpty) null else render(keys.min(ord)),
      if (keys.isEmpty) null else render(keys.max(ord)))
  }

  /** The non-null keys of per-key counts `(key, n)`, in Catalyst's
    * internal form of key type `dt`. */
  private def internalKeys(counts: Seq[Row], dt: DataType): Seq[Any] = {
    val toInternal = CatalystTypeConverters.createToCatalystConverter(dt)
    counts.flatMap(r => Option(r.get(0))).map(toInternal)
  }

  /** The keys of `source` (logical `key`, physical `keyP` in the table).
    * A source that [[onePartition]] takes, whose key has a
    * [[setKeyType]] equal to the table's pinned key type, has its
    * per-key counts collected in that one job: the driver derives the
    * summary and matches by `InSet`. Any other source keeps its per-key
    * counts persisted for the summary aggregate and the joins. */
  private def sourceKeys(spark: SparkSession, source: DataFrame, key: String,
      keyP: String, pin: Option[StructType]): SourceKeys = {
    val dt = source.select(col(key)).schema.head.dataType
    val small =
      if (setKeyType(dt) && pin.exists(_.find(_.name == keyP).exists(_.dataType == dt)))
        onePartition(source)
      else None
    small match {
      case Some(one) =>
        val counts = one.groupBy(col(key)).agg(count(lit(1))).collect().toSeq
        SourceKeys(dt, keySummary(spark, counts, dt),
          () => counts.find(_.getLong(1) > 1),
          SetKeys(internalKeys(counts, dt).toSet), () => ())
      case None =>
        // the counts column is in the reserved _gvt_ namespace, so a key
        // literally named "n" cannot collide. PERSISTED: the counts feed
        // the summary aggregate, the probe's semi-join and the rewrite's
        // anti-join; without it the source lineage runs once per action.
        val keyCounts = narrowed(source).groupBy(col(key))
          .agg(count(lit(1)).as("_gvt_n"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val release: () => Unit = () => keyCounts.unpersist(blocking = false)
        try {
          val r = keyCounts.agg(count(lit(1)), max(col("_gvt_n")),
            min(col(key)).cast("string"), max(col(key)).cast("string")).head
          SourceKeys(dt, KeySummary(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)),
            () => keyCounts.filter(col("_gvt_n") > 1).limit(1).collect().headOption,
            JoinKeys(keyCounts.select(col(key))), release)
        } catch { case e: Throwable => release(); throw e }
    }
  }

  /** Files of `files` that contain at least one of `keys` under the
    * physical key `key`: manifest-range prune against the keys' summary
    * bounds, then one action: an exact column-pruned probe that scans
    * ONLY the key column of surviving candidates, matches it against the
    * keys and collects the distinct FILE NAMES that hit (a
    * file-count-bounded metadata collect, never data). Candidates whose
    * manifest bytes [[onePartition]] takes are probed in one partition,
    * so the `distinct` needs no exchange: the probe is one job, plus the
    * broadcast of the keys when they match by join and the planner
    * broadcasts them. No candidate or no non-null key, no action. */
  private def filesContaining(spark: SparkSession, dir: String,
      files: Seq[GvtFile], pin: Option[StructType], keys: SourceKeys,
      key: String): Seq[GvtFile] = {
    val KeySummary(_, _, srcLo, srcHi) = keys.summary
    // the comparison kind follows the KEY'S DATA TYPE (r13 ADVICE):
    // ZKind.Num against a STRING key whose values parse as numbers
    // compares the lexicographic stat strings numerically — a file box
    // ["10","9"] read as [10.0, 9.0] falsely excludes source key "5"
    // and the merge silently duplicates instead of replacing. Strings
    // compare in UTF8 binary order (the very order that produced the
    // stat), numerics as Double; temporal/other keys skip the manifest
    // prune entirely (the exact probe below is the correctness path —
    // this prune is only ever an optimization).
    val kind: Option[Int] = keys.dataType match {
      case _: org.apache.spark.sql.types.NumericType => Some(ZKind.Num)
      case StringType => Some(ZKind.Str)
      case _ => None
    }
    // a null key matches no row, so keys that are all null touch nothing
    val candidates =
      if (srcLo == null) Nil
      else if (kind.isEmpty) files
      else files.filter(f => zSurvives(f,
        Seq(ZBound(key, Some(srcLo), Some(srcHi), kind.get))))
    val touched: Set[String] =
      if (candidates.isEmpty) Set.empty
      else {
        // DV-aware probe: a key whose only occurrences are DV-deleted
        // must not drag its file into the rewrite. Still column-pruned —
        // the scan reads the key column plus constant-cost metadata.
        val probe = narrowed(readFilesWithId(spark, dir, candidates,
          schemaFor(spark, dir, candidates, pin)))
          .select(col(key), col("_gvt_file"))
        keys.matcher.semi(probe, key)
          .select("_gvt_file").distinct().collect()
          .map(r => r.getString(0)).toSet
      }
    files.filter(f => touched.contains(f.path))
  }

  /** Bounded optimistic retry for read-modify-write commits. Each
    * attempt is a FULL re-execution — re-read the (new) head snapshot,
    * recompute the touched set and rewrite, publish at head+1 — so a
    * retried operation is exactly the operation started later:
    * serializable without Delta-style logical conflict detection,
    * because nothing from the stale attempt survives (its data files
    * are orphans; [[vacuum]] reaps them). Default 3 retries
    * (`spark.graft.gvt.rmwRetries`); exhaustion rethrows the abort —
    * sustained write-write contention on one table should surface, not
    * spin. Set 0 to restore fail-fast semantics. */
  private def rmwRetry(spark: SparkSession)(body: => Int): Int = {
    val retries = spark.conf.getOption("spark.graft.gvt.rmwRetries")
      .map(_.toInt).getOrElse(3)
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: java.util.ConcurrentModificationException =>
          attempt += 1
          if (attempt > retries) throw e
      }
    }
    -1 // unreachable
  }

  /** MERGE (upsert): rows of `source` whose `key` matches an existing
    * row REPLACE it; the rest are inserts. Copy-on-write at file
    * granularity — only files that actually contain a matched key are
    * rewritten:
    *   1. manifest prune: drop files whose [min,max] on `key` misses
    *      the source's key range entirely (metadata-only);
    *   2. exact probe: scan ONLY the key column of surviving files,
    *      semi-join with source keys, collect the distinct file names
    *      that hit (column-pruned — at 100 TB this reads one column of
    *      a pruned subset, not the table);
    *   3. rewrite: touched rows anti-joined on key (drop the matched
    *      old versions) unioned with ALL source rows, written as new
    *      files; untouched files carry over by reference.
    * Before the probe, ONE aggregate over the persisted per-key counts
    * gives the source's emptiness (`count(*)`), its largest key
    * multiplicity and its key bounds for step 1 ([[sourceKeys]]); an
    * empty source lands no version, and the lookup that names a
    * duplicate key runs only when there is one. So a merge is that
    * aggregate, the probe and one [[writeData]]. A source that
    * [[onePartition]] takes is counted in one partition and its counts
    * collected in that job: the driver derives the summary, and the
    * probe and the rewrite match the keys by `InSet` with no join side
    * to broadcast, so the merge is three jobs. Aborts (throws) on
    * concurrent commit — the read set is stale. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
      key: String, statsCols: Seq[String],
      txn: String = null): Int = rmwRetry(spark) {
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    // MAPPING-AWARE (logical in, logical ops, physical out): the source
    // and the key speak logical names; new rows must pass the table's
    // checks (survivor rows were validated by the commit that wrote
    // them); the stats probe and the write run on physical names
    val source1 = enforceChecks(source, state)
    val keyP = state.physicalOf(key)
    val keys = sourceKeys(spark, source1, key, keyP, pin)
    try {
      if (keys.summary.keys == 0) return base // no-op: nothing to upsert
      // UNIQUE-SOURCE-KEY contract: merge's rewrite (anti-join survivors
      // ∪ ALL source rows) would INSERT duplicate-keyed source rows
      // silently, so they refuse loudly. Deliberately STRICTER than SQL
      // MERGE cardinality (which rejects only multiply-MATCHED target
      // rows and allows duplicate unmatched keys): this op's contract is
      // replace-matched-with-THE-source-row, which has no meaning for a
      // duplicated key anywhere in the source.
      val dup = if (keys.summary.maxN <= 1) None else keys.dup()
      require(dup.isEmpty, s"GVT $dir: merge source has duplicate values " +
        s"of key '$key' (e.g. ${dup.map(_.get(0)).orNull}, " +
        s"×${dup.map(_.get(1)).orNull}) — the upsert key must " +
        "be unique in the source (stricter than SQL MERGE cardinality); " +
        "deduplicate the source first")
      val touchedFiles = filesContaining(spark, dir, files, pin, keys, keyP)
      val rewritten =
        if (touchedFiles.isEmpty) source1
        else {
          // REWRITE reads take the table's unified schema (the pin;
          // the touched files' merged footers on a pre-pin log): a
          // schema-evolved file read under one file's schema would
          // silently drop an evolved column from the survivors (r11
          // second-review finding)
          val touchedDf = applyMapping(readFiles(spark, dir, touchedFiles,
            schemaFor(spark, dir, touchedFiles, pin)), state)
          keys.matcher.anti(touchedDf, key).unionByName(source1)
        }
      val v = base + 1
      val w = writeData(spark, dir, toPhysical(rewritten, state),
        statsCols.map(state.physicalOf), v)
      if (!tryPublish(dir,
          GvtCommit(v, "merge", w.adds, touchedFiles.map(_.path),
            txn = txn, dataSchema = w.dataSchema), spark))
        throw new java.util.ConcurrentModificationException(
          s"GVT $dir: version $v committed concurrently; merge read set stale")
      v
    } finally keys.release()
  }

  /** DELETE BY JOIN: remove every row whose `key` appears in `keys`
    * (a DataFrame — no driver-side key materialization beyond a small
    * source's collected keys), rewriting only the files that actually
    * contain a matched key via the same keys, prune and probe as
    * [[merge]]. The delete-set can be computed by any Spark job (dedup
    * losers, policy violations, GDPR erasure lists). */
  def deleteKeys(spark: SparkSession, dir: String, keys: DataFrame,
      key: String, statsCols: Seq[String],
      txn: String = null): Int = rmwRetry(spark) {
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    val keyP = state.physicalOf(key)
    val src = sourceKeys(spark, keys, key, keyP, pin)
    try {
      if (src.summary.keys == 0) return base
      val touchedFiles = filesContaining(spark, dir, files, pin, src, keyP)
      if (touchedFiles.isEmpty) return base
      // rewrite read: the table's unified schema (see merge)
      val touchedDf = applyMapping(readFiles(spark, dir, touchedFiles,
        schemaFor(spark, dir, touchedFiles, pin)), state)
      val v = base + 1
      val w = writeData(spark, dir, toPhysical(src.matcher.anti(touchedDf, key), state),
        statsCols.map(state.physicalOf), v)
      if (!tryPublish(dir,
          GvtCommit(v, "delete", w.adds, touchedFiles.map(_.path),
            txn = txn, dataSchema = w.dataSchema), spark))
        throw new java.util.ConcurrentModificationException(
          s"GVT $dir: version $v committed concurrently; delete read set stale")
      v
    } finally src.release()
  }

  /** The paths of `files` holding a live row that matches `predicate`
    * (logical names): a column-pruned probe over the predicate's columns
    * that collects the distinct file names (a file-count-bounded
    * metadata collect). Files whose manifest bytes [[onePartition]]
    * takes are probed in one partition: one job, no exchange. */
  private def touchedPaths(spark: SparkSession, dir: String,
      files: Seq[GvtFile], state: GvtSchemaState, pin: Option[StructType],
      predicate: Column): Set[String] =
    applyMapping(narrowed(readFilesWithId(spark, dir, files,
      schemaFor(spark, dir, files, pin))), state)
      .filter(predicate)
      .select("_gvt_file").distinct()
      .collect().map(r => r.getString(0)).toSet

  /** DELETE rows matching `predicate`; rewrites only files that contain
    * at least one matching row (found by [[touchedPaths]]' probe).
    * Aborts on concurrent commit. */
  def delete(spark: SparkSession, dir: String, predicate: Column,
      statsCols: Seq[String], txn: String = null): Int = rmwRetry(spark) {
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    // the predicate speaks LOGICAL names; the row-identity metadata
    // columns pass through applyMapping untouched
    val touched = touchedPaths(spark, dir, files, state, pin, predicate)
    if (touched.isEmpty) return base // no-op: nothing matched
    val touchedFiles = files.filter(f => touched.contains(f.path))
    // SQL DELETE semantics: remove rows where the predicate is TRUE;
    // KEEP rows where it is false OR NULL. A bare !predicate would turn
    // null into null and silently drop non-matching rows of any
    // nullable column — coalesce to false before negating.
    // rewrite read: the table's unified schema (see merge)
    val kept = applyMapping(readFiles(spark, dir, touchedFiles,
      schemaFor(spark, dir, touchedFiles, pin)), state)
      .filter(!coalesce(predicate, lit(false)))
    val v = base + 1
    val w = writeData(spark, dir, toPhysical(kept, state),
      statsCols.map(state.physicalOf), v)
    if (!tryPublish(dir,
        GvtCommit(v, "delete", w.adds, touchedFiles.map(_.path),
          txn = txn, dataSchema = w.dataSchema), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; delete read set stale")
    v
  }

  /** UPDATE rows matching `predicate`: SET-style `assignments`
    * (logical column name → replacement expression over the OLD row —
    * all assignments evaluate against pre-update values, the SQL
    * UPDATE contract) applied in ONE atomic copy-on-write commit.
    * Same file-granular shape as [[delete]]: a column-pruned probe
    * finds the files containing matches, only those rewrite, and
    * non-matching rows in touched files carry over byte-equal (so the
    * change feed pairs exactly the updated keys). Updated rows re-run
    * the table's CHECK constraints in-write. Aborts on concurrent
    * commit. */
  def updateWhere(spark: SparkSession, dir: String, predicate: Column,
      assignments: Seq[(String, Column)], statsCols: Seq[String],
      txn: String = null): Int = rmwRetry(spark) {
    require(assignments.nonEmpty, "updateWhere needs at least one SET")
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    val touched = touchedPaths(spark, dir, files, state, pin, predicate)
    if (touched.isEmpty) return base // no-op: nothing matched
    val touchedFiles = files.filter(f => touched.contains(f.path))
    val touchedDf = applyMapping(readFiles(spark, dir, touchedFiles,
      schemaFor(spark, dir, touchedFiles, pin)), state)
    val byName = assignments.toMap
    byName.keys.foreach(c => require(touchedDf.columns.contains(c),
      s"GVT at $dir has no column '$c' to SET"))
    // SIMULTANEOUS assignment: every replacement reads the original
    // frame (a sequential withColumn chain would leak new values into
    // later assignments); rows where the predicate is false or NULL
    // keep their old values — SQL semantics exactly
    val updated = touchedDf.select(touchedDf.columns.map { c =>
      byName.get(c) match {
        case Some(value) =>
          when(coalesce(predicate, lit(false)), value)
            .otherwise(col(c)).as(c)
        case None => col(c)
      }
    }.toIndexedSeq: _*)
    val v = base + 1
    val w = writeData(spark, dir,
      toPhysical(enforceChecks(updated, state), state),
      statsCols.map(state.physicalOf), v)
    if (!tryPublish(dir,
        GvtCommit(v, "update", w.adds, touchedFiles.map(_.path),
          txn = txn, dataSchema = w.dataSchema), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; update read set stale")
    v
  }

  /** MERGE-ON-READ DELETE (deletion vectors): mark rows matching
    * `predicate` deleted WITHOUT rewriting any data file. The matched
    * row identities ((file, row_index) pairs) are written as a parquet
    * sidecar under `data/dv<version>-<uuid>/`; the commit re-adds each
    * touched file's manifest entry with the sidecar appended to its `dv`
    * list, and every read applies the vectors by anti-join.
    *
    * This is the other half of the CoW/MoR pair: [[delete]] rewrites
    * every touched file (cost ∝ rows LIVING in touched files), this
    * writes O(rows DELETED) bytes — at 100 TB, erasing 0.1% of rows
    * costs ~0.1% of the table in I/O instead of every touched file's
    * full width. The debt is a per-read anti-join, bounded because
    * every rewrite (merge / CoW delete / [[compact]] /
    * [[absorbDeletes]]) absorbs the vectors of the files it replaces.
    * Existing vectors are applied BEFORE matching, so a vector never
    * double-counts a row and `dvRows` stays exact.
    *
    * The match is evaluated ONCE, into a local checkpoint: each touched
    * file's `dvRows` increment is counted from that checkpoint and the
    * sidecar is written from it, so the counts are the rows the sidecar
    * holds even under a non-deterministic predicate (the checkpoint's
    * lineage is truncated: a lost block fails the call, it never
    * re-evaluates). A delete matching nothing writes no sidecar. Files
    * whose manifest bytes [[onePartition]] takes are matched in one
    * partition, so the count and the globally sorted write are one job
    * each, with no exchange and no range sample. Aborts on concurrent
    * commit (read-modify-write, same as merge/delete). */
  def deleteWhereDV(spark: SparkSession, dir: String, predicate: Column,
      txn: String = null): Int = rmwRetry(spark) {
    // parse the auto-absorb knob UPFRONT: a malformed value must fail
    // BEFORE the delete commits, not between the publish and the
    // maintenance trigger (r14 review)
    val absorbRatio = spark.conf
      .getOption("spark.graft.gvt.dvAbsorbRatio")
      .map(_.toDouble).getOrElse(0.5)
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    val v = base + 1
    // predicate on logical names; the sidecar stores (file, pos) only,
    // so the mapping never touches what gets written
    val matches = applyMapping(narrowed(readFilesWithId(spark, dir,
      files, schemaFor(spark, dir, files, pin))), state)
      .filter(predicate)
      .select(col("_gvt_file"), col("_gvt_pos"))
      .localCheckpoint(eager = false)
    val sub = f"data/dv$v%d-${UUID.randomUUID().toString.take(8)}"
    val perFile = try {
      val counts = matches.groupBy("_gvt_file")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // GLOBAL sort by (file, pos): each sidecar part gets a tight
      // contiguous _gvt_file span, so the connector's per-task DV fetch
      // ([[GvtDvFetch]]) skips row groups by min/max stats instead of
      // scanning the whole sidecar — the layout that makes file-sliced
      // access O(that file's positions) at any DV size
      if (counts.nonEmpty)
        matches.orderBy("_gvt_file", "_gvt_pos").write.parquet(s"$dir/$sub")
      counts
    } finally graft.Staging.freeCheckpoint(matches)
    if (perFile.isEmpty) return base // no-op: nothing matched, no sidecar
    val touched = files.filter(f => perFile.contains(f.path))
    val adds = touched.map(f =>
      f.copy(dv = dvOf(f) :+ sub, dvRows = f.dvRows + perFile(f.path)))
    if (!tryPublish(dir,
        GvtCommit(v, "dv_delete", adds, touched.map(_.path),
          txn = txn), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; DV read set stale")
    // AUTO-ABSORB policy (r14): a file whose deleted fraction REACHES
    // `spark.graft.gvt.dvAbsorbRatio` (default 0.5, same `>=` rule as
    // absorbDeletes' own selection; set above 1.0 to disable) is
    // rewritten right here by [[absorbDeletes]], so the
    // MoR read-time anti-join debt stays bounded WITHOUT an operator
    // remembering to schedule maintenance. The decision is the same
    // manifest-only dvRows/rows the manual op uses; rewritten files
    // keep their predecessors' stat columns (declared table stats
    // when present, else the touched files' own stat keys mapped back
    // to logical names) so the policy repairs clustering rather than
    // degrading it. Suppressed for transactional deletes (txn != null):
    // a serialized transaction's contiguity proof owns the version
    // sequence, so maintenance defers to the caller. A lost absorb
    // race is dropped — the delete itself is committed, and the policy
    // re-fires on the next crossing.
    if (txn == null &&
        adds.exists(f => f.dvRows >= f.rows * absorbRatio)) {
      val statsL =
        if (state.statsList.nonEmpty) state.statsList
        else adds.flatMap(f => f.min.keys ++ f.max.keys).distinct
          .flatMap(state.logicalOf)
      // NonFatal, not just CME (r14 ADVICE): the delete at `v` is
      // ALREADY committed — any maintenance failure past this point
      // (IO error, analysis error, lost race) must not make a
      // committed delete look like a failed one. Counted + warned
      // like every best-effort swallow; the policy re-fires on the
      // next threshold crossing.
      try { GvtMaintenance.absorbFailpoint()
            absorbDeletes(spark, dir, absorbRatio, statsL); () }
      catch {
        case scala.util.control.NonFatal(e) => GvtMaintenance.swallow(
          GvtMaintenance.absorbSwallowed, s"dv auto-absorb@$v ($dir)", e)
      }
    }
    v
  }

  /** MoR maintenance: rewrite every file whose deleted fraction is at
    * least `minDeletedFraction`, dropping its vectors (the rewrite reads
    * through [[readFiles]], so only live rows survive). Selection is
    * manifest-only (`dvRows / rows`) — no data read decides the plan.
    * Bounds the read-time anti-join debt the way compaction bounds the
    * small-file count. No-op (returns the current version) when nothing
    * qualifies. */
  def absorbDeletes(spark: SparkSession, dir: String,
      minDeletedFraction: Double, statsCols: Seq[String]): Int =
      rmwRetry(spark) {
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    val doomed = files.filter(f =>
      dvOf(f).nonEmpty && f.dvRows >= f.rows * minDeletedFraction)
    if (doomed.isEmpty) return base
    // physical rewrite (no alias round-trip; caller stat names
    // translate), with two invariants every rewrite op shares: reads
    // take the unified schema (see merge), and RETIRED physical slots
    // are purged — a dropped column must not ride a maintenance rewrite
    // past the vacuum horizon (the GDPR story; r11 second-review finding)
    val live = state.drops.foldLeft(readFiles(spark, dir, doomed,
      schemaFor(spark, dir, doomed, pin)))(_.drop(_))
    val v = base + 1
    val w = writeData(spark, dir, live, statsCols.map(state.physicalOf), v)
    if (!tryPublish(dir,
        GvtCommit(v, "absorb", w.adds, doomed.map(_.path),
          dataSchema = w.dataSchema), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; absorb read set stale")
    v
  }

  /** Bin-pack all files with < `smallRows` rows into `targetFiles`
    * output files, removed + added in one atomic commit. Readers never
    * observe a half-compacted state. */
  def compact(spark: SparkSession, dir: String, smallRows: Long,
      targetFiles: Int, statsCols: Seq[String]): Int = rmwRetry(spark) {
    val base = latestVersion(dir)
    val (files, state, pin) = resolveManifest(dir, Some(base))
    val small = files.filter(_.rows < smallRows)
    if (small.size <= targetFiles) return base // nothing to gain
    // DV-aware: compaction ABSORBS deletion vectors — the rewritten
    // files carry no dv entries, so the vectors die with the removes.
    // Physical end to end; caller stats names translate; the unified
    // schema reads and retired slots purge, like every rewrite (see
    // absorbDeletes).
    val statsP = statsCols.map(state.physicalOf)
    val smallDf = state.drops.foldLeft(readFiles(spark, dir, small,
      schemaFor(spark, dir, small, pin)))(_.drop(_))
    // explicit file-count control, range-clustered when stats exist so
    // compaction REPAIRS zone-map locality rather than destroying it;
    // one range partition is all rows sorted, so one target file is one
    // sorted partition with no exchange and no sample
    val by = statsP.map(col)
    val packed =
      if (targetFiles == 1) smallDf.coalesce(1).sortWithinPartitions(by: _*)
      else if (statsP.nonEmpty)
        smallDf.repartitionByRange(targetFiles, by: _*)
          .sortWithinPartitions(by: _*)
      else smallDf.repartition(targetFiles)
    val v = base + 1
    val w = writeData(spark, dir, packed, statsP, v, cluster = false)
    if (!tryPublish(dir, GvtCommit(v, "compact", w.adds, small.map(_.path),
        dataSchema = w.dataSchema), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; compact read set stale")
    v
  }

  /** RESTORE: roll the table back to the state of `toVersion` as a NEW
    * commit — pure metadata (one log doc re-adding the old snapshot's
    * file entries and removing the current ones), so rollback is O(file
    * count) and instant at any table size; no data file is read,
    * written, or deleted. History is preserved: the bad commits stay
    * time-travelable above the restore point (audit trail), and the
    * change feed across the restore shows exactly the rows it undid.
    * Requires `toVersion` at or above the vacuum floor — a vacuumed
    * state is gone by design and the snapshot resolution fails loudly.
    * Aborts on concurrent commit. Returns the restore commit's version
    * (current head if already at that state — no-op).
    *
    * TABLE METADATA RESTORES TOO: the restore commit republishes the
    * TARGET version's schema state (column mapping + CHECK constraints)
    * whenever it differs from the head's, so a rename/drop/constraint
    * declared after `toVersion` is rolled back with the data — without
    * this, restoring past an addCheck would resurrect rows the newer
    * check forbids while the table still CLAIMED the check (the r11
    * advisor finding), and a post-restore read would alias the old
    * files under the NEWER mapping. Both states empty keeps the commit
    * metadata-free (old wire shape). */
  def restore(spark: SparkSession, dir: String, toVersion: Int): Int =
      rmwRetry(spark) {
    val head = latestVersion(dir)
    require(toVersion <= head, s"restore target $toVersion beyond head $head")
    val (target, targetState, targetPin) =
      resolveManifest(dir, Some(toVersion))
    val (current, headState, _) = resolveManifest(dir, Some(head))
    // normalize before comparing: checks/stats null and empty are the
    // same declared state (the Jackson missing-field contract); the
    // stats clustering declaration restores WITH the rest of the
    // metadata — restoring past a setStats must not keep the head's
    // declaration while everything else rolls back (r12 advisor)
    def norm(s: GvtSchemaState) =
      (s.renames, s.drops, s.checkMap, s.statsList)
    val sameState = norm(targetState) == norm(headState)
    if (target == current && sameState) return head // already there
    // EmptyState republished explicitly (non-null) when the head had
    // declared state: the newest-wins fold needs a doc to override it
    val schemaOut = if (sameState) null else targetState
    val v = head + 1
    // the restore doc carries the TARGET's unified-schema pin so the
    // fold resets to it (null when the target's pin is unresolvable —
    // readers then fall back to footer merges, never to a stale union)
    if (!tryPublish(dir,
        GvtCommit(v, "restore", target, current.map(_.path),
          schema = schemaOut,
          dataSchema = targetPin.map(_.json).orNull), spark))
      throw new java.util.ConcurrentModificationException(
        s"GVT $dir: version $v committed concurrently; restore read set stale")
    v
  }

  /** One DESCRIBE-HISTORY row — the audit surface every comparable
    * table format exposes as a DataFrame (r15 verdict #3). */
  final case class GvtHistoryRow(version: Int, op: String,
      ts: java.sql.Timestamp, n_added: Int, n_removed: Int,
      rows_added: Long, txn: String)

  /** The COMMIT LOG as a DataFrame (DESCRIBE HISTORY): one row per
    * retained commit doc — version, op, publish timestamp, files
    * added/removed, rows added, and the idempotence/txn token. Until
    * now the audit trail was readable only from code; this makes it a
    * query surface (and an oracle-verifiable one — `scan_gvt_history`).
    * Driver-side doc reads, O(retained docs): the log is bounded by
    * the retention policy ([[vacuum]] / `tableRetain`), which is what
    * keeps this surface cheap on a long-lived table — the same reason
    * every listing on this log stays viable. Re-lists on a concurrent
    * vacuum's unlink (the readdir-miss discipline every resolution
    * walk here follows). */
  def history(spark: SparkSession, dir: String): DataFrame = {
    var attempt = 0
    while (true) {
      try {
        val head = latestVersion(dir)
        require(head >= 0, s"GVT at $dir has no commits")
        val oldest = math.max(oldestVersion(dir), 0)
        val rows = (oldest to head).map { v =>
          val c = commitAt(dir, v)
          GvtHistoryRow(c.version, c.op, new java.sql.Timestamp(c.ts),
            c.adds.size, c.removes.size, c.adds.map(_.rows).sum, c.txn)
        }
        return spark.createDataFrame(rows)
      } catch {
        case _: java.nio.file.NoSuchFileException if attempt < 5 =>
          attempt += 1; Thread.sleep(20L * attempt)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** VACUUM: physically delete data files referenced by NO snapshot at
    * or after `retainFrom`, drop the commit/checkpoint docs below it,
    * and record the new retention floor. Order is crash-safe: (1) a
    * checkpoint at `retainFrom` is ensured first so replay never needs
    * the doomed docs; (2) the floor marker lands (atomic create) BEFORE
    * any deletion, so a crash mid-vacuum leaves extra files but never a
    * readable-looking version with missing data — time travel below the
    * floor fails loudly at [[snapshot]] instead of at the parquet
    * reader. Returns (dataFilesDeleted, logDocsDeleted).
    *
    * Concurrency: an in-flight commit has written its data files but
    * not yet published its log doc, so those files look unreferenced to
    * the walk — `graceMs` protects them: files younger than the grace
    * window are never deleted (same contract as Delta's default
    * retention check). Pass 0 only when no writer can be active. The
    * floor marker / commit-doc race is benign either way: a commit that
    * publishes after the walk reads only retained snapshots.
    *
    * The referenced set here is computed by replaying each retained
    * version (O(tail²) doc reads — fine at demo scale); the production
    * form is one forward replay from the `retainFrom` checkpoint
    * collecting every add, which is O(tail). */
  def vacuum(dir: String, retainFrom: Int,
      graceMs: Long = 600000L): (Int, Int) = {
    // a BRANCH shares its parent's data pool through the `data`
    // symlink; walking it here would delete parent files the branch's
    // snapshots don't reference — vacuum the parent (which pins every
    // live branch), never the branch
    require(!Files.isSymbolicLink(Paths.get(dir, "data")),
      s"GVT $dir is a branch (shared data pool) — vacuum its parent table")
    val head = latestVersion(dir)
    require(retainFrom >= 0 && retainFrom <= head,
      s"vacuum retainFrom $retainFrom outside [0, $head]")
    // strictly below the floor is a no-op; AT the floor the walk
    // re-runs (idempotent) so files a graced vacuum skipped are
    // reaped once they age out
    if (retainFrom < vacuumFloor(dir)) return (0, 0)
    val ld = logDirOf(dir)
    // (1) anchor: a checkpoint AT retainFrom (idempotent; carries the
    // mapping state and the data-schema pin — the pre-floor schema and
    // data commits are about to go)
    if (!Files.exists(ckptPath(dir, retainFrom))) writeCheckpoint(dir, retainFrom)
    // live branches share this table's data pool: every version a branch
    // can still read (its fork version through its head) pins its files,
    // even below the parent's retention floor — a published-or-dropped
    // branch stops pinning and its unique files age out normally
    // a branch reads below its fork too — down to its oldest linked
    // commit doc (the seed links [parent ckpt, fork]) — so the pin
    // range is the branch's FULL readable range, not just fork..head
    val branchSnapshots = listBranches(dir).flatMap { name =>
      val bd = branchDir(dir, name)
      try {
        val oldest = oldestVersion(bd)
        // a listed branch with no linked commit doc is either residue
        // (a crash between the branch.json claim and the log seed) or a
        // LIVE createBranch caught in its claim-to-seed window — the
        // latter is about to link parent anchors possibly below this
        // vacuum's floor. Pin the parent's FULL still-resolvable range:
        // covers any seed outcome (loss-proof), costs at worst a mostly
        // no-op vacuum until the residue is dropped or the seed lands.
        // Before r11 this path THREW (require(last >= 0) inside
        // snapshot) and every subsequent parent vacuum failed.
        if (oldest < 0)
          (math.max(oldestVersion(dir), 0) to latestVersion(dir))
            .map(v => snapshot(dir, Some(v)))
        else (oldest to latestVersion(bd)).map(v => snapshot(bd, Some(v)))
      } catch {
        // the branch dir vanished mid-walk (concurrent dropBranch): a
        // dropped branch stops pinning by contract — its published
        // files are covered by the parent-head re-read below
        case _: java.nio.file.NoSuchFileException => Seq.empty
        case _: java.io.FileNotFoundException => Seq.empty
        case e: java.io.UncheckedIOException
          if e.getCause.isInstanceOf[java.nio.file.NoSuchFileException] =>
          Seq.empty
      }
    }
    // the parent head is re-read AFTER the branch listing: a
    // publishBranch that lands (and its branch drops) in the window
    // between the first head read and the listing would otherwise be
    // pinned by NEITHER set — its hours-old staged files past graceMs
    // would be deleted out from under the new head. Reading the head
    // last closes the window: either the branch was still listed (its
    // walk pins the staged files) or the publish commit is <= headNow
    // (the retained range pins them).
    val headNow = math.max(head, latestVersion(dir))
    val retainedSnapshots =
      (retainFrom to headNow).map(v => snapshot(dir, Some(v)))
    val liveSnapshots = retainedSnapshots ++ branchSnapshots
    val referenced = liveSnapshots.flatten.map(_.path).toSet
    // DV sidecar dirs referenced by any retained snapshot: their parquet
    // files must survive the walk below (deleting a live vector would
    // RESURRECT rows — worse than leaking bytes)
    val referencedDvDirs = liveSnapshots.flatten.flatMap(dvOf).toSet
    // (2) floor marker BEFORE deleting anything
    val mtmp = Files.createTempFile(ld, ".tmp-", ".vac")
    Files.write(mtmp, s"""{"floor":$retainFrom}""".getBytes("UTF-8"))
    try Files.createLink(ld.resolve(f"$retainFrom%08d.vacuum.json"), mtmp)
    catch { case _: FileAlreadyExistsException => () }
    Files.delete(mtmp)
    // (3) physical deletes: unreferenced data files, then empty commit
    // dirs, then pre-floor log docs (keep the retainFrom checkpoint)
    // the physical walk tolerates a CONCURRENT vacuum reaping the same
    // entries (r15, the txn-log deleteIfExists fix applied symmetrically
    // — two operators' maintenance crons racing the same table must
    // both complete, not abort half-done on a spurious NSFE): age
    // checks treat a vanished file as not-ours-to-reap, every unlink is
    // deleteIfExists, and an empty-subdir sweep losing its race just
    // leaves the dir for the peer (or the next run)
    var dataDeleted = 0
    val dataDir = Paths.get(dir, "data")
    val graceFloor = System.currentTimeMillis() - graceMs
    def aged(p: java.nio.file.Path): Boolean =
      try Files.getLastModifiedTime(p).toMillis < graceFloor
      catch { case _: java.nio.file.NoSuchFileException => false }
    if (Files.isDirectory(dataDir)) {
      val subs = Files.list(dataDir)
      try subs.iterator().asScala().filter(Files.isDirectory(_)).foreach { sub =>
        val subRel = s"data/${sub.getFileName}"
        val liveDvDir = referencedDvDirs.contains(subRel)
        try {
          val fs = Files.list(sub)
          try fs.iterator().asScala().foreach { f =>
            val rel = s"$subRel/${f.getFileName}"
            val isData = f.getFileName.toString.endsWith(".parquet")
            if (isData && !liveDvDir && !referenced.contains(rel) && aged(f)) {
              if (Files.deleteIfExists(f)) dataDeleted += 1
            } else if (!isData && aged(f)) Files.deleteIfExists(f) // _SUCCESS etc.
          } finally fs.close()
          val left = Files.list(sub)
          val empty = try !left.iterator().hasNext finally left.close()
          if (empty) Files.deleteIfExists(sub)
        } catch {
          case _: java.nio.file.NoSuchFileException => () // peer reaped sub
          case _: java.nio.file.DirectoryNotEmptyException => () // lost sweep race
        }
      } finally subs.close()
    }
    var docsDeleted = 0
    val docs = Files.list(ld)
    try docs.iterator().asScala().foreach { p =>
      p.getFileName.toString match {
        case CommitName(v) if v < retainFrom =>
          if (Files.deleteIfExists(p)) docsDeleted += 1
        case CkptName(v) if v < retainFrom =>
          if (Files.deleteIfExists(p)) docsDeleted += 1
        case _ => ()
      }
    } finally docs.close()
    (dataDeleted, docsDeleted)
  }

  /** Row-level change feed between two versions (CDC), computed from
    * CHURNED FILES ONLY: the file-set diff of the two snapshots gives
    * the files removed and added in (fromV, toV]; net inserts are
    * addedRows ∖ removedRows (bag semantics) and net deletes the
    * reverse. Rows that merely MOVED files unchanged — compaction,
    * clustering repair — cancel in the bag difference, so layout
    * maintenance produces an EMPTY feed, updates surface as a
    * delete+insert pair, and cost is proportional to churn, never table
    * size (an append-only day on a 100 TB table diffs one day's files).
    * Output carries a `change_type` column ('insert' | 'delete').
    *
    * MAPPING-AWARE: the feed speaks the `toV` snapshot's LOGICAL schema
    * (the Delta CDF contract — consumers track the table's current
    * names, so even pre-rename rows surface under the new name).
    * Without the alias the feed served PHYSICAL column names on a
    * renamed/dropped table, silently diverging from read()'s schema
    * (r11 advisor finding); [[GvtStreamSource]]'s cdc mode inherits the
    * fix. */
  def diff(spark: SparkSession, dir: String, fromV: Int, toV: Int)
      : DataFrame = {
    require(fromV <= toV, s"diff range reversed: $fromV > $toV")
    val (b, state, pin) = resolveManifest(dir, Some(toV))
    val a = snapshot(dir, Some(fromV))
    // file identity includes its deletion vectors: a DV delete leaves
    // the data file path unchanged but shrinks its LIVE rows, so the
    // entry must count as churned (old-DV read minus new-DV read = the
    // newly deleted rows — merge-on-read deletes flow through CDC)
    def ident(f: GvtFile) = (f.path, dvOf(f))
    val aIds = a.map(ident).toSet
    val bIds = b.map(ident).toSet
    val removed = a.filterNot(f => bIds.contains(ident(f)))
    val added = b.filterNot(f => aIds.contains(ident(f)))
    // both sides read under `toV`'s unified schema (one empty side is
    // an empty scan of it), so exceptAll lines the columns up
    val schemaDonor = (b ++ a).take(1)
    def readOrEmpty(files: Seq[GvtFile]): DataFrame = applyMapping(
      readFiles(spark, dir, files, schemaFor(spark, dir,
        if (files.isEmpty) schemaDonor else files, pin)), state)
    val oldRows = readOrEmpty(removed)
    // align column order by name: on a pre-pin log each side carries
    // its own files' merged footer schema, and exceptAll is positional
    val newRows = readOrEmpty(added).select(oldRows.columns.map(col): _*)
    // exceptAll against an empty side is the identity, but Spark still
    // plans (and shuffles) the set op — skip it when a side churned no
    // files. Append commits hit the first arm, so an append-only CDC
    // backlog drains with ZERO set-op exchanges; file-granular deletes
    // hit the second. Semantics are unchanged by construction.
    if (removed.isEmpty) newRows.withColumn("change_type", lit("insert"))
    else if (added.isEmpty) oldRows.withColumn("change_type", lit("delete"))
    else newRows.exceptAll(oldRows).withColumn("change_type", lit("insert"))
      .unionByName(
        oldRows.exceptAll(newRows).withColumn("change_type", lit("delete")))
  }

  /** `processAllAvailable` with a hard upper bound: the deterministic
    * drain (returns once every available offset is committed, rethrows
    * stream failure) that CANNOT wedge a gate — a regression leaving
    * the query alive but stuck fails loudly at `timeoutMs` instead of
    * blocking forever. */
  def drainBounded(q: org.apache.spark.sql.streaming.StreamingQuery,
      timeoutMs: Long = 600000L): Unit = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() =>
      try q.processAllAvailable()
      catch { case e: Throwable => err.set(e) })
    t.setDaemon(true)
    t.start()
    t.join(timeoutMs)
    if (t.isAlive) {
      q.stop()
      throw new IllegalStateException(
        s"gvt stream drain exceeded $timeoutMs ms — stalled")
    }
    if (err.get != null) throw err.get
    q.exception.foreach(throw _)
  }

  /** [[diff]] with UPDATE images (the Delta CDF contract): a key that
    * appears on BOTH sides of the churn is an update — its old row
    * becomes `update_preimage`, its new row `update_postimage`; keys on
    * one side only stay `insert`/`delete`. The pairing shuffles the
    * CHURN once (diff's output, bounded by the range's rewrites),
    * never the table, and a no-op rewrite (a file rewritten with a row
    * byte-identical) never reaches the pairing at all — [[diff]]'s
    * exceptAll cancels it first. `keyCols` should identify a row
    * (duplicate keys pair ambiguously, same as Delta's CDF). */
  def diffWithUpdates(spark: SparkSession, dir: String, fromV: Int,
      toV: Int, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diffWithUpdates needs at least one key column")
    import org.apache.spark.sql.expressions.Window
    // ONE window pass over the churn, keyed on keyCols: a key whose
    // partition holds both sides is an update; its rows relabel in
    // place. One shuffle, no self-joins, nothing persisted (the
    // intersect+semi/anti formulation needed the churn cached across
    // four subplans and leaked the cache for the session lifetime).
    val w = Window.partitionBy(keyCols.map(col): _*)
    val hasSide = (side: String) =>
      max(when(col("change_type") === side, 1).otherwise(0)).over(w)
    diff(spark, dir, fromV, toV)
      .withColumn("is_upd", hasSide("delete") + hasSide("insert") === 2)
      .withColumn("change_type",
        when(!col("is_upd"), col("change_type"))
          .when(col("change_type") === "delete", lit("update_preimage"))
          .otherwise(lit("update_postimage")))
      .drop("is_upd")
  }

  // --------------------------------------------------------------------
  // BRANCHES — write-audit-publish. A branch is a REAL table directory
  // under `_gvt_log/branch-<name>/`: its own commit log seeded by
  // hard-linking the parent's resolution anchors at the fork (O(tail)
  // driver work, no manifest materialization at any table size), and a
  // `data` symlink back into the parent's pool so manifest paths are
  // identical on both sides. The
  // payoff of that representation: EVERY existing operation — append,
  // merge, CoW/MoR delete, compact, read, time travel, diff, even the
  // streaming source — works on a branch unchanged (pass the branch dir
  // where a table dir goes), and publishing is pure metadata: ONE
  // squash commit on the parent whose adds/removes are the branch's net
  // file delta, through the same atomic createLink + rmwRetry path as
  // any other commit. Writers stage and audit a data drop in isolation;
  // the parent's readers see either none of it or all of it.
  // --------------------------------------------------------------------

  private final case class GvtBranchRef(base: Int)
  private val BranchNameRe = "[A-Za-z0-9._-]{1,64}".r
  private def branchPath(dir: String, name: String) = {
    require(BranchNameRe.matches(name),
      s"branch name '$name' (allowed: [A-Za-z0-9._-]{1,64})")
    logDirOf(dir).resolve(s"branch-$name")
  }

  /** The branch's table directory — pass this anywhere a table dir
    * goes (read/append/merge/delete/compact/diff/stream). */
  def branchDir(dir: String, name: String): String =
    branchPath(dir, name).toString

  /** The parent version branch `name` forked from. */
  def branchBase(dir: String, name: String): Int = {
    val ref = branchPath(dir, name).resolve("branch.json")
    require(Files.exists(ref), s"GVT $dir has no branch '$name'")
    mapper.readValue(Files.readAllBytes(ref), classOf[GvtBranchRef]).base
  }

  def listBranches(dir: String): Seq[String] = {
    val ld = logDirOf(dir)
    if (!Files.isDirectory(ld)) return Nil
    val it = Files.list(ld)
    try it.iterator().asScala()
      .map(_.getFileName.toString)
      .collect { case n if n.startsWith("branch-") &&
        Files.exists(ld.resolve(n).resolve("branch.json")) =>
        n.stripPrefix("branch-") }
      .toSeq.sorted
    finally it.close()
  }

  /** Fork a branch at the parent's current head. The `branch.json` ref
    * is the atomic existence claim (createLink — a concurrent creator
    * of the same name loses loudly). The log seed is O(tail), NOT
    * O(files): instead of materializing the fork manifest into a fresh
    * checkpoint (a 10⁶-entry table must never pass through the driver
    * just to get a branch), it HARD-LINKS the parent's own resolution
    * anchors — the newest checkpoint ≤ fork and the commit docs
    * between it and the fork — so the branch resolves exactly like the
    * parent did at the fork, and stays readable even after the parent
    * vacuums its own copies (links survive the source's deletion).
    * Returns the branch's table dir. */
  def createBranch(dir: String, name: String): String = {
    val base = latestVersion(dir)
    require(base >= 0, s"GVT $dir has no commits to branch from")
    val bdir = branchPath(dir, name)
    Files.createDirectories(bdir)
    val tmp = Files.createTempFile(bdir, ".tmp-", ".json")
    Files.write(tmp, mapper.writeValueAsBytes(GvtBranchRef(base)))
    val claimed =
      try { Files.createLink(bdir.resolve("branch.json"), tmp); true }
      catch { case _: FileAlreadyExistsException => false }
    Files.delete(tmp)
    if (!claimed)
      throw new IllegalStateException(s"GVT $dir: branch '$name' already exists")
    // shared data pool: relative symlink so the table relocates whole
    Files.createSymbolicLink(bdir.resolve("data"),
      Paths.get("..", "..", "data"))
    val bld = Files.createDirectories(bdir.resolve(LogDir))
    // anchor: newest checkpoint ≤ base (-1 on a young, never-vacuumed
    // table — then commits 0..base all still exist)
    val ck = newestCkpt(dir, base)
    if (ck >= 0)
      try Files.createLink(bld.resolve(f"$ck%08d.ckpt.json"), ckptPath(dir, ck))
      catch { case _: FileAlreadyExistsException => () }
    // the tail: every commit doc from the anchor through the fork —
    // the anchor version's own doc included, so branch time travel
    // reaches back to the parent's newest checkpoint ≤ fork (deeper
    // history stays the parent's to serve). All docs exist in the
    // parent — vacuum ensures a checkpoint at its floor and keeps the
    // floor doc, so [ck, base] is never vacuumed away.
    (math.max(ck, 0) to base).foreach { v =>
      try Files.createLink(bld.resolve(f"$v%08d.json"), commitPath(dir, v))
      catch { case _: FileAlreadyExistsException => () }
    }
    bdir.toString
  }

  /** PUBLISH: squash the branch's net effect into ONE parent commit
    * (op `publish`) — adds = files the branch has that the fork state
    * did not (including DV re-adds), removes = fork-state files the
    * branch dropped. Atomic by the same createLink the whole log uses:
    * parent readers see none of the branch or all of it, never a
    * partial drop. If the parent advanced past the fork version, an
    * APPEND-ONLY branch (removes empty by construction) lands safely on
    * the new head; a branch holding rewrites aborts — its audit read
    * no longer describes what publishing would produce. The branch is
    * left in place (stale) for the caller to [[dropBranch]]. */
  def publishBranch(spark: SparkSession, dir: String, name: String): Int =
    rmwRetry(spark) {
      val bdir = branchDir(dir, name)
      val base = branchBase(dir, name)
      val bHead = latestVersion(bdir)
      require(bHead > base, s"branch '$name' has no commits to publish")
      val head = latestVersion(dir)
      val appendOnly =
        ((base + 1) to bHead).forall(v => commitAt(bdir, v).op == "append")
      // schema-only parent commits (rename/drop/check declarations)
      // move ZERO data: the fork's data state still equals the head's,
      // so the branch's audit still describes what publishing produces
      // — and a post-fork CHECK is re-validated by the gate below
      // anyway. Only a parent DATA advance invalidates a rewrite audit.
      // Evaluated ONLY for non-append branches (an append-only branch
      // lands on any head — and its fork may sit below the parent's
      // vacuum floor, where these docs no longer exist); a MISSING doc
      // can't be proven schema-only, so it counts as a data advance.
      def parentDataAdvanced = ((base + 1) to head).exists { v =>
        !Files.exists(commitPath(dir, v)) || {
          val c = commitAt(dir, v)
          c.adds.nonEmpty || c.removes.nonEmpty
        }
      }
      if (!appendOnly && parentDataAdvanced)
        throw new java.util.ConcurrentModificationException(
          s"GVT $dir: advanced $base -> $head since branch '$name' forked " +
            "and the branch holds non-append commits; re-audit on a fresh branch")
      // net delta by an in-memory diff. Fork-state resolution reads the
      // BRANCH's linked log, not the parent's: the parent's vacuum floor
      // may have passed the fork (vacuum pins the branch's FILES
      // precisely so it can still land), and the branch's seed links
      // serve version `base` forever
      val baseFiles = snapshot(bdir, Some(base))
      val bFiles = snapshot(bdir)
      val baseByPath = baseFiles.map(f => f.path -> f).toMap
      val bPaths = bFiles.map(_.path).toSet
      val adds = bFiles.filterNot(f => baseByPath.get(f.path).contains(f))
      val removes = baseFiles.map(_.path).filterNot(bPaths.contains)
      // the squash's adds are files born on the BRANCH; their schemas
      // live in branch commit docs the parent never sees, so the
      // publish doc pins the merge of EXACTLY the branch commits that
      // created the published files — not the branch's full unified
      // schema, which could carry a column the branch once wrote and
      // then deleted every file of (the phantom-column class the r12
      // restore/overwrite resets fixed; second-review finding). An
      // unresolvable pin leaves null and the parent falls back to
      // footer merges. The WAP gate below reads the adds under it too.
      val branchPin: Option[StructType] = if (adds.isEmpty) None
        else {
          val addPaths = adds.map(_.path).toSet
          var pinOpt: Option[StructType] = Some(new StructType())
          ((base + 1) to bHead).foreach { bv =>
            val c = commitAt(bdir, bv)
            if (c.adds.exists(f => addPaths.contains(f.path))) {
              if (c.dataSchema != null)
                pinOpt = pinOpt.flatMap(mergeStruct(_,
                  DataType.fromJson(c.dataSchema).asInstanceOf[StructType]))
              else if (!ReAddOps.contains(c.op)) pinOpt = None
            }
          }
          pinOpt.filter(_.nonEmpty)
        }
      // WAP GATE: the branch's net-new rows must pass the PARENT's
      // CURRENT checks — a constraint added after the fork still gates
      // the publish (branch appends enforced only the checks the
      // branch inherited at fork time). Cost ∝ branch churn (the adds,
      // DV-aware), never the table.
      val parentChecks = mappingAt(dir, Some(head))
      if (parentChecks.checkMap.nonEmpty && adds.nonEmpty) {
        // checks speak LOGICAL names; the files store physical ones —
        // alias first, exactly like the in-write enforcement path.
        // ONE combined pass probes all checks (any-violation), and only
        // the rare blocked path pays per-check scans to NAME the
        // culprits in the error.
        lazy val added = applyMapping(readFiles(spark, dir, adds,
          schemaFor(spark, dir, adds, branchPin)), parentChecks)
        val preds = parentChecks.checkMap.values
          .map(p => !coalesce(expr(p), lit(true))).reduce(_ || _)
        if (added.filter(preds).limit(1).count() > 0) {
          val violated = parentChecks.checkMap.filter { case (_, pred) =>
            added.filter(!coalesce(expr(pred), lit(true)))
              .limit(1).count() > 0
          }
          throw new IllegalStateException(
            s"GVT $dir: branch '$name' publish BLOCKED — its rows violate " +
              s"parent check(s) ${violated.keys.mkString(", ")}; audit the " +
              "branch (delete the violating rows) and publish again")
        }
      }
      val v = head + 1
      if (!tryPublish(dir, GvtCommit(v, "publish", adds, removes,
          dataSchema = branchPin.map(_.json).orNull), spark))
        throw new java.util.ConcurrentModificationException(
          s"GVT $dir: version $v committed concurrently; publish read set stale")
      v
    }

  /** Delete the branch (its unique data files become unreferenced and
    * the parent's next aged [[vacuum]] reaps them). The shared-data
    * symlink is unlinked as an entry, never followed. */
  def dropBranch(dir: String, name: String): Unit = {
    deleteRecursively(branchPath(dir, name))
    // a re-created branch of the same name restarts version numbering
    // in the same dir — stale connector memos must not survive it
    GvtDataSource.invalidate(branchDir(dir, name))
  }

}
