package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.{FileStatusCache, PartitionDirectory, PartitionSpec}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 `TableProvider` for the GVT versioned-table format:
  * `spark.read.format("gvt").option("path", dir)` with optional
  * `versionAsOf` / `timestampAsOf` time travel — the rung that makes
  * GVT's zone-map file skipping CATALYST-driven. Before this connector,
  * a plain `Gvt.read(...).filter(...)` scanned every live file unless
  * the caller hand-passed ranges to [[Gvt.readPrunedMulti]]; now a
  * WHERE clause prunes automatically, the way Delta/Iceberg wire their
  * manifests through the table interface.
  *
  * Architecture: the connector does NOT re-implement parquet reading
  * (the anti-pattern [[GvtStreamSource]]'s scaladoc warns about).
  * [[GvtTable.newScanBuilder]] returns Spark's own [[ParquetScanBuilder]]
  * — so filter pushdown into row groups, nested column pruning,
  * vectorized decoding, and `SupportsReportStatistics` (FileScan
  * estimates from the index's byte totals, which is what sizes
  * broadcast joins) are all the stock battle-tested paths — and the
  * GVT-ness lives in ONE place: [[GvtFileIndex]], whose
  * `listFiles(partitionFilters, dataFilters)` serves the MANIFEST's
  * live-file list (no directory listing) intersected with the zone-map
  * survivors of the pushed data filters. That is exactly the seam
  * Spark gives lakehouse formats: the index decides WHICH files exist,
  * the parquet scan decides how to read them.
  *
  * The connector serves EVERY table state (r12 — the two r11 refusals
  * removed):
  *  - COLUMN MAPPING: the table reports the version's LOGICAL schema;
  *    pushed filters and pruned columns translate logical→physical on
  *    the way into the stock builder, and [[GvtScan]] re-reports the
  *    scan's output under logical names (rows are positional — no
  *    per-row work). Time travel below a rename serves that version's
  *    own names, same as [[Gvt.read]].
  *  - MoR (deletion vectors): [[GvtScan]] appends Spark's temporary
  *    row-index column (`_tmp_metadata_row_index` — the same mechanism
  *    `_metadata.row_index` rides) to the delegate's read schema, and a
  *    wrapping reader drops rows whose (file, row_index) the snapshot's
  *    vectors delete — a sorted-array binary search per row against a
  *    BROADCAST per-file position map, then an unsafe projection strips
  *    the index column. Zone-map pruning still applies (vectors only
  *    remove rows; stats stay truthful). The position map is bounded by
  *    `dvRows` (manifest-known, and [[Gvt.absorbDeletes]] exists to
  *    bound it); the production form is per-file roaring-bitmap
  *    sidecars fetched per task, as Delta does.
  * Tables in NEITHER state keep the untouched stock `ParquetScan`. */
class GvtDataSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "gvt"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GvtDataSource.schemaOf(SparkSession.active,
      GvtDataSource.resolve(options))

  /** The table PINS its version at construction: a no-version load used
    * to resolve "latest" independently in inferSchema, here, and again
    * at scan time — a commit landing between resolutions could hand one
    * query a schema from version N and a file list from N+1 (r11
    * advisor finding). Now everything downstream (schema served,
    * GvtFileIndex snapshot, zone-map stats) reads the ONE version
    * resolved here; the passed `schema` is ignored in favor of the
    * pinned version's own (the Delta contract — user-supplied schemas
    * don't override the table's). */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val (dir, asOf) =
      GvtDataSource.resolve(new CaseInsensitiveStringMap(properties))
    val pinned = asOf.getOrElse(Gvt.latestVersion(dir))
    new GvtTable(dir, Some(pinned),
      GvtDataSource.schemaOf(SparkSession.active, (dir, Some(pinned))),
      writable = asOf.isEmpty) // pinned loads (travel/txn) are read-only
  }
}

object GvtDataSource {

  /** (table dir, resolved snapshot version). `versionAsOf` wins over
    * `timestampAsOf` if both are passed (Delta raises there; one option
    * is the documented contract, the precedence is belt-and-braces).
    * Timestamps accept epoch millis or `yyyy-MM-dd HH:mm:ss[.f]`.
    *
    * `txnDir` reads the table THROUGH the [[GvtTxn]] cross-table view:
    * the version is whatever the coordinator's newest doc pins (or the
    * doc at `txnVersionAsOf`) — fact and summary read through the same
    * txnDir can never expose a half-transaction, and the scan still
    * gets the full Catalyst zone-map pruning. Mutually exclusive with
    * table-level time travel (two version authorities would be
    * ambiguous). */
  private[sources] def resolve(
      options: CaseInsensitiveStringMap): (String, Option[Int]) = {
    val dir = options.get("path")
    require(dir != null, "gvt needs a path option (the table directory)")
    val txnDir = Option(options.get("txnDir"))
    val tableTravel = options.containsKey("versionAsOf") ||
      options.containsKey("timestampAsOf")
    require(txnDir.isEmpty || !tableTravel,
      "gvt: txnDir pins the version through the transaction view — " +
        "combine it with txnVersionAsOf, not versionAsOf/timestampAsOf")
    val asOf = txnDir.map { td =>
      val txnV = Option(options.get("txnVersionAsOf")).map(_.toInt)
      GvtTxn.tableVersion(td, dir, txnV).getOrElse(
        throw new IllegalArgumentException(
          s"GvtTxn at $td pins no version of $dir" +
            txnV.map(v => s" at txn version $v").getOrElse("")))
    }.map(Some(_)).getOrElse {
      Option(options.get("versionAsOf")).map(_.toInt)
        .orElse(Option(options.get("timestampAsOf")).map { ts =>
          val ms =
            if (ts.forall(_.isDigit)) ts.toLong
            else java.sql.Timestamp.valueOf(ts).getTime
          val v = Gvt.versionAt(dir, ms)
          require(v >= 0,
            s"GVT at $dir: no version existed at ts=$ts (table created later)")
          v
        })
    }
    (dir, asOf)
  }

  /** Snapshot schema: the version's UNIFIED schema — served from the
    * manifest's metadata pin when it resolves (zero footer reads, the
    * r12 fix for the 4.3 s cold footer merge at 2000 files,
    * DevDsv2Scale), falling back to the merged-footer read for pre-pin
    * tables; [[Gvt.schemaFor]] is the one place deciding, so
    * [[Gvt.read]] serves the same schema. MEMOIZED per (dir, resolved
    * version): a version's file set is immutable, and
    * `DataFrameReader.load` calls inferSchema on EVERY query. */
  private val schemaMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), StructType]()

  /** The version's LOGICAL schema: unified physical (pin or footer
    * merge), aliased under the version's OWN mapping state — time
    * travel below a rename shows the old name, like [[Gvt.read]]. */
  private[sources] def schemaOf(spark: SparkSession,
      resolved: (String, Option[Int])): StructType = {
    val (dir, asOf) = resolved
    val version = asOf.getOrElse(Gvt.latestVersion(dir))
    schemaMemo.computeIfAbsent((dir, version), _ => {
      val (files, state, pin) = Gvt.resolveAll(dir, Some(version))
      Gvt.mapSchema(Gvt.schemaFor(spark, dir, files, pin), state)
    })
  }

  /** BOUNDED LRU (r12 review fixes, both passes): a long-lived
    * maintenance loop reading version after version must not
    * accumulate one broadcast per version forever, and eviction must
    * target the LEAST-RECENTLY-USED entry, never the hot current
    * version (arbitrary hash-order eviction would re-run the DV
    * Spark job + re-broadcast on the very next scan and break GvtScan
    * equality for exchange reuse). Eviction drops the MEMO entry only
    * — no explicit unpersist, so an in-flight query planned against
    * an evicted version keeps its broadcast handle alive and the
    * ContextCleaner reclaims blocks once the driver reference is
    * gone. */
  private val DvMemoCap = 64
  private val dvMemo = new java.util.LinkedHashMap[
      (Int, String, Int),
      org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]](
      16, 0.75f, /* accessOrder = */ true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (Int, String, Int),
        org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]])
        : Boolean = size() > DvMemoCap
  }

  /** Pick the DV access regime for a scan from manifest metadata alone:
    * the broadcast map while the version's total deleted positions fit
    * driver comfort (`spark.graft.gvt.dvBroadcastMaxRows`, default
    * 4×10⁶ ≈ tens of MB of Long[]), per-task sidecar fetch beyond it —
    * a table carrying 10⁹ undeleted-vector rows must never build its
    * position map on the driver (the r12 verdict's scale rung). The
    * threshold conf set to 0 forces per-task fetch session-wide; the
    * per-read `dvMode` option (`broadcast` | `fetch` | default `auto`)
    * pins ONE scan's regime — option over conf because the regime is
    * resolved lazily at scan-build time, so a conf toggled around a
    * DataFrame construction races the action that plans it. */
  private[sources] def dvAccessFor(spark: SparkSession, dir: String,
      asOf: Option[Int], files: Seq[Gvt.GvtFile],
      mode: String = "auto"): Option[GvtDvAccess] = {
    val dvDirs = files.flatMap(f => Option(f.dv).getOrElse(Nil)).distinct
    if (dvDirs.isEmpty) None
    else {
      def broadcastAccess = GvtDvBroadcast(dvBroadcast(spark, dir,
        asOf.getOrElse(Gvt.latestVersion(dir)), dvDirs))
      mode match {
        case "broadcast" => Some(broadcastAccess)
        case "fetch" => Some(GvtDvTaskFetch(dir, dvDirs.sorted))
        case "auto" =>
          val maxRows = spark.conf
            .getOption("spark.graft.gvt.dvBroadcastMaxRows")
            .map(_.toLong).getOrElse(4000000L)
          if (files.map(_.dvRows).sum <= maxRows) Some(broadcastAccess)
          else Some(GvtDvTaskFetch(dir, dvDirs.sorted))
        case other => throw new IllegalArgumentException(
          s"gvt: unknown dvMode '$other' (broadcast | fetch | auto)")
      }
    }
  }

  /** Per-file deleted-row positions of a version's deletion vectors,
    * sorted for binary search, BROADCAST once per (session, version) —
    * every scan of that immutable snapshot reuses the torrent blocks.
    * Built by one Spark job over the sidecar parquet (collect is
    * bounded by `dvRows`, which the manifest knows and
    * [[Gvt.absorbDeletes]] bounds by rewriting heavily-deleted files). */
  private[sources] def dvBroadcast(spark: SparkSession, dir: String,
      version: Int, dvDirs: Seq[String])
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] =
    dvMemo.synchronized {
      val key = (System.identityHashCode(spark.sparkContext), dir, version)
      val hit = dvMemo.get(key)
      if (hit != null) hit
      else {
        val m = Gvt.readDv(spark, dir, dvDirs)
          .groupBy("_gvt_file")
          .agg(org.apache.spark.sql.functions.sort_array(
            org.apache.spark.sql.functions.collect_list("_gvt_pos")).as("pos"))
          .collect()
          .map(r => r.getString(0) -> r.getSeq[Long](1).toArray)
          .toMap
        val bc = spark.sparkContext.broadcast(m)
        dvMemo.put(key, bc)
        bc
      }
    }

  /** Translate pushed V1 filters to ONE conjunctive Column over
    * LOGICAL names (what [[Gvt.delete]] speaks) — None when any leaf
    * is untranslatable, so `canDeleteWhere` declines the whole delete
    * rather than deleting a superset or subset. Semantics mirror the
    * Filter contract exactly: null-safe EqualNullSafe, SQL
    * three-valued everything else. */
  private[sources] def filtersToColumn(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.{sources => sf}
    def one(f: sf.Filter): Option[Column] = f match {
      case sf.EqualTo(a, v) => Some(col(a) === lit(v))
      case sf.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
      case sf.GreaterThan(a, v) => Some(col(a) > lit(v))
      case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
      case sf.LessThan(a, v) => Some(col(a) < lit(v))
      case sf.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
      case sf.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
      case sf.IsNull(a) => Some(col(a).isNull)
      case sf.IsNotNull(a) => Some(col(a).isNotNull)
      case sf.And(l, r) => for { lc <- one(l); rc <- one(r) } yield lc && rc
      case sf.Or(l, r) => for { lc <- one(l); rc <- one(r) } yield lc || rc
      case sf.Not(c) => one(c).map(!_)
      case sf.StringStartsWith(a, v) => Some(col(a).startsWith(v))
      case sf.StringEndsWith(a, v) => Some(col(a).endsWith(v))
      case sf.StringContains(a, v) => Some(col(a).contains(v))
      case _: sf.AlwaysTrue => Some(lit(true))
      case _: sf.AlwaysFalse => Some(lit(false))
      case _ => None
    }
    filters.foldLeft(Option(lit(true))) { (acc, f) =>
      for { a <- acc; c <- one(f) } yield a && c
    }
  }

  /** Drop every memoized schema/DV entry for `dir` — the hook DROP
    * TABLE and dropBranch call (r12 review fix: a re-created table at
    * the same path reaching the same version numbers must not serve
    * the dead table's cached schema or deletion vectors). */
  private[sources] def invalidate(dir: String): Unit = {
    schemaMemo.keySet.removeIf(
      (k: (String, Int)) => k._1 == dir)
    dvMemo.synchronized {
      dvMemo.keySet.removeIf(
        (k: (Int, String, Int)) => k._2 == dir)
    }
  }
}

/** `writable` is false for explicitly version-pinned loads (time
  * travel, txnDir): writing "at a version" that is not the head is not
  * a meaningful operation, so it refuses at write-builder time. */
class GvtTable(dir: String, asOf: Option[Int], tableSchema: StructType,
    writable: Boolean = false)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  /** The table directory — [[RewriteGvtDml]]'s handle back to the Gvt
    * API when it rewrites SQL UPDATE/MERGE onto this table. */
  private[sources] def location: String = dir
  private[sources] def isWritable: Boolean = writable

  /** SQL `DELETE FROM` / `TRUNCATE TABLE`: the pushed condition
    * translates to a Column and rides [[Gvt.delete]] — the SAME
    * copy-on-write pipeline API callers get (column-pruned touch
    * probe, only matching files rewritten, mapping/checks/clustering
    * preserved, atomic publish with RMW abort). `canDeleteWhere`
    * declines untranslatable conditions so Spark errors loudly
    * instead of half-deleting. */
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && GvtDataSource.filtersToColumn(filters).isDefined

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(writable,
      s"GVT at $dir: cannot delete through a version-pinned load")
    val cond = GvtDataSource.filtersToColumn(filters).getOrElse(
      throw new UnsupportedOperationException(
        s"gvt: cannot translate ${filters.mkString(", ")} to a predicate"))
    val spark = SparkSession.active
    Gvt.delete(spark, dir, cond, Gvt.mappingAt(dir).statsList)
    ()
  }

  override def name(): String =
    s"gvt.`$dir`" + asOf.map(v => s" VERSION AS OF $v").getOrElse("")

  override def schema(): StructType = tableSchema

  // BATCH_WRITE rides along with V1_BATCH_WRITE: DataFrameWriter.save's
  // own dispatch tests BATCH_WRITE before planning, while the planner
  // picks the V1 exec the moment build() returns a V1Write — declaring
  // both is the standard connector shape
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE).asJava

  /** The write path (SQL `INSERT INTO` / `INSERT OVERWRITE` /
    * DataFrameWriter): a [[org.apache.spark.sql.connector.write.V1Write]]
    * delegating to [[Gvt.append]]/[[Gvt.overwrite]] — so SQL writes get
    * the IDENTICAL pipeline API writers get (range-clustering + stats
    * on the table's declared `stats` columns, in-write CHECK
    * enforcement, logical→physical mapping, atomic createLink publish
    * with the same retry gates). A distributed `BatchWrite` would
    * re-implement writeData's clustering/stats commit protocol for no
    * new capability — the V1 seam hands us the exact DataFrame the
    * analyzer already aligned to the table schema. */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    require(writable,
      s"GVT at $dir: cannot write through a version-pinned load " +
        "(time travel / txnDir) — write at the table head")
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsTruncate {
      private var overwrite = false
      override def truncate()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwrite = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            new org.apache.spark.sql.sources.InsertableRelation {
              override def insert(data: org.apache.spark.sql.DataFrame,
                  ignored: Boolean): Unit = {
                val spark = data.sparkSession
                val stats = Gvt.mappingAt(dir).statsList
                if (overwrite) Gvt.overwrite(spark, dir, data, stats)
                else Gvt.append(spark, dir, data, stats)
                ()
              }
            }
        }
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    // ONE manifest walk plans the whole scan (r12 review fix: the
    // mapping, the file list, and the stats map used to re-resolve
    // independently — 4-5x the planning I/O at checkpoint-sized
    // manifests); the files thread into the index, the state into the
    // builder, the DV dirs into the broadcast memo
    val (files, state, _) = Gvt.resolveAll(dir, asOf)
    // PHYSICAL schema for the parquet machinery: the logical face with
    // stable storage names restored (drops are already absent from the
    // logical schema, so this is a pure positional rename)
    val physSchema = StructType(tableSchema.fields.map(f =>
      f.copy(name = state.physicalOf(f.name))))
    val dv = GvtDataSource.dvAccessFor(spark, dir, asOf, files,
      Option(options.get("dvMode")).getOrElse("auto"))
    new GvtScanBuilder(spark,
      new GvtFileIndex(spark, dir, files, physSchema),
      physSchema, state, dv, options)
  }
}

/** [[ParquetScanBuilder]] with three additions: `build()` hands the
  * final pushed data filters to the index BEFORE the scan is
  * constructed, so the scan's `estimateStatistics` (stock [[FileScan]]
  * code computing from `fileIndex.sizeInBytes`) reports the
  * ZONE-MAP-PRUNED byte total, not the whole table — a `WHERE`-bounded
  * gvt side of a join sizes (and broadcasts) by what it will actually
  * scan. Under COLUMN MAPPING, pushed filters and pruned columns
  * translate logical→physical on the way in (Catalyst binds by exprId,
  * so returning the original leftovers is sound), and the built scan is
  * wrapped to re-report logical names. Under DELETION VECTORS, the
  * wrap adds the row-index column and the DV-filtering reader; both
  * states also refuse parquet AGGREGATE pushdown (a pushed MAX over
  * deleted rows would resurrect them into the aggregate). Scoped
  * safely: every `newScanBuilder` call constructs a fresh index, so
  * the filter handoff never leaks across queries. */
class GvtScanBuilder(spark: SparkSession, index: GvtFileIndex,
    physSchema: StructType, state: Gvt.GvtSchemaState,
    dv: Option[GvtDvAccess],
    options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // COMPOSITION, not inheritance: ParquetScanBuilder.build() is typed
  // to return ParquetScan, so a subclass cannot return the wrapper —
  // the stock builder does all the pushdown bookkeeping behind the
  // same three capability traits Catalyst probes for
  private val inner =
    new ParquetScanBuilder(spark, index, physSchema, physSchema, options)

  private def stock: Boolean = state.mappingEmpty && dv.isEmpty

  private def toPhys(e: Expression): Expression = e.transform {
    case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
        if state.physicalOf(a.name) != a.name =>
      a.withName(state.physicalOf(a.name))
  }

  /** The PHYSICAL filters handed to the stock builder (whose own
    * `dataFilters` is protected) — what [[GvtFileIndex.statsFilters]]
    * needs for prune-aware statistics. */
  private var pushedPhys: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    if (state.mappingEmpty) {
      pushedPhys = filters.filter(_.deterministic)
      inner.pushFilters(filters)
    } else {
      // push the PHYSICAL rendering (parquet row groups + zone maps
      // speak storage names); return the ORIGINAL logical expressions
      // as post-scan leftovers — a superset re-evaluation is always
      // sound, and they carry the exprIds the plan binds by
      val phys = filters.map(toPhys)
      pushedPhys = phys.filter(_.deterministic)
      inner.pushFilters(phys)
      filters
    }
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    inner.pruneColumns(
      if (state.mappingEmpty) requiredSchema
      else StructType(requiredSchema.fields.map(f =>
        f.copy(name = state.physicalOf(f.name)))))

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    stock && inner.pushAggregation(aggregation)

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean =
    stock && inner.supportCompletePushDown(aggregation)

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    index.statsFilters = pushedPhys
    val base = inner.build()
    if (stock) base
    else {
      val logicalOut = StructType(base.readDataSchema.fields.map(f =>
        f.copy(name = state.logicalOf(f.name).getOrElse(f.name))))
      GvtScan(base, logicalOut, dv)
    }
  }
}

/** The non-stock scan: a stock [[org.apache.spark.sql.execution
  * .datasources.v2.parquet.ParquetScan]] delegate doing ALL the reading
  * (physical names, vectorized decode, row-group pushdown, zone-map
  * pruned file index), re-faced with the version's LOGICAL schema
  * (rows are positional; renaming the reported schema IS the alias),
  * and — when the snapshot holds deletion vectors — batch-wrapped so
  * every emitted row survived the DV anti-filter. Equality rides the
  * case class (delegate equality covers files/filters/schema; the dv
  * broadcast is memoized per version, so same-version scans stay equal
  * for exchange reuse). */
/** (Runtime V2 filtering is deliberately NOT delegated: FileScan's
  * implementation applies runtime filters to PARTITION columns only,
  * and gvt tables have an empty partition schema — the stock path's
  * `SupportsRuntimeV2Filtering` is a no-op for this format, so the
  * wrapper forfeits nothing.) */
case class GvtScan(
    delegate: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    logicalOutput: StructType,
    dv: Option[GvtDvAccess])
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = logicalOutput

  override def description(): String =
    s"GvtScan(mapped=${logicalOutput != delegate.readDataSchema}, " +
      s"dv=${dv.isDefined}) " + delegate.description()

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    delegate.estimateStatistics()

  override def toBatch: org.apache.spark.sql.connector.read.Batch = dv match {
    case None => delegate.toBatch
    case Some(access) =>
      // widen the delegate's read schema by Spark's temporary row-index
      // column: both parquet reader paths (vectorized + parquet-mr)
      // fill it with FILE-ABSOLUTE row positions — exactly the identity
      // deleteWhereDV recorded via _metadata.row_index
      val rowIdx = org.apache.spark.sql.types.StructField(
        org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        org.apache.spark.sql.types.LongType, nullable = true)
      val widened = delegate.copy(
        readDataSchema = delegate.readDataSchema.add(rowIdx))
      new GvtDvBatch(widened.toBatch, access, delegate.readDataSchema)
  }
}

/** How a scan's readers obtain each file's deleted-row positions — the
  * two regimes [[GvtDataSource.dvAccessFor]] picks between on the
  * manifest's total `dvRows` (a metadata-only decision):
  *
  *  - [[GvtDvBroadcast]]: the full (file → sorted positions) map built
  *    by ONE Spark job and broadcast, memoized per version. Optimal
  *    while the map fits driver comfort (every task gets O(1) lookup,
  *    zero per-task I/O), which maintenance keeps true on healthy
  *    tables ([[Gvt.absorbDeletes]]).
  *  - [[GvtDvTaskFetch]]: NOTHING position-shaped ever touches the
  *    driver — each task fetches ITS files' position slices from the
  *    sidecar parquet directly ([[GvtDvFetch]]), which the write-side
  *    (file, pos) global sort makes a row-group-skipped point read.
  *    The Delta-DV production shape for tables carrying more deleted
  *    positions than a driver heap should hold. The payload here is
  *    O(dv COMMITS) dir names, never O(files).
  *
  * Both are case classes so [[GvtScan]] equality (exchange reuse)
  * stays structural. */
sealed trait GvtDvAccess extends Serializable
case class GvtDvBroadcast(
    bc: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])
    extends GvtDvAccess
case class GvtDvTaskFetch(dir: String, dvDirs: Seq[String])
    extends GvtDvAccess

/** Executor-side sidecar access for [[GvtDvTaskFetch]]: read one file's
  * deleted positions from the DV sidecar parquet with a pushed
  * `_gvt_file = <suffix>` predicate (parquet-mr applies it at row-group
  * granularity first — the sidecar's global (file, pos) sort makes the
  * matching groups contiguous — then per record). Results are memoized
  * in a JVM-wide access-order LRU so every task of a stage after the
  * first gets its file's slice for free; the cap bounds executor memory
  * regardless of how many versions a long-lived executor serves. */
object GvtDvFetch {
  /** Entry cap AND a total-positions budget (~256 MB of Long[]): a
    * wide executor serving many heavily-deleted files must not let the
    * slice cache grow into the working memory the scan itself needs. */
  private val Cap = 4096
  private val PosBudget = 32L * 1024 * 1024
  private var cachedPos = 0L
  private val cache = new java.util.LinkedHashMap[
      (String, Seq[String], String), Array[Long]](64, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[(String, Seq[String], String), Array[Long]])
        : Boolean = false // eviction is the position-budget loop below
  }
  private def putBounded(key: (String, Seq[String], String),
      arr: Array[Long]): Unit = {
    if (cache.containsKey(key)) return
    cache.put(key, arr)
    cachedPos += arr.length
    val it = cache.entrySet().iterator()
    while ((cachedPos > PosBudget || cache.size() > Cap) && it.hasNext) {
      val eldest = it.next()
      if (!(eldest.getKey eq key)) { // never evict the entry just added
        cachedPos -= eldest.getValue.length
        it.remove()
      }
    }
  }

  /** Sidecar part files of one DV dir, each with its `_gvt_file`
    * min/max span from the footer (memoized — the dir is immutable
    * once its commit published; one footer read per part per JVM).
    * The write-side global (file, pos) sort gives each part a tight
    * contiguous span, so a per-file fetch opens readers only on the
    * one-or-two parts whose span covers it — without this, a scan of
    * F files × D dirs × P parts opened F×D×P readers including for
    * files carrying no vectors at all (r13 review finding). A part
    * with unreadable stats gets an unbounded span (never skipped).
    * Local listing here; production pins part lists + spans in the
    * manifest like data files. BOUNDED like the positions cache: a
    * long-lived executor must not retain part lists for every
    * vacuumed/absorbed/dropped DV dir it ever scanned (r13 review). */
  private val PartsCap = 512
  private val parts = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, Seq[(String, String, String)]](
        64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[(String, String, String)]])
          : Boolean = size() > PartsCap
    })
  /** First-touch footer I/O runs OUTSIDE the map lock (r13 ADVICE):
    * computeIfAbsent on the synchronizedMap would serialize every task
    * on the executor behind one lock while a cold many-part sidecar's
    * footers are read — unrelated fetches included. Duplicate
    * computation on a cold race is tolerated (the dir is immutable, so
    * both compute the same value; putIfAbsent keeps one). */
  private def partsOf(absDvDir: String): Seq[(String, String, String)] = {
    val hit = parts.get(absDvDir)
    if (hit != null) return hit
    val computed = computeParts(absDvDir)
    val prev = parts.putIfAbsent(absDvDir, computed)
    if (prev != null) prev else computed
  }

  private def computeParts(d: String): Seq[(String, String, String)] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(d))
      val names =
        try s.iterator().asScala
          .map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
        finally s.close()
      names.map { p =>
        val span =
          try {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(new org.apache.hadoop.fs.Path(p),
                new org.apache.hadoop.conf.Configuration())
            val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            try {
              val blocks = rd.getFooter.getBlocks
              var (mn, mx): (String, String) = (null, null)
              blocks.forEach { b =>
                b.getColumns.forEach { c =>
                  if (c.getPath.toDotString == "_gvt_file" &&
                      c.getStatistics != null &&
                      c.getStatistics.hasNonNullValue) {
                    val lo = c.getStatistics.genericGetMin
                      .asInstanceOf[org.apache.parquet.io.api.Binary]
                      .toStringUsingUTF8
                    val hi = c.getStatistics.genericGetMax
                      .asInstanceOf[org.apache.parquet.io.api.Binary]
                      .toStringUsingUTF8
                    if (mn == null || lo < mn) mn = lo
                    if (mx == null || hi > mx) mx = hi
                  }
                }
              }
              if (mn == null) None else Some((mn, mx))
            } finally rd.close()
          } catch { case scala.util.control.NonFatal(_) => None }
        span match {
          case Some((mn, mx)) => (p, mn, mx)
          case None => (p, null, null) // unknown span: never skipped
        }
      }
  }

  def positions(dir: String, dvDirs: Seq[String], suffix: String)
      : Array[Long] = {
    val key = (dir, dvDirs, suffix)
    cache.synchronized {
      val hit = cache.get(key)
      if (hit != null) return hit
    }
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    val pred = FilterApi.eq(FilterApi.binaryColumn("_gvt_file"),
      org.apache.parquet.io.api.Binary.fromString(suffix))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (d <- dvDirs; (part, mn, mx) <- partsOf(s"$dir/$d")
        if mn == null || (mn <= suffix && suffix <= mx)) {
      val rd = org.apache.parquet.hadoop.ParquetReader.builder(
          new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(part))
        .withFilter(FilterCompat.get(pred)).build()
      try {
        var g = rd.read()
        while (g != null) {
          buf += g.getLong("_gvt_pos", 0)
          g = rd.read()
        }
      } finally rd.close()
    }
    // sidecars are sorted per dir but positions for one file may span
    // dirs (repeated DV deletes): one sort keeps the reader's binary
    // search contract
    val arr = buf.toArray
    java.util.Arrays.sort(arr)
    cache.synchronized { putBounded(key, arr) }
    arr
  }
}

/** [[GvtScan]]'s MoR batch: stock partition planning, DV-filtering
  * readers. */
class GvtDvBatch(delegate: org.apache.spark.sql.connector.read.Batch,
    dv: GvtDvAccess, outSchema: StructType)
    extends org.apache.spark.sql.connector.read.Batch {
  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] =
    delegate.planInputPartitions()
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory =
    GvtDvReaderFactory(
      delegate.createReaderFactory().asInstanceOf[
        org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory],
      dv, outSchema)
}

/** Per-file DV filtering around the stock parquet readers: each file of
  * the partition gets its own delegate reader (so the file identity is
  * known), rows whose appended row index binary-searches into the
  * file's sorted deleted-position array are dropped, and an unsafe
  * projection strips the index column. Work per surviving row: one
  * branchless O(log d) search + one codegen'd projection. */
case class GvtDvReaderFactory(
    delegate: org.apache.spark.sql.execution.datasources.v2.FilePartitionReaderFactory,
    dv: GvtDvAccess,
    outSchema: StructType)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean = false

  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    val files =
      p.asInstanceOf[org.apache.spark.sql.execution.datasources.FilePartition]
        .files
    val nOut = outSchema.length // row-index column sits at ordinal nOut
    new org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] {
      private val proj = org.apache.spark.sql.catalyst.expressions
        .UnsafeProjection.create(outSchema.fields.zipWithIndex.map {
          case (f, i) => org.apache.spark.sql.catalyst.expressions
            .BoundReference(i, f.dataType, f.nullable)
        }.toIndexedSeq)
      private var i = -1
      private var cur: org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = null
      private var curDv: Array[Long] = Array.emptyLongArray
      private var row: org.apache.spark.sql.catalyst.InternalRow = null

      override def next(): Boolean = {
        while (true) {
          if (cur == null) {
            i += 1
            if (i >= files.length) return false
            val f = files(i)
            cur = delegate.buildReader(f)
            val suffix = f.filePath.toPath.toUri.getPath
              .split('/').takeRight(3).mkString("/")
            curDv = dv match {
              case GvtDvBroadcast(bc) =>
                bc.value.getOrElse(suffix, Array.emptyLongArray)
              case GvtDvTaskFetch(tableDir, dvDirs) =>
                GvtDvFetch.positions(tableDir, dvDirs, suffix)
            }
          }
          while (cur.next()) {
            val r = cur.get()
            if (curDv.isEmpty ||
                java.util.Arrays.binarySearch(curDv, r.getLong(nOut)) < 0) {
              row = proj(r)
              return true
            }
          }
          cur.close(); cur = null
        }
        false // unreachable
      }
      override def get(): org.apache.spark.sql.catalyst.InternalRow = row
      override def close(): Unit = if (cur != null) { cur.close(); cur = null }
    }
  }
}

/** Manifest-backed file index: the leaf files ARE the snapshot's live
  * data files (commit-log truth — NO filesystem listing of any kind,
  * so compaction leftovers, in-flight writer staging, and vacuum
  * stragglers are invisible by construction, and there is no
  * distributed listing job: `InMemoryFileIndex` over 2000 root paths
  * spent ~4 s/query in one before this class implemented
  * [[PartitioningAwareFileIndex]] directly — DevDsv2Scale). Byte sizes
  * come from one LOCAL stat per live file (µs each); the production
  * form carries sizes in the manifest itself (as Delta/Iceberg do) and
  * drops even that. `listFiles` intersects the live set with the
  * zone-map survivors of the pushed data filters, re-using the same
  * survives-iff-[min,max]-intersects rule as [[Gvt.readPrunedMulti]]
  * (missing/unparsable stats ⇒ keep: pruning is never load-bearing —
  * the row-level filter still runs inside the parquet scan, pushed
  * into row groups). `lastPrune` exposes (kept, total) for plan
  * tests. */
class GvtFileIndex(spark: SparkSession, dir: String,
    files: Seq[Gvt.GvtFile], schema: StructType)
    extends org.apache.spark.sql.execution.datasources
      .PartitioningAwareFileIndex(spark, Map.empty, Some(schema),
        FileStatusCache.getOrCreate(spark)) {

  // paths must be QUALIFIED (file:/...): PartitioningAwareFileIndex's
  // allFiles() qualifies each root before the leafDirToChildrenFiles
  // lookup, and an unqualified key silently matches nothing.
  // Byte sizes come from the manifest (stamped at write time, r12);
  // only pre-r12 entries (bytes=0) pay one local stat each. mtime is a
  // constant: a GVT file is immutable, nothing downstream keys on it.
  // An EMPTY `files` is legal since r12 (a created-but-unloaded or
  // fully-deleted table serves its pinned schema over zero files).
  private val liveStatuses: Seq[org.apache.hadoop.fs.FileStatus] = {
    val conf = spark.sessionState.newHadoopConf()
    files.map { f =>
      val p0 = new Path(s"$dir/${f.path}")
      val p = p0.getFileSystem(conf).makeQualified(p0)
      val size =
        if (f.bytes > 0) f.bytes
        else java.nio.file.Files.size(
          java.nio.file.Paths.get(p.toUri.getPath))
      new org.apache.hadoop.fs.FileStatus(
        size, false, 1, 128L * 1024 * 1024, 0L, p)
    }
  }

  // roots = the distinct commit data dirs: allFiles() flatMaps each
  // root through leafDirToChildrenFiles
  override val rootPaths: Seq[Path] =
    liveStatuses.map(_.getPath.getParent).distinct

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override val leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, org.apache.hadoop.fs.FileStatus] =
    scala.collection.mutable.LinkedHashMap(
      liveStatuses.map(s => s.getPath -> s): _*)

  override val leafDirToChildrenFiles
      : Map[Path, Array[org.apache.hadoop.fs.FileStatus]] =
    liveStatuses.groupBy(_.getPath.getParent)
      .map { case (d, fs) => d -> fs.toArray }

  override def refresh(): Unit = () // a GVT version is immutable

  // `data/cN-uuid/part-x.parquet` (the fixed 3-deep layout) -> manifest
  // entry; keyed on the relative suffix so file:/ URI prefixes drop out
  private val statsBySuffix: Map[String, Gvt.GvtFile] =
    files.map(f => f.path.split('/').takeRight(3).mkString("/") -> f).toMap

  @volatile private[sources] var lastPrune: (Int, Int) = (-1, -1)

  /** Final pushed data filters, set by [[GvtScanBuilder.build]] so
    * [[sizeInBytes]] can report prune-aware totals. */
  @volatile private[sources] var statsFilters: Seq[Expression] = Nil

  /** Timestamp literals render in the SCAN session's zone; the stat
    * strings rendered in the WRITE session's zone recorded per file
    * ([[Gvt.GvtFile.tz]]). [[Gvt.zSurvives]] applies a TIMESTAMP bound
    * only to files whose recorded zone provably matches this one — a
    * cross-zone (or pre-r13 unrecorded) file is never pruned by it, so
    * a reader session with any `spark.sql.session.timeZone` gets
    * correct results, just less pruning. */
  private val scanTz = spark.sessionState.conf.sessionLocalTimeZone
  private val zoneId = java.time.ZoneId.of(scanTz)

  override def sizeInBytes: Long = {
    val ranges = GvtFileIndex.rangesOf(statsFilters, zoneId)
    if (ranges.isEmpty) super.sizeInBytes
    else allFiles().filter { f =>
      val suffix = f.getPath.toUri.getPath
        .split('/').takeRight(3).mkString("/")
      statsBySuffix.get(suffix)
        .forall(gf => Gvt.zSurvives(gf, ranges, scanTz))
    }.map(_.getLen).sum
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = super.listFiles(partitionFilters, dataFilters)
    val ranges = GvtFileIndex.rangesOf(dataFilters, zoneId)
    val total = base.map(_.files.size).sum
    if (ranges.isEmpty) { lastPrune = (total, total); return base }
    val pruned = base.map { pd =>
      pd.copy(files = pd.files.filter { f =>
        val suffix = f.getPath.toUri.getPath
          .split('/').takeRight(3).mkString("/")
        statsBySuffix.get(suffix)
          .forall(gf => Gvt.zSurvives(gf, ranges, scanTz))
      })
    }
    lastPrune = (pruned.map(_.files.size).sum, total)
    pruned
  }
}

object GvtFileIndex {

  /** Zone-map constraints extracted from pushed data filters: one-sided
    * ranges from {>=, >, <=, <, =} between a column and a literal
    * (either operand order), conjunctions flattened. Typed rendering
    * into the manifest's string-stat domain (r12): numerics compare as
    * Double, TIMESTAMP/DATE literals render to the same
    * `yyyy-MM-dd[ HH:mm:ss[.f]]` text the write-side `cast(string)`
    * produced (session zone for TIMESTAMP, UTC wall-clock for NTZ,
    * trailing fraction zeros trimmed) and compare lexicographically ≡
    * chronologically, strings compare in UTF8 binary order — the very
    * order that produced the stat. Anything else contributes no
    * constraint (its files all survive; the row-level predicate still
    * runs in the scan). The survivor rule itself is [[Gvt.zSurvives]],
    * shared with `readPrunedMulti` so the prune paths cannot disagree. */
  private[sources] def rangesOf(filters: Seq[Expression],
      zone: java.time.ZoneId): Seq[Gvt.ZBound] =
    filters.flatMap(constraintsOf(_, zone))

  private def constraintsOf(e: Expression,
      zone: java.time.ZoneId): Seq[Gvt.ZBound] = {
    def bound(a: Attribute, v: Any, dt: org.apache.spark.sql.types.DataType,
        lo: Boolean, hi: Boolean): Seq[Gvt.ZBound] =
      render(v, dt, zone).map { case (s, kind, zoned) =>
        Gvt.ZBound(a.name, if (lo) Some(s) else None,
          if (hi) Some(s) else None, kind, zoned)
      }
    e match {
      case And(l, r) => constraintsOf(l, zone) ++ constraintsOf(r, zone)
      case GreaterThanOrEqual(a: Attribute, Literal(v, t)) =>
        bound(a, v, t, lo = true, hi = false)
      case GreaterThan(a: Attribute, Literal(v, t)) =>
        bound(a, v, t, lo = true, hi = false)
      case LessThanOrEqual(a: Attribute, Literal(v, t)) =>
        bound(a, v, t, lo = false, hi = true)
      case LessThan(a: Attribute, Literal(v, t)) =>
        bound(a, v, t, lo = false, hi = true)
      case EqualTo(a: Attribute, Literal(v, t)) =>
        bound(a, v, t, lo = true, hi = true)
      case GreaterThanOrEqual(Literal(v, t), a: Attribute) =>
        bound(a, v, t, lo = false, hi = true)
      case GreaterThan(Literal(v, t), a: Attribute) =>
        bound(a, v, t, lo = false, hi = true)
      case LessThanOrEqual(Literal(v, t), a: Attribute) =>
        bound(a, v, t, lo = true, hi = false)
      case LessThan(Literal(v, t), a: Attribute) =>
        bound(a, v, t, lo = true, hi = false)
      case EqualTo(Literal(v, t), a: Attribute) =>
        bound(a, v, t, lo = true, hi = true)
      case _ => Seq.empty
    }
  }

  /** Literal → (stat-domain string, comparison kind, zone-sensitive)
    * renderings; empty = this literal contributes no constraint. A
    * TIMESTAMP literal renders TWICE (r14): as UTC epoch micros — the
    * zone-free Num bound that prunes r14 manifests in ANY session
    * zone, DST included — and as the session-zone chrono text for
    * pre-r14 string-statted files (zone-sensitive, applied only under
    * the recorded-write-zone guard). Each rendering is individually
    * conservative against the other era's stats: micros don't match
    * [[Gvt.ChronoRe]] and chrono text doesn't parse as Double, so a
    * mismatched (bound, stat) pair always keeps the file. */
  private def render(v: Any, dt: org.apache.spark.sql.types.DataType,
      zone: java.time.ZoneId): Seq[(String, Int, Boolean)] = {
    import org.apache.spark.sql.types._
    v match {
      case null => Seq.empty
      case u: org.apache.spark.unsafe.types.UTF8String =>
        Seq((u.toString, Gvt.ZKind.Str, false))
      case d: Decimal => Seq((d.toDouble.toString, Gvt.ZKind.Num, false))
      case n: java.lang.Number => dt match {
        case TimestampType =>
          (n.longValue().toString, Gvt.ZKind.Num, false) +:
            chrono(formatMicros(n.longValue(), zone), zoned = true)
        case TimestampNTZType => // wall-clock micros: zone-independent
          chrono(formatMicros(n.longValue(), java.time.ZoneOffset.UTC))
        case DateType =>
          chrono(java.time.LocalDate.ofEpochDay(n.longValue()).toString)
        case _ => Seq((n.toString, Gvt.ZKind.Num, false))
      }
      case _ => Seq.empty
    }
  }

  /** Only well-formed zero-padded renderings constrain — a negative or
    * five-digit year would break the lexicographic ≡ chronological
    * equivalence, so it keeps every file instead. */
  private def chrono(s: String, zoned: Boolean = false)
      : Seq[(String, Int, Boolean)] =
    if (Gvt.ChronoRe.matches(s)) Seq((s, Gvt.ZKind.Chrono, zoned))
    else Seq.empty

  /** Micros → the exact text of Spark's timestamp→string cast in
    * `zone`: `yyyy-MM-dd HH:mm:ss` plus the fraction with trailing
    * zeros trimmed (never a trailing dot). */
  private def formatMicros(us: Long, zone: java.time.ZoneId): String = {
    val instant = java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
    val t = java.time.LocalDateTime.ofInstant(instant, zone)
    val base = f"${t.getYear}%04d-${t.getMonthValue}%02d-${t.getDayOfMonth}%02d " +
      f"${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d"
    val micros = t.getNano / 1000
    if (micros == 0) base
    else base + "." + f"$micros%06d".reverse.dropWhile(_ == '0').reverse
  }
}
