package graft.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import org.apache.spark.sql.SparkSession

import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `TableCatalog` over GVT tables — the piece that makes the format a
  * first-class SQL citizen: `CREATE TABLE gvt.t (...) TBLPROPERTIES
  * ('stats'='k')`, `INSERT INTO gvt.t ...`, `INSERT OVERWRITE`, CTAS,
  * `DROP TABLE`, plus plain `SELECT ... FROM gvt.t` — all resolving to
  * the same [[GvtTable]] the `format("gvt")` path serves (Catalyst
  * zone-map pruning, DV filtering, column mapping included), and all
  * writes delegating to the same [[Gvt.append]]/[[Gvt.overwrite]]
  * pipeline API callers use (clustering + stats + CHECK enforcement +
  * atomic publish are IDENTICAL through both paths — GvtCatalogSpec
  * asserts the SQL-written twin is hash-equal to the API-written one).
  *
  * Catalog conf (one pair, [[graft.Sessions]] carries it):
  * {{{
  *   spark.sql.catalog.gvt = graft.sources.GvtCatalog
  *   spark.sql.catalog.gvt.warehouse = /data/gvt
  * }}}
  *
  * Naming: `gvt.name` (and `gvt.ns.name`) resolve under the warehouse
  * dir; a backquoted absolute path (`` gvt.`/abs/path` ``) addresses a
  * table by location — the Delta `delta.`/path`` convention, which is
  * what pipelines staging per-run temp tables want.
  *
  * Scale: every operation here is metadata-bounded — create/drop touch
  * one directory, loadTable resolves one manifest (the r12 schema pin:
  * zero footer reads), and listTables is one directory listing of the
  * warehouse root, not of any data. */
class GvtCatalog extends TableCatalog {
  import Gvt.JIter

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      System.getProperty("java.io.tmpdir") + "/gvt-warehouse")
  }

  override def name(): String = catalogName

  private def dirOf(ident: Identifier): String =
    if (ident.namespace().isEmpty && ident.name().startsWith("/"))
      ident.name() // path-addressed table
    else (warehouse +: ident.namespace() :+ ident.name()).mkString("/")

  private def exists(dir: String): Boolean = Gvt.latestVersion(dir) >= 0

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val base = Paths.get((warehouse +: namespace).mkString("/"))
    if (!Files.isDirectory(base)) return Array.empty
    val it = Files.list(base)
    try it.iterator().asScala()
      .filter(p => Files.isDirectory(p.resolve(Gvt.LogDir)))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
    finally it.close()
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = dirOf(ident)
    if (!exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchTableException(ident)
    val pinned = Gvt.latestVersion(dir)
    new GvtTable(dir, Some(pinned),
      GvtDataSource.schemaOf(SparkSession.active, (dir, Some(pinned))),
      writable = true)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: JMap[String, String])
      : Table = {
    require(partitions.isEmpty,
      "gvt: PARTITIONED BY is not supported — declare clustering via " +
        "TBLPROPERTIES ('stats'='col1,col2') (range-clustered files + " +
        "zone-map stats subsume hive-style partitioning)")
    val dir = dirOf(ident)
    if (exists(dir))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(Seq(name(), ident.toString))
    val stats = Option(properties.get("stats")).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    Gvt.create(SparkSession.active, dir, schema, stats)
    loadTable(ident)
  }

  /** SQL DDL over the metadata-commit ops — every change is one atomic
    * schema commit through the same createLink publish as any write:
    *  - `ALTER TABLE ... RENAME COLUMN a TO b` → [[Gvt.renameColumn]]
    *  - `ALTER TABLE ... DROP COLUMN a` → [[Gvt.dropColumn]]
    *  - `ALTER TABLE ... ADD COLUMN c TYPE` → [[Gvt.addColumn]]
    *  - `SET TBLPROPERTIES ('stats'='k,v')` → [[Gvt.setStats]]
    *  - `SET TBLPROPERTIES ('check.<name>'='<pred>')` → [[Gvt.addCheck]]
    *  - `UNSET TBLPROPERTIES ('check.<name>')` → [[Gvt.dropCheck]]
    * Anything else (type changes, nested fields, comments) refuses
    * loudly — GVT's physical-name contract has no story for them. */
  override def alterTable(ident: Identifier,
      changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val spark = SparkSession.active
    changes.foreach {
      case c: TableChange.RenameColumn =>
        require(c.fieldNames.length == 1,
          "gvt: nested column changes are not supported")
        Gvt.renameColumn(spark, dir, c.fieldNames.head, c.newName)
      case c: TableChange.DeleteColumn =>
        require(c.fieldNames.length == 1,
          "gvt: nested column changes are not supported")
        try Gvt.dropColumn(spark, dir, c.fieldNames.head)
        catch {
          case e: IllegalArgumentException
              if c.ifExists && e.getMessage.contains("no column") => ()
        }
      case c: TableChange.AddColumn =>
        require(c.fieldNames.length == 1,
          "gvt: nested column changes are not supported")
        require(c.isNullable,
          "gvt: added columns are nullable (existing rows backfill " +
            "null); declare NOT NULL via a check.<name> property")
        Gvt.addColumn(spark, dir, c.fieldNames.head, c.dataType)
      case c: TableChange.SetProperty if c.property == "stats" =>
        Gvt.setStats(spark, dir,
          c.value.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      case c: TableChange.SetProperty
          if c.property.startsWith("check.") =>
        Gvt.addCheck(spark, dir, c.property.stripPrefix("check."), c.value)
      case c: TableChange.RemoveProperty
          if c.property.startsWith("check.") =>
        Gvt.dropCheck(spark, dir, c.property.stripPrefix("check."))
      case other =>
        throw new UnsupportedOperationException(
          s"gvt: unsupported ALTER TABLE change $other")
    }
    GvtDataSource.invalidate(dir) // schema memos are per-version; cheap
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val dir = dirOf(ident)
    if (!exists(dir)) return false
    Gvt.deleteRecursively(Paths.get(dir))
    // a re-created table at this path must never serve the dead
    // table's memoized schema or DV broadcasts (r12 review fix)
    GvtDataSource.invalidate(dir)
    true
  }

  override def renameTable(from: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      "gvt: RENAME TABLE is not supported (table identity is its dir)")
}
