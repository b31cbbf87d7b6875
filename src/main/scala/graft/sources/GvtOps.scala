package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Registry keys for the [[Gvt]] versioned-table format — dataset
  * versioning as a first-class pipeline operation (SURVEY §2.19).
  *
  * Every key stages its GVT once per JVM ([[graft.Staging.memoDir]]) by
  * replaying a deterministic commit history over a fixture table, then
  * reads it back; the oracle restates the SAME final state in plain SQL
  * over the original table. Hash equality therefore proves the whole
  * chain: atomic commits, log replay, checkpointing, time travel,
  * copy-on-write delete/merge/compaction.
  */
object GvtOps {

  /** orders replayed as: v0 append (keys ≡1 mod 3), v1 append (≡2),
    * v2 append (≡0), v3 DELETE (status F ∧ key ≡0 mod 7). The delete
    * rewrites only the files that contain matching rows. */
  private def ordersGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_orders", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 1), stats)
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 2), stats)
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 0), stats)
      Gvt.delete(spark, tmp,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0, stats)
    }

  /** WRITE-AUDIT-PUBLISH: the quarterly data drop (keys ≡0 mod 4)
    * lands on a BRANCH of the table, the audit pass deletes the rows
    * failing its quality rule (≡0 mod 20 — all inside the new drop,
    * since 20 | key ⇒ 4 | key) against the branch's full state, and
    * only then does ONE atomic squash commit expose the drop to parent
    * readers — they see none of it or all of it, never a partial or
    * unaudited state. The branch shares the parent's data pool
    * (publish moves metadata, zero data bytes) and is dropped after. */
  private def wapGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_wap", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 4 =!= 0), stats)
      val b = Gvt.createBranch(tmp, "drop_q3")
      Gvt.append(spark, b, orders.filter(col("o_orderkey") % 4 === 0), stats)
      Gvt.delete(spark, b, col("o_orderkey") % 20 === 0, stats)
      Gvt.publishBranch(spark, tmp, "drop_q3")
      Gvt.dropBranch(tmp, "drop_q3")
    }

  /** The parent read after the WAP cycle: base + audited drop. */
  def gvtWap(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, wapGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** The SAME WAP cycle under DECLARED commit-time constraints: two
    * CHECKs land as metadata commits before the fork (validating the
    * existing data), the branch inherits them through its linked log
    * (its append runs the in-write `assert_true` gate), and
    * [[Gvt.publishBranch]] re-validates the branch's net adds against
    * the parent's CURRENT checks before the squash lands — the parent
    * cannot acquire a bad row through any path. Output ≡ the
    * unconstrained WAP key (the fixture data passes its checks):
    * enforcement must be invisible when nothing violates.
    * GvtConstraintSpec drives the violating paths (append refusal with
    * no commit, blocked publish, audit-then-publish recovery). */
  private def constraintsGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_constraints", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 4 =!= 0), stats)
      Gvt.addCheck(spark, tmp, "price_positive", "o_totalprice > 0")
      Gvt.addNotNull(spark, tmp, "o_orderstatus")
      val b = Gvt.createBranch(tmp, "drop_q4")
      Gvt.append(spark, b, orders.filter(col("o_orderkey") % 4 === 0), stats)
      Gvt.delete(spark, b, col("o_orderkey") % 20 === 0, stats)
      Gvt.publishBranch(spark, tmp, "drop_q4")
      Gvt.dropBranch(tmp, "drop_q4")
    }

  def gvtConstraints(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, constraintsGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** Latest-snapshot read over the 4-commit history. */
  def versionedLog(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, ordersGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** Time travel: the SAME table read `asOf = 1` must surface the state
    * before the third append and the delete ever happened. */
  def timeTravel(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, ordersGvt(spark, dir), asOf = Some(1))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** TIMESTAMP AS OF: resolve the RECORDED publish timestamp of v1 and
    * read the table at that instant — [[Gvt.versionAt]] must map it
    * back to exactly v1 (strict ts monotonicity is what makes "exactly"
    * well-defined), so the aggregate equals the version-1 time travel
    * and shares its oracle. The boundary cases (ts−1 → v0, pre-creation
    * → error) are GvtSpec's. */
  def timeTravelTs(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersGvt(spark, dir)
    Gvt.readAsOfTimestamp(spark, t, Gvt.commitAt(t, 1).ts)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")
  }

  /** Insert-key shift for the merge fixtures: `max(1000000,
    * max(c_custkey) + 1)` — at the tested SFs this IS the historical
    * 1000000 (identical fixture bytes and oracle hashes), and at SF ≳ 7
    * (where customer outgrows 10⁶ keys) the shift clears the live key
    * space so a shifted insert key can never collide with a matched
    * update key (merge's duplicate-source-key refusal would throw) —
    * r13 ADVICE. One bounded scalar aggregate, the tileBounds shape. */
  private def mergeShift(c: DataFrame): Long = {
    val r = c.agg(max("c_custkey")).head
    math.max(1000000L, (if (r.isNullAt(0)) 0L else r.getLong(0)) + 1L)
  }

  /** customer upserted with updates (≡0 mod 10: acctbal+1000, segment
    * overwritten) and inserts (≡0 mod 100, key space shifted past the
    * live keys). Only files containing a matched key get rewritten;
    * the oracle restates MERGE as src ∪ (target ∖ matched). */
  private def mergeGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_merge", dir) { tmp =>
      val c = graft.Tables(spark, dir, "customer")
      val stats = Seq("c_custkey")
      Gvt.append(spark, tmp, c, stats)
      val shift = mergeShift(c)
      val updates = c.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
          (col("c_acctbal") + 1000.0).as("c_acctbal"),
          lit("UPDATED").as("c_mktsegment"))
      val inserts = c.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + shift).as("c_custkey"),
          concat(lit("new#"), (col("c_custkey") + shift).cast("string"))
            .as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      Gvt.merge(spark, tmp, updates.unionByName(inserts), "c_custkey", stats)
    }

  def mergeInto(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, mergeGvt(spark, dir))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  /** CDC with UPDATE images over the merge commit: the upserted keys
    * (≡0 mod 10) pair into update_preimage/update_postimage by
    * c_custkey, the fresh keys (≡0 mod 100, shifted) stay inserts, and
    * the REWRITTEN-but-unchanged rows of the touched files never appear
    * — diff's row-level cancellation plus key pairing is exactly the
    * Delta CDF contract, and the oracle restates all three classes
    * directly from the customer table. */
  def cdcUpdates(spark: SparkSession, dir: String): DataFrame =
    Gvt.diffWithUpdates(spark, mergeGvt(spark, dir), 0, 1, Seq("c_custkey"))
      .select(col("change_type"), col("c_custkey"), col("c_name"),
        col("c_acctbal"), col("c_mktsegment"))
      .orderBy("change_type", "c_custkey")

  /** lineitem committed as 8 contiguous l_orderkey range tiles (one
    * file each, near-disjoint manifest stats); the read prunes to the
    * tile(s) overlapping the queried range from the MANIFEST before
    * Spark sees a file. GvtSpec asserts filesScanned << filesTotal;
    * correctness never depends on the pruning (row filter reapplied). */
  private def tilesGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_tiles", dir) { tmp =>
      val li = graft.Tables(spark, dir, "lineitem")
      val mm = li.agg(min("l_orderkey"), max("l_orderkey")).head
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      (0 until 8).foreach { i =>
        val from = lo + (hi - lo + 1) * i / 8
        val until = lo + (hi - lo + 1) * (i + 1) / 8
        Gvt.append(spark, tmp,
          li.filter(col("l_orderkey") >= from && col("l_orderkey") < until)
            .repartition(1),
          Seq("l_orderkey"))
      }
    }

  /** (qlo, qhi) = tile 4 of the l_orderkey key space — same integer
    * arithmetic the oracle SQL performs with `//`. The table's [lo, hi]
    * comes from the staged GVT's OWN manifest stats (min of file mins /
    * max of file maxes — the 8 tiles partition the full key range), a
    * metadata-only read: re-aggregating lineitem here would repeat the
    * very scan the key exists to avoid. */
  private def tileBounds(spark: SparkSession, dir: String): (Long, Long) = {
    val files = Gvt.snapshot(tilesGvt(spark, dir))
    val lo = files.flatMap(_.min.get("l_orderkey"))
      .map(_.toDouble.toLong).min
    val hi = files.flatMap(_.max.get("l_orderkey"))
      .map(_.toDouble.toLong).max
    (lo + (hi - lo + 1) * 4 / 8, lo + (hi - lo + 1) * 5 / 8 - 1)
  }

  def manifestPrune(spark: SparkSession, dir: String): DataFrame = {
    val (qlo, qhi) = tileBounds(spark, dir)
    val (df, _, _) = Gvt.readPruned(spark, tilesGvt(spark, dir),
      "l_orderkey", qlo.toDouble, qhi.toDouble)
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** The SAME pruned read, CATALYST-driven: `spark.read.format("gvt")`
    * + a plain WHERE clause — no hand-passed ranges anywhere. The DSv2
    * connector ([[GvtDataSource]]) routes the pushed filters into the
    * manifest zone-map prune inside [[GvtFileIndex.listFiles]], so the
    * scan touches 1-of-8 tile files (GvtDsv2Spec asserts both the
    * `PushedFilters` in the plan and the file count); shares
    * `scan_manifest_prune`'s oracle — both prune paths (caller-driven
    * driver list, connector) must agree exactly. */
  def gvtDsv2(spark: SparkSession, dir: String): DataFrame = {
    val (qlo, qhi) = tileBounds(spark, dir)
    spark.read.format("gvt").option("path", tilesGvt(spark, dir)).load()
      .filter(col("l_orderkey") >= qlo && col("l_orderkey") <= qhi)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** SQL-SURFACE SINK fixture ([[GvtCatalog]]): the orders aggregate
    * table built through PURE SQL — `CREATE TABLE gvt.\`dir\`` with a
    * declared `stats` clustering property, three `INSERT INTO ...
    * SELECT` loads (keys ≡1,≡2,≡0 mod 3) and one SQL `DELETE`-shaped
    * maintenance pass via the API (the ordersGvt history, re-expressed
    * through the catalog where SQL can express it). GvtCatalogSpec
    * proves SQL-written ≡ API-written byte-for-byte; this key proves
    * the END STATE against the DuckDB oracle at 3 SFs. */
  private def sqlSinkGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sqlsink", dir) { tmp =>
      val t = s"gvt.`$tmp/t`"
      graft.Tables(spark, dir, "orders").createOrReplaceTempView(
        "orders_sqlsink_src")
      spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderpriority STRING) TBLPROPERTIES ('stats'='o_orderkey')")
      Seq(1, 2, 0).foreach { m =>
        spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderstatus, " +
          "o_totalprice, o_orderpriority FROM orders_sqlsink_src " +
          s"WHERE o_orderkey % 3 = $m")
      }
      Gvt.delete(spark, s"$tmp/t",
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0,
        Seq("o_orderkey"))
    }

  /** The SQL-built table read back through SQL — shares
    * `sink_versioned_log`'s oracle restatement (the same 4-step
    * history), so hash equality proves the whole SQL write path
    * (create → analyzed inserts → clustered+statted commits → CoW
    * delete) lands the identical state. */
  def gvtSqlSink(spark: SparkSession, dir: String): DataFrame = {
    val tmp = sqlSinkGvt(spark, dir)
    spark.sql(s"SELECT o_orderstatus, count(*) AS n_orders, " +
      s"round(sum(o_totalprice), 2) AS total_price FROM gvt.`$tmp/t` " +
      "GROUP BY o_orderstatus ORDER BY o_orderstatus")
  }

  /** SQL DML fixture: the DV-delete key's curation, through pure SQL —
    * CTAS from customer, then two `DELETE FROM ... WHERE` statements
    * riding [[GvtTable]]'s `SupportsDelete` (the same copy-on-write
    * [[Gvt.delete]] pipeline, file-granular rewrite, atomic publish).
    * Shares `etl_gvt_dv_delete`'s oracle: SQL CoW delete ≡ API MoR
    * delete ≡ the plain predicate — three delete mechanisms, one
    * hash. */
  private def sqlDeleteGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sqldel", dir) { tmp =>
      val t = s"gvt.`$tmp/t`"
      graft.Tables(spark, dir, "customer")
        .createOrReplaceTempView("customer_sqldel_src")
      spark.sql(s"CREATE TABLE $t TBLPROPERTIES ('stats'='c_custkey') " +
        "AS SELECT * FROM customer_sqldel_src")
      spark.sql(s"DELETE FROM $t WHERE c_acctbal < 0")
      spark.sql(s"DELETE FROM $t WHERE c_mktsegment = 'BUILDING'")
    }

  def gvtSqlDelete(spark: SparkSession, dir: String): DataFrame = {
    val tmp = sqlDeleteGvt(spark, dir)
    spark.sql("SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
      s"FROM gvt.`$tmp/t` ORDER BY c_custkey")
  }

  /** SQL DDL fixture: the column-mapping history, through pure SQL —
    * `ALTER TABLE ... RENAME COLUMN` / `DROP COLUMN` between SQL
    * INSERTs ([[GvtCatalog.alterTable]] → the same metadata-only
    * schema commits; no data file rewritten). Reads both eras via the
    * connector's time travel and shares `scan_gvt_colmap`'s oracle —
    * the SQL DDL surface must land the identical version-local-schema
    * history the API does. */
  private def sqlDdlGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sqlddl", dir) { tmp =>
      val t = s"gvt.`$tmp/t`"
      graft.Tables(spark, dir, "orders")
        .createOrReplaceTempView("orders_sqlddl_src")
      spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE, " +
        "o_orderpriority STRING) TBLPROPERTIES ('stats'='o_orderkey')")
      def insert(m: Int, price: String): Unit =
        spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderstatus, " +
          s"o_totalprice AS $price, o_orderpriority FROM " +
          s"orders_sqlddl_src WHERE o_orderkey % 3 = $m")
      insert(1, "o_totalprice") // v1
      spark.sql(s"ALTER TABLE $t RENAME COLUMN o_totalprice TO price_usd")
      insert(2, "price_usd") // v3
      spark.sql(s"ALTER TABLE $t DROP COLUMN o_orderpriority")
      spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderstatus, " +
        "o_totalprice AS price_usd FROM orders_sqlddl_src " +
        "WHERE o_orderkey % 3 = 0") // v5
    }

  def gvtSqlDdl(spark: SparkSession, dir: String): DataFrame = {
    val t = s"${sqlDdlGvt(spark, dir)}/t"
    // era v1: the first insert under the ORIGINAL names
    val v0 = spark.read.format("gvt").option("path", t)
      .option("versionAsOf", "1").load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"),
        countDistinct("o_orderpriority").as("n_prios"))
      .select(lit("v0").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), col("n_prios"))
    val head = spark.read.format("gvt").option("path", t).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("price_usd"), 2).as("total_price"))
      .select(lit("head").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), lit(0L).as("n_prios"))
    v0.unionByName(head).orderBy("era", "o_orderstatus")
  }

  /** SQL DML fixture: UPDATE through the catalog — CTAS from customer,
    * then two `UPDATE ... SET ... WHERE` statements lowered by
    * [[RewriteGvtDml]] onto [[Gvt.updateWhere]] (one atomic CoW commit
    * each, only matched files rewritten, simultaneous-assignment SQL
    * semantics, CHECK constraints re-run in-write). The second UPDATE's
    * WHERE reads a column the first one wrote — commit ordering is
    * load-bearing, so the oracle's CASE restatement proves both commits
    * landed in sequence. */
  private def sqlUpdateGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sqlupd", dir) { tmp =>
      val t = s"gvt.`$tmp/t`"
      graft.Tables(spark, dir, "customer")
        .createOrReplaceTempView("customer_sqlupd_src")
      spark.sql(s"CREATE TABLE $t TBLPROPERTIES ('stats'='c_custkey') " +
        "AS SELECT * FROM customer_sqlupd_src")
      spark.sql(s"UPDATE $t SET c_acctbal = c_acctbal + 1000, " +
        "c_mktsegment = 'UPDATED' WHERE c_custkey % 10 = 0")
      spark.sql(s"UPDATE $t SET c_acctbal = -c_acctbal " +
        "WHERE c_mktsegment = 'BUILDING'")
    }

  def gvtSqlUpdate(spark: SparkSession, dir: String): DataFrame = {
    val tmp = sqlUpdateGvt(spark, dir)
    spark.sql("SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
      s"FROM gvt.`$tmp/t` ORDER BY c_custkey")
  }

  /** SQL DML fixture: the canonical MERGE upsert through pure SQL —
    * the `etl_merge_into` history (updates ≡0 mod 10, shifted inserts
    * ≡0 mod 100) re-expressed as `MERGE INTO ... WHEN MATCHED THEN
    * UPDATE SET * WHEN NOT MATCHED THEN INSERT *`, lowered by
    * [[RewriteGvtDml]] onto [[Gvt.merge]] (file-granular
    * prune-probe-rewrite, duplicate-source-key cardinality refusal).
    * Shares `etl_merge_into`'s oracle: SQL MERGE ≡ API merge, one
    * hash. */
  private def sqlMergeGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sqlmerge", dir) { tmp =>
      val t = s"gvt.`$tmp/t`"
      val c = graft.Tables(spark, dir, "customer")
      c.createOrReplaceTempView("customer_sqlmerge_src")
      // same max-derived shift as the API twin (see mergeShift) —
      // 1000000 at the tested SFs, collision-free at every SF
      val shift = mergeShift(c)
      spark.sql(s"CREATE TABLE $t TBLPROPERTIES ('stats'='c_custkey') " +
        "AS SELECT * FROM customer_sqlmerge_src")
      spark.sql(s"MERGE INTO $t t USING (" +
        "SELECT c_custkey, c_name, c_nationkey, " +
        "c_acctbal + 1000 AS c_acctbal, 'UPDATED' AS c_mktsegment " +
        "FROM customer_sqlmerge_src WHERE c_custkey % 10 = 0 " +
        "UNION ALL " +
        s"SELECT c_custkey + $shift AS c_custkey, " +
        s"concat('new#', CAST(c_custkey + $shift AS STRING)) AS c_name, " +
        "c_nationkey, c_acctbal, c_mktsegment " +
        "FROM customer_sqlmerge_src WHERE c_custkey % 100 = 0) s " +
        "ON t.c_custkey = s.c_custkey " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")
    }

  def gvtSqlMerge(spark: SparkSession, dir: String): DataFrame = {
    val tmp = sqlMergeGvt(spark, dir)
    spark.sql("SELECT c_custkey, c_name, c_acctbal, c_mktsegment " +
      s"FROM gvt.`$tmp/t` ORDER BY c_custkey")
  }

  /** TIMESTAMP zone-map pruning fixture: orders committed as per-year
    * `o_orderdate` tiles (1995..2001 — the fixture's date span — one
    * file per year, stats on the TIMESTAMP column as the write-side
    * cast strings). The production shape of every time-partitioned
    * fact table: date ranges are the #1 pruning predicate at 100 TB. */
  private def tsTilesGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_tstiles", dir) { tmp =>
      val o = graft.Tables(spark, dir, "orders")
      (1995 to 2001).foreach { y =>
        Gvt.append(spark, tmp,
          o.filter(year(col("o_orderdate")) === y).repartition(1),
          Seq("o_orderdate"))
      }
    }

  /** TIMESTAMP-predicate pruning through the connector: a plain WHERE
    * on `o_orderdate` — no hand-passed ranges — prunes to the 1996
    * tile plus its right boundary file from the CHRONO zone-map rule
    * (lexicographic over the fixed-format stat strings ≡
    * chronological; GvtDsv2Spec asserts ≤2-of-7 files read). The
    * pre-r12 numeric-only rule kept all 7 (`"1996-…".toDouble` threw →
    * file kept). Correctness never rides the prune — the row filter
    * reapplies in the scan, and the oracle restates the range over the
    * original table. */
  def gvtPruneTs(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gvt").option("path", tsTilesGvt(spark, dir)).load()
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderpriority")

  /** Pruning stats for GvtSpec (scanned vs total file counts). */
  def manifestPruneStats(spark: SparkSession, dir: String): (Int, Int) = {
    val (qlo, qhi) = tileBounds(spark, dir)
    val (_, scanned, total) = Gvt.readPruned(spark, tilesGvt(spark, dir),
      "l_orderkey", qlo.toDouble, qhi.toDouble)
    (scanned, total)
  }

  /** Z-ORDER × VERSIONED TABLE: lineitem clustered by the Morton
    * interleave of (l_partkey % 256, l_suppkey % 256) and committed as
    * z-range tiles, with manifest stats on BOTH dimensions — each file's
    * (px, sx) min/max is a tight 2-D box (the Morton quadrant
    * property), so [[Gvt.readPrunedMulti]] skips files on a BOX
    * predicate from the commit log alone: multi-dimensional data
    * skipping (Delta/Iceberg Z-ORDER) with no directory listing and no
    * footer reads. The box below is one 64×64 Morton quadrant chosen
    * nonempty at every SF (sx stays low because sf0.001 has only 10
    * suppliers); GvtSpec asserts the 2-D prune keeps ≤2 files and
    * strictly fewer than the 1-D px-only prune. */
  private def zorderGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_z", dir) { tmp =>
      val li = graft.Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_returnflag"),
          (col("l_partkey") % 256).as("px"), (col("l_suppkey") % 256).as("sx"))
        .withColumn("z", expr(graft.operators.Scans.mortonSpark("px", "sx")))
      // 16 fixed Morton tiles of 4096 z-values = a 4x4 grid of 64x64
      // (px, sx) boxes; empty tiles (small SFs cover few suppliers)
      // are skipped rather than committed as empty files
      (0 until 16).foreach { i =>
        val tile = li.filter(col("z") >= i * 4096 && col("z") < (i + 1) * 4096)
        if (!tile.isEmpty)
          Gvt.append(spark, tmp, tile, Seq("px", "sx"))
      }
    }

  def gvtZorder(spark: SparkSession, dir: String): DataFrame = {
    val (df, _, _) = Gvt.readPrunedMulti(spark, zorderGvt(spark, dir),
      Seq(("px", 64.0, 127.0), ("sx", 0.0, 63.0)))
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** (kept2D, kept1D-px-only, total) for GvtSpec's skipping assertions. */
  def gvtZorderStats(spark: SparkSession, dir: String): (Int, Int, Int) = {
    val t = zorderGvt(spark, dir)
    val (_, kept2d, total) = Gvt.readPrunedMulti(spark, t,
      Seq(("px", 64.0, 127.0), ("sx", 0.0, 63.0)))
    val (_, kept1d, _) = Gvt.readPrunedMulti(spark, t,
      Seq(("px", 64.0, 127.0)))
    (kept2d, kept1d, total)
  }

  /** 12 tiny single-file commits bin-packed to 2 files in one atomic
    * commit; the read-back proves content survives compaction bit-exact. */
  private def compactGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_compact", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      (0 until 12).foreach { i =>
        Gvt.append(spark, tmp,
          orders.filter(col("o_orderkey") % 12 === i).repartition(1), stats)
      }
      Gvt.compact(spark, tmp, smallRows = Long.MaxValue, targetFiles = 2,
        statsCols = stats)
    }

  /** Lifecycle end: 12 tiny commits, compacted, then VACUUMED at the
    * compaction version — old data files physically deleted, pre-floor
    * log docs dropped, retention floor recorded. The latest state must
    * read back identical to the plain table (oracle = sink_compaction's)
    * even though most of the history's bytes are gone; GvtSpec asserts
    * the physical file counts and that pre-floor time travel now fails
    * loudly at snapshot resolution, not at the parquet reader. */
  private def vacuumGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_vac", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      (0 until 12).foreach { i =>
        Gvt.append(spark, tmp,
          orders.filter(col("o_orderkey") % 12 === i).repartition(1), stats)
      }
      val v = Gvt.compact(spark, tmp, smallRows = Long.MaxValue,
        targetFiles = 2, statsCols = stats)
      // graceMs = 0: single-writer staging, no commit can be in flight
      Gvt.vacuum(tmp, retainFrom = v, graceMs = 0L)
    }

  def gvtVacuum(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, vacuumGvt(spark, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderpriority")

  /** Schema evolution across commits: v0 lacks `c_tier`; v1 adds it.
    * The merge-on-read snapshot back-fills null for pre-evolution rows
    * — history is never rewritten. Oracle restates the CASE split. */
  private def evoGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_evo", dir) { tmp =>
      val c = graft.Tables(spark, dir, "customer")
      val stats = Seq("c_custkey")
      Gvt.append(spark, tmp,
        c.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment")),
        stats)
      Gvt.append(spark, tmp,
        c.filter(col("c_custkey") % 2 =!= 0)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
            (col("c_custkey") % 3).as("c_tier")),
        stats)
    }

  def gvtSchemaEvo(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, evoGvt(spark, dir))
      .select("c_custkey", "c_name", "c_mktsegment", "c_tier")
      .orderBy("c_custkey")

  /** EXACTLY-ONCE STREAMING SINK: a real micro-batch stream (parquet
    * file source, Trigger.AvailableNow) lands in a GVT via
    * [[Gvt.appendTxn]] with `"orders-$batchId"` as the idempotence
    * token. The staging then SIMULATES the failure mode transactional
    * sinks exist for — it re-delivers batch 0's data under the same
    * txn id — and the duplicate is refused by the log, so the table
    * holds each batch exactly once. The oracle is the plain orders
    * aggregate: hash equality proves no row was lost OR duplicated
    * across delivery + redelivery. */
  private def streamSinkGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_stream", dir) { tmp =>
      val schema = graft.Tables(spark, dir, "orders").schema
      val stats = Seq("o_orderkey")
      val q = spark.readStream.schema(schema)
        .option("pathGlobFilter", "orders.parquet")
        .parquet(dir)
        .writeStream
        .option("checkpointLocation",
          graft.Staging.fastTempDir("gvt_sink_ckpt"))
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
              batchId: Long) =>
            Gvt.appendTxn(spark, tmp, batch.toDF(), stats, s"orders-$batchId")
            () // Unit: the (DataFrame, Long) => Unit overload
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // redelivery: same txn id, same payload — MUST be a no-op
      val dup = Gvt.appendTxn(spark, tmp,
        graft.Tables(spark, dir, "orders"), stats, "orders-0")
      require(dup.isEmpty, s"redelivered batch committed twice: $dup")
    }

  /** VERSIONED CORPUS CURATION — the training-data loop GVT exists for:
    * v0 commits the raw documents table; v1 DELETEs quality failures
    * (too short / oversized); v2 DELETEs exact-duplicate losers (every
    * doc whose text also appears under a smaller doc_id). Each curation
    * pass is an auditable commit: time travel reproduces the exact
    * corpus any past training run saw, and the change feed lists
    * precisely which documents each pass removed. The final state is
    * restated by the oracle as one SQL predicate over `documents`, so
    * hash equality proves the two copy-on-write deletes compose to the
    * intended curation semantics. */
  private def corpusGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_corpus", dir) { tmp =>
      val docs = graft.Tables(spark, dir, "documents")
      val stats = Seq("doc_id")
      Gvt.append(spark, tmp, docs, stats)
      Gvt.delete(spark, tmp,
        col("n_chars") < 64 || col("n_chars") > 8192, stats)
      // exact-dup losers: same text, larger doc_id (min-id survives) —
      // the loser set is a Spark job over the CURRENT snapshot and goes
      // straight into the distributed delete-by-join; no driver-side
      // key materialization anywhere
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("text").orderBy("doc_id")
      val losers = Gvt.read(spark, tmp)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select("doc_id")
      Gvt.deleteKeys(spark, tmp, losers, "doc_id", stats)
    }

  /** GVT-BACKED INCREMENTAL MATERIALIZED VIEW — the full lakehouse IVM
    * loop, every step distributed: the summary lives in its OWN GVT
    * table (versioned like any dataset); each fact commit's change feed
    * ([[Gvt.diff]]) is aggregated to a per-group delta (integer-cents
    * states ⇒ the fold is exact and order-independent, §5.3); touched
    * groups are upserted via [[Gvt.merge]] and groups whose count hits
    * zero are REMOVED via [[Gvt.deleteKeys]] (the correctness corner
    * plain upserts miss — a retracted group must disappear, not linger
    * at zero). Cost per refresh ∝ churn, never fact size, and the view's
    * own history is time-travelable — "what did the dashboard say before
    * yesterday's load" is a read, not an investigation. The oracle is
    * the DIRECT aggregate of the fact's final state: hash equality
    * proves feed-fold-into-versioned-summary ≡ recompute. */
  /** Fold the fact's commits into the summary GVT at `viewDir`.
    * `fromVersion` None seeds the view with the fact's v0 state, then
    * folds (0, head]; `Some(v)` resumes a view that already holds the
    * fact at version v and folds only (v, head] — the caller tracks its
    * own watermark (in production it would ride the view's commit txn).
    * Extracted so GvtSpec drives it on a synthetic history whose delete
    * WIPES OUT an entire group — the dead-group removal path the
    * fixture never hits. */
  private[graft] def refreshSummary(spark: SparkSession, factDir: String,
      viewDir: String, fromVersion: Option[Int] = None): Unit = {
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    def stateOf(df: DataFrame): DataFrame = df
      .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("c"))
      .groupBy("o_orderstatus")
      .agg(sum("w").as("n_orders"), sum("c").as("sum_cents"))
    if (fromVersion.isEmpty)
      Gvt.append(spark, viewDir, stateOf(Gvt.read(spark, factDir, Some(0))),
        Seq("o_orderstatus"))
    val head = Gvt.latestVersion(factDir)
    (fromVersion.getOrElse(0) until head).foreach { v =>
      val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
      val delta = Gvt.diff(spark, factDir, v, v + 1)
        .select(col("o_orderstatus"), sign.as("w"), (sign * cents).as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("dw"), sum("c").as("dc"))
      val current = Gvt.read(spark, viewDir)
      val folded = current.join(delta, Seq("o_orderstatus"), "full_outer")
        .select(col("o_orderstatus"),
          (coalesce(col("n_orders"), lit(0L))
            + coalesce(col("dw"), lit(0L))).as("n_orders"),
          (coalesce(col("sum_cents"), lit(0L))
            + coalesce(col("dc"), lit(0L))).as("sum_cents"))
      // only groups the delta touches change; dead groups are deleted,
      // live ones upserted — both by the group key, both distributed
      val touched = folded
        .join(delta.select("o_orderstatus"), Seq("o_orderstatus"), "left_semi")
      val dead = touched.filter(col("n_orders") <= 0)
        .select("o_orderstatus")
      if (!dead.isEmpty)
        Gvt.deleteKeys(spark, viewDir, dead, "o_orderstatus",
          Seq("o_orderstatus"))
      val live = touched.filter(col("n_orders") > 0)
      Gvt.merge(spark, viewDir, live, "o_orderstatus", Seq("o_orderstatus"))
    }
  }

  /** COLUMN MAPPING fixture: a 5-commit history interleaving data and
    * schema commits — append (%3≡1) → RENAME o_totalprice→price_usd →
    * append (%3≡2, written with the NEW logical name; physically the
    * file stores the stable original name) → DROP o_orderpriority →
    * append (%3≡0, without it in its logical schema). No data file is ever
    * rewritten by the schema commits (GvtColMapSpec asserts byte
    * identity); every version reads under ITS OWN names. */
  private def colMapGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_colmap", dir) { tmp =>
      val o = graft.Tables(spark, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice",
          "o_orderpriority")
      val stats = Seq("o_orderkey")
      Gvt.append(spark, tmp, o.filter(col("o_orderkey") % 3 === 1), stats)
      Gvt.renameColumn(spark, tmp, "o_totalprice", "price_usd")
      Gvt.append(spark, tmp,
        o.filter(col("o_orderkey") % 3 === 2)
          .withColumnRenamed("o_totalprice", "price_usd"), stats)
      Gvt.dropColumn(spark, tmp, "o_orderpriority")
      Gvt.append(spark, tmp,
        o.filter(col("o_orderkey") % 3 === 0)
          .withColumnRenamed("o_totalprice", "price_usd")
          .drop("o_orderpriority"), stats)
    }

  /** Two eras of the SAME table under their own schemas: version 0
    * aggregates its o_totalprice (pre-rename name, o_orderpriority
    * still live), the head aggregates price_usd over all three appends
    * with o_orderpriority gone. Hash proves reads resolve by version-local
    * mapping state — renames/drops never rewrote history and never
    * leaked across versions. */
  def gvtColMap(spark: SparkSession, dir: String): DataFrame = {
    val t = colMapGvt(spark, dir)
    val v0 = Gvt.read(spark, t, asOf = Some(0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"),
        countDistinct("o_orderpriority").as("n_prios"))
      .select(lit("v0").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), col("n_prios"))
    val head = Gvt.read(spark, t)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("price_usd"), 2).as("total_price"))
      .select(lit("head").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), lit(0L).as("n_prios"))
    v0.unionByName(head).orderBy("era", "o_orderstatus")
  }

  /** The SAME two-era mapped read through the DSv2 connector (r12 —
    * the r11 refusal removed): the head load serves LOGICAL names
    * (price_usd; o_orderpriority gone) by re-reporting the stock
    * scan's schema, `versionAsOf 0` serves that version's OWN
    * pre-rename names — both from the same physically-named files.
    * Shares `scan_gvt_colmap`'s oracle, hash-exact. */
  def gvtDsv2ColMap(spark: SparkSession, dir: String): DataFrame = {
    val t = colMapGvt(spark, dir)
    def load(v: Option[Int]): DataFrame = {
      val r = spark.read.format("gvt").option("path", t)
      v.map(x => r.option("versionAsOf", x.toString)).getOrElse(r).load()
    }
    val v0 = load(Some(0))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"),
        countDistinct("o_orderpriority").as("n_prios"))
      .select(lit("v0").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), col("n_prios"))
    val head = load(None)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("price_usd"), 2).as("total_price"))
      .select(lit("head").as("era"), col("o_orderstatus"), col("n_orders"),
        col("total_price"), lit(0L).as("n_prios"))
    v0.unionByName(head).orderBy("era", "o_orderstatus")
  }

  /** CROSS-TABLE ATOMIC PUBLISH fixture: a fact table and its summary
    * table updated through [[GvtTxn]] — txn 0 lands the base fact AND
    * its aggregate in ONE atomic pin; txn 1 lands a fact delta + the
    * merge-refreshed summary the same way; then a CRASH is simulated (a
    * fact append whose txn doc never lands — the writer died between
    * the table commit and the pointer swing). The poison commit exists
    * in the fact's own log but no txn version pins it. */
  private def txnMultiGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_txnm", dir) { tmp =>
      val fact = s"$tmp/fact"
      val summary = s"$tmp/summary"
      val orders = graft.Tables(spark, dir, "orders")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      def stateOf(df: DataFrame): DataFrame = df
        .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("n_orders"), sum("c").as("sum_cents"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      GvtTxn.commit(spark, tmp, Seq(
        (fact, base, Seq("o_orderkey")),
        (summary, stateOf(base), Seq("o_orderstatus"))))
      val delta = orders.filter(col("o_orderkey") % 3 === 0)
      val vFact = Gvt.append(spark, fact, delta, Seq("o_orderkey"))
      val vSum = Gvt.merge(spark, summary,
        stateOf(Gvt.read(spark, fact, Some(vFact))),
        "o_orderstatus", Seq("o_orderstatus"))
      GvtTxn.publish(tmp, Map(fact -> vFact, summary -> vSum))
      // the crash: table commit landed, txn doc did not
      Gvt.append(spark, fact,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)),
        Seq("o_orderkey"))
    }

  /** Both sides of the invariant at EVERY readable txn version: for
    * v ∈ {0, 1}, the summary read through the txn view and the direct
    * aggregate of the fact read through the SAME view. Hash equality
    * with the oracle (which restates both sides from the original
    * orders rows per version) proves fact ≡ summary at every version
    * AND that the crashed half-transaction (poison fact commit, txn
    * doc never landed) is invisible — were it visible, the v1 fact
    * aggregate would carry the poison rows and the hash would split. */
  def gvtTxnMulti(spark: SparkSession, dir: String): DataFrame = {
    val tmp = txnMultiGvt(spark, dir)
    val fact = s"$tmp/fact"
    val summary = s"$tmp/summary"
    val sides = (0 to 1).flatMap { v =>
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val f = GvtTxn.read(spark, tmp, fact, Some(v))
        .select(col("o_orderstatus"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (sum("c").cast("double") / 100).as("total_price"))
        .select(lit(v).as("txn_version"), lit("fact_agg").as("side"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
      val s = GvtTxn.read(spark, tmp, summary, Some(v))
        .select(lit(v).as("txn_version"), lit("summary").as("side"),
          col("o_orderstatus"), col("n_orders"),
          (col("sum_cents").cast("double") / 100).as("total_price"))
      Seq(f, s)
    }
    sides.reduce(_.unionByName(_))
      .orderBy("txn_version", "side", "o_orderstatus")
  }

  /** CROSS-TABLE WAP fixture ([[GvtTxn.publishBranches]]): txn 0 lands
    * base fact (keys ≢0 mod 4) + its summary atomically; the quarterly
    * drop then lands on BRANCHES of both tables — fact branch gets the
    * ≡0 mod 4 keys and the audit deletes the ≡0 mod 20 casualties,
    * summary branch is OVERWRITTEN with the recompute of the branch
    * fact state — and ONE call squashes both branches into their
    * parents and links txn doc 1. A crash is then simulated the other
    * way: a THIRD branch cycle publishes to the fact parent but its
    * txn doc never lands (the writer died after the squash) — that
    * parent version is invisible through the view. */
  private def txnWapGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_txnwap", dir) { tmp =>
      val fact = s"$tmp/fact"
      val summary = s"$tmp/summary"
      val orders = graft.Tables(spark, dir, "orders")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      def stateOf(df: DataFrame): DataFrame = df
        .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("n_orders"), sum("c").as("sum_cents"))
      val base = orders.filter(col("o_orderkey") % 4 =!= 0)
      GvtTxn.commit(spark, tmp, Seq(
        (fact, base, Seq("o_orderkey")),
        (summary, stateOf(base), Seq("o_orderstatus"))))
      // the audited drop, staged on branches of BOTH tables
      val fb = Gvt.createBranch(fact, "drop_q")
      val sb = Gvt.createBranch(summary, "drop_q")
      Gvt.append(spark, fb, orders.filter(col("o_orderkey") % 4 === 0),
        Seq("o_orderkey"))
      Gvt.delete(spark, fb, col("o_orderkey") % 20 === 0, Seq("o_orderkey"))
      Gvt.overwrite(spark, sb, stateOf(Gvt.read(spark, fb)),
        Seq("o_orderstatus"))
      GvtTxn.publishBranches(spark, tmp,
        Seq((fact, "drop_q"), (summary, "drop_q")))
      Gvt.dropBranch(fact, "drop_q")
      Gvt.dropBranch(summary, "drop_q")
      // the crash: a fact-only branch squash whose txn doc never lands
      val fb2 = Gvt.createBranch(fact, "poison")
      Gvt.append(spark, fb2,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)),
        Seq("o_orderkey"))
      Gvt.publishBranch(spark, fact, "poison")
      Gvt.dropBranch(fact, "poison")
    }

  /** Both sides of the invariant at both txn versions (the
    * [[gvtTxnMulti]] shape): summary-through-view ≡
    * fact-aggregate-through-view at v0 (base) and v1 (base + audited
    * drop), with the unpinned poison publish invisible — the oracle
    * restates all four quadrants from the original rows. */
  def gvtTxnWap(spark: SparkSession, dir: String): DataFrame = {
    val tmp = txnWapGvt(spark, dir)
    val fact = s"$tmp/fact"
    val summary = s"$tmp/summary"
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val sides = (0 to 1).flatMap { v =>
      val f = GvtTxn.read(spark, tmp, fact, Some(v))
        .select(col("o_orderstatus"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (sum("c").cast("double") / 100).as("total_price"))
        .select(lit(v).as("txn_version"), lit("fact_agg").as("side"),
          col("o_orderstatus"), col("n_orders"), col("total_price"))
      val s = GvtTxn.read(spark, tmp, summary, Some(v))
        .select(lit(v).as("txn_version"), lit("summary").as("side"),
          col("o_orderstatus"), col("n_orders"),
          (col("sum_cents").cast("double") / 100).as("total_price"))
      Seq(f, s)
    }
    sides.reduce(_.unionByName(_))
      .orderBy("txn_version", "side", "o_orderstatus")
  }

  private def mvRefreshGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_mvr", dir) { tmp =>
      // staged once per JVM; read-only use of the shared fact history
      refreshSummary(spark, ordersGvt(spark, dir), tmp)
    }

  def gvtMvRefresh(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, mvRefreshGvt(spark, dir))
      .select(col("o_orderstatus"), col("n_orders"),
        (col("sum_cents").cast("double") / 100).as("total_price"))
      .orderBy("o_orderstatus")

  /** RESTORE (instant rollback): the orders history (3 appends + a
    * delete) rolled back to version 1 by ONE metadata commit — no data
    * I/O at any table size, history preserved above the restore point
    * (GvtSpec asserts zero new data files, post-restore time travel to
    * the undone head, and that the change feed across the restore lists
    * exactly the undone rows). Shares scan_time_travel's oracle: the
    * restored state must hash-equal the v1 snapshot. */
  private def restoreGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_restore", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 1), stats)
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 2), stats)
      Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 3 === 0), stats)
      Gvt.delete(spark, tmp,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0, stats)
      Gvt.restore(spark, tmp, toVersion = 1)
    }

  def gvtRestore(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, restoreGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** MERGE-ON-READ DELETES: customer committed once, then two
    * deletion-vector passes (negative balances, then the BUILDING
    * segment among the survivors) — NO data file is rewritten; the
    * vectors are parquet sidecars and every read applies them by
    * anti-join on (file, row_index). GvtSpec asserts the data files are
    * byte-identical across both deletes (the MoR contract: delete cost
    * ∝ rows deleted, not rows living) and that CDC sees DV deletes. The
    * oracle restates the final state as one predicate — hash equality
    * proves vector semantics ≡ row deletion. */
  private def dvGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_dv", dir) { tmp =>
      val c = graft.Tables(spark, dir, "customer")
      Gvt.append(spark, tmp, c, Seq("c_custkey"))
      Gvt.deleteWhereDV(spark, tmp, col("c_acctbal") < 0)
      Gvt.deleteWhereDV(spark, tmp, col("c_mktsegment") === "BUILDING")
    }

  def gvtDvDelete(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, dvGvt(spark, dir))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  /** The SAME MoR snapshot through the DSv2 connector (r12 — the r11
    * refusal removed): [[GvtScan]] rides the stock parquet scan plus
    * the row-index column, and the per-file broadcast position map
    * drops the vectors' rows at the reader. Shares
    * `etl_gvt_dv_delete`'s oracle — connector ≡ library DV anti-join,
    * hash-exact. */
  def gvtDsv2Dv(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gvt").option("path", dvGvt(spark, dir)).load()
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  /** The SAME MoR snapshot forced onto the PER-TASK sidecar-fetch
    * regime (`dvMode=fetch` — the 10⁷-position scale path, r13): each
    * scan task point-reads its files' position slices from the sorted
    * sidecar parquet; no position map is ever driver-resident. Shares
    * the same oracle as the broadcast-regime and library keys — three
    * DV mechanisms, one hash. */
  def gvtDsv2DvFetch(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("gvt").option("path", dvGvt(spark, dir))
      .option("dvMode", "fetch").load()
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  /** SERIALIZED cross-table transactions fixture
    * ([[GvtTxn.commitSerialized]], r13): three serialized txns land the
    * orders slices (keys ≡1, ≡2, ≡0 mod 3) on a fact table, each with
    * its per-status aggregate delta on a summary table — then a CRASH
    * is simulated mid-history (a fact append whose doc never links)
    * BEFORE the last txn, which must roll the poison back to the
    * pinned floor and land cleanly. The oracle restates the full
    * orders aggregate twice (fact side ≡ summary side): a leaked
    * poison row, a lost slice, or a half-visible txn all split the
    * hash. */
  private def txnSerialGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_txns", dir) { tmp =>
      val fact = s"$tmp/fact"
      val summary = s"$tmp/summary"
      val orders = graft.Tables(spark, dir, "orders")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      def deltaOf(df: DataFrame): DataFrame = df
        .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("n_orders"), sum("c").as("sum_cents"))
      def txn(m: Int): Unit = {
        val slice = orders.filter(col("o_orderkey") % 3 === m)
        GvtTxn.commitSerialized(spark, tmp, Seq(fact, summary),
          _ => Seq(
            (fact, slice, Seq("o_orderkey")),
            (summary, deltaOf(slice), Seq("o_orderstatus"))),
          staleMs = 1000L)
        ()
      }
      txn(1); txn(2)
      // the crash: a poison fact append lands, its doc never links
      Gvt.append(spark, fact,
        orders.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(1000000000L)),
        Seq("o_orderkey"))
      txn(0) // must restore the poison away, then land
    }

  /** Fact aggregate ≡ summary fold at the head doc — both sides must
    * equal the direct orders restatement (so the rolled-back poison
    * rows appear in NEITHER, and all three serialized txns are whole). */
  def gvtTxnSerial(spark: SparkSession, dir: String): DataFrame = {
    val tmp = txnSerialGvt(spark, dir)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val f = GvtTxn.read(spark, tmp, s"$tmp/fact")
      .select(col("o_orderstatus"), cents.as("c"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        (sum("c").cast("double") / 100).as("total_price"))
      .select(lit("fact_agg").as("side"), col("o_orderstatus"),
        col("n_orders"), col("total_price"))
    val s = GvtTxn.read(spark, tmp, s"$tmp/summary")
      .groupBy("o_orderstatus")
      .agg(sum("n_orders").as("n_orders"),
        (sum("sum_cents").cast("double") / 100).as("total_price"))
      .select(lit("summary").as("side"), col("o_orderstatus"),
        col("n_orders"), col("total_price"))
    f.unionByName(s).orderBy("side", "o_orderstatus")
  }

  /** MIXED-OP SERIALIZED transaction fixture
    * ([[GvtTxn.commitSerializedOps]], r14 — the general form the r13
    * keys left undeclared): ONE serialized doc carries a MERGE on the
    * fact (keys ≡0 mod 10 get o_totalprice + 100) AND a DELETE on the
    * summary (the 'P' status row) — the real pipeline shape "upsert
    * the fact, retire the stale rollup rows" as one atomic pin. A
    * CRASH is injected first (a poison fact append whose doc never
    * links), which the mixed txn's settled walk must roll back before
    * its ops run. The oracle restates both sides directly from orders:
    * a leaked poison row, a half-applied merge, an un-deleted summary
    * row, or a half-visible txn all split the hash. */
  private def txnSerialOpsGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_txnops", dir) { tmp =>
      val fact = s"$tmp/fact"
      val summary = s"$tmp/summary"
      val orders = graft.Tables(spark, dir, "orders")
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val summ = orders
        .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("n_orders"), sum("c").as("sum_cents"))
      // txn 1: seed fact + summary as one serialized transaction
      GvtTxn.commitSerialized(spark, tmp, Seq(fact, summary),
        _ => Seq(
          (fact, orders, Seq("o_orderkey")),
          (summary, summ, Seq("o_orderstatus"))),
        staleMs = 1000L)
      // the crash: a poison fact append lands, its doc never links
      Gvt.append(spark, fact,
        orders.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L)),
        Seq("o_orderkey"))
      // txn 2: the MIXED doc — merge the fact, delete from the summary;
      // every op carries the attempt token (the authorship contract)
      val updates = orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 100.0)
      GvtTxn.commitSerializedOps(spark, tmp, Seq(fact, summary),
        (_, token) => Seq(
          fact -> (() => Gvt.merge(spark, fact, updates,
            "o_orderkey", Seq("o_orderkey"), txn = token)),
          summary -> (() => Gvt.delete(spark, summary,
            col("o_orderstatus") === "P", Seq("o_orderstatus"),
            txn = token))),
        staleMs = 1000L)
      ()
    }

  /** Fact aggregate (post-merge prices) + surviving summary rows at
    * the head doc — both restated directly from orders by the oracle,
    * so the poison rollback, the merge, and the delete must ALL be
    * exactly visible through the one pinned view. */
  def gvtTxnSerialOps(spark: SparkSession, dir: String): DataFrame = {
    val tmp = txnSerialOpsGvt(spark, dir)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val f = GvtTxn.read(spark, tmp, s"$tmp/fact")
      .select(col("o_orderstatus"), cents.as("c"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        (sum("c").cast("double") / 100).as("total_price"))
      .select(lit("fact_agg").as("side"), col("o_orderstatus"),
        col("n_orders"), col("total_price"))
    val s = GvtTxn.read(spark, tmp, s"$tmp/summary")
      .select(lit("summary").as("side"), col("o_orderstatus"),
        col("n_orders"),
        (col("sum_cents").cast("double") / 100).as("total_price"))
    f.unionByName(s).orderBy("side", "o_orderstatus")
  }

  /** COORDINATOR-LOG VACUUM, driver-verified (r15 — the table log's
    * vacuum has been oracle-checked since `sink_gvt_vacuum`; this
    * closes the txn log's gap, and through the AUTO-VACUUM policy
    * rather than a manual call, so the policy itself is what the
    * driver verifies): 14 cross-table transactions land orders slices
    * (keys ≡i mod 14) with `spark.graft.gvt.txnRetain = 4` set — the
    * publish path itself must vacuum as the retained span crosses 2R
    * (fires at doc 8 → floor 4, doc 12 → floor 8), with NO manual
    * vacuum anywhere. The read-back aggregates the head view AND the
    * pinned view at txn 9 = head−retain, the oldest version the policy
    * contract guarantees retained — resolving 9 anchors on the
    * vacuum-created checkpoint at the floor, so a leaked pre-floor
    * doc, a lost pin, a broken anchor checkpoint, or a policy that
    * reaped too far all split the hash (or fail the fixture's own
    * floor assertions loudly). */
  private def txnVacuumGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_txnvac", dir) { tmp =>
      val fact = s"$tmp/fact"
      val orders = graft.Tables(spark, dir, "orders")
      spark.conf.set("spark.graft.gvt.txnRetain", "4")
      try (0 until 14).foreach { i =>
        GvtTxn.commit(spark, tmp, Seq(
          (fact, orders.filter(col("o_orderkey") % 14 === i),
            Seq("o_orderkey"))))
      } finally spark.conf.unset("spark.graft.gvt.txnRetain")
      val floor = GvtTxn.vacuumFloor(tmp)
      // the policy FIRED (floor advanced off 0) and never reaped into
      // the contractual window [head−retain, head]
      require(floor > 0 && floor <= 9,
        s"txn auto-vacuum policy broken: floor $floor not in (0, 9]")
    }

  /** TABLE-log AUTO-VACUUM policy, driver-verified (r15 — the
    * coordinator's policy key is [[gvtTxnVacuum]]; this is the same
    * closure one rung down, on the log whose reaped bytes are data):
    * 12 single-file appends (keys ≡i mod 12) with
    * `spark.graft.gvt.tableRetain = 4` — the COMMIT PATH itself must
    * vacuum as the retained span crosses 2R (the v=8 commit sees span
    * 8 ≥ 8 and vacuums to 4; v=11's span 7 stays under), with no
    * manual vacuum anywhere. Read-back aggregates the head AND
    * the pinned view at version 7 = head−retain, the oldest version
    * the contract guarantees retained — it resolves through the
    * vacuum-created floor anchor. The fixture requires the floor
    * landed exactly where the policy puts it; the oracle restates both
    * sides from orders. */
  private def vacuumAutoGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_vacauto", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      spark.conf.set("spark.graft.gvt.tableRetain", "4")
      spark.conf.set("spark.graft.gvt.vacuumGraceMs", "0")
      try (0 until 12).foreach { i =>
        Gvt.append(spark, tmp,
          orders.filter(col("o_orderkey") % 12 === i).repartition(1), stats)
      } finally {
        spark.conf.unset("spark.graft.gvt.tableRetain")
        spark.conf.unset("spark.graft.gvt.vacuumGraceMs")
      }
      val floor = Gvt.vacuumFloor(tmp)
      require(floor == 4,
        s"table auto-vacuum policy broken: floor $floor != 4")
    }

  /** TABLE AUTO-COMPACT policy, driver-verified (r16 — the last manual
    * maintenance op gets its policy and its oracle key, the r15
    * verdict's #1): 12 tiny single-file appends with
    * `spark.graft.gvt.compactAfterFiles = 5` and NO manual compact
    * anywhere — the COMMIT PATH itself must bin-pack once ≥5 live
    * files are small. Deterministic trace: appends land at v0–v4
    * (5 small files) → policy compacts at v5 (→1 file); appends
    * v6–v9 bring the count back to 5 → compacts at v10 (→1);
    * appends v11–v13 leave 4 live files at head v13. The fixture
    * requires the head version and the live file count landed exactly
    * where the policy puts them (a policy that over-fires,
    * under-fires, or mis-packs fails loudly); the oracle restates the
    * full orders aggregate, so hash equality proves no row was lost
    * or duplicated through the policy's rewrites. */
  private def compactAutoGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_compauto", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      spark.conf.set("spark.graft.gvt.compactAfterFiles", "5")
      try (0 until 12).foreach { i =>
        Gvt.append(spark, tmp,
          orders.filter(col("o_orderkey") % 12 === i).repartition(1), stats)
      } finally spark.conf.unset("spark.graft.gvt.compactAfterFiles")
      val head = Gvt.latestVersion(tmp)
      val live = Gvt.snapshot(tmp).size
      require(head == 13 && live == 4,
        s"auto-compact policy broken: head $head (want 13), " +
          s"$live live files (want 4)")
    }

  def gvtCompactAuto(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, compactAutoGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  /** DESCRIBE HISTORY as an oracle key (r15 verdict #3): a table built
    * through a KNOWN commit sequence — three single-file appends and a
    * bin-pack — then [[Gvt.history]]'s deterministic columns (version,
    * op, file add/remove counts, rows added) are compared against the
    * oracle's literal restatement of that sequence, with the row
    * counts derived from orders itself. The audit trail is thereby
    * driver-verified, not just readable. (ts/txn stay in the API
    * surface but out of the oracle — publish timestamps are wall
    * clock; Round16Spec asserts their strict monotonicity instead.) */
  private def historyGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_history", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      (0 until 3).foreach { i =>
        Gvt.append(spark, tmp,
          orders.filter(col("o_orderkey") % 3 === i).repartition(1), stats)
      }
      Gvt.compact(spark, tmp, smallRows = Long.MaxValue, targetFiles = 2,
        statsCols = stats)
    }

  def gvtHistory(spark: SparkSession, dir: String): DataFrame =
    Gvt.history(spark, historyGvt(spark, dir))
      .select(col("version"), col("op"), col("n_added"),
        col("n_removed"), col("rows_added"))
      .orderBy("version")

  def gvtVacuumAuto(spark: SparkSession, dir: String): DataFrame = {
    val tmp = vacuumAutoGvt(spark, dir)
    def agg(df: DataFrame, side: String) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .select(lit(side).as("side"), col("o_orderstatus"),
        col("n_orders"), col("total_price"))
    agg(Gvt.read(spark, tmp), "head")
      .unionByName(agg(Gvt.read(spark, tmp, Some(7)), "retained"))
      .orderBy("side", "o_orderstatus")
  }

  def gvtTxnVacuum(spark: SparkSession, dir: String): DataFrame = {
    val tmp = txnVacuumGvt(spark, dir)
    def agg(df: DataFrame, side: String) = df
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .select(lit(side).as("side"), col("o_orderstatus"),
        col("n_orders"), col("total_price"))
    agg(GvtTxn.read(spark, tmp, s"$tmp/fact"), "head")
      .unionByName(
        agg(GvtTxn.read(spark, tmp, s"$tmp/fact", Some(9)), "retained"))
      .orderBy("side", "o_orderstatus")
  }

  /** DV ABSORPTION: the same two-vector history, then
    * [[Gvt.absorbDeletes]] rewrites every file carrying vectors (live
    * rows only) and drops the vectors — the maintenance op that bounds
    * the MoR read-time anti-join debt. Same oracle as the DV key: hash
    * equality proves absorb preserves state exactly while GvtSpec
    * asserts the vectors are gone from the manifest and the read plan
    * is join-free again. */
  private def absorbGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_absorb", dir) { tmp =>
      val c = graft.Tables(spark, dir, "customer")
      Gvt.append(spark, tmp, c, Seq("c_custkey"))
      Gvt.deleteWhereDV(spark, tmp, col("c_acctbal") < 0)
      Gvt.deleteWhereDV(spark, tmp, col("c_mktsegment") === "BUILDING")
      Gvt.absorbDeletes(spark, tmp, minDeletedFraction = 0.0,
        statsCols = Seq("c_custkey"))
    }

  def gvtAbsorb(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, absorbGvt(spark, dir))
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")

  def gvtCorpus(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, corpusGvt(spark, dir))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("lang")

  def gvtStreamSink(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, streamSinkGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderstatus")

  def compaction(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, compactGvt(spark, dir))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("total_price"))
      .orderBy("o_orderpriority")

  /** Pure-append history for the streaming SOURCE: orders in 4 quarter
    * commits (keys ≡0..3 mod 4) — versions 0..3, no rewrites. */
  private def appendOnlyGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_appendonly", dir) { tmp =>
      val orders = graft.Tables(spark, dir, "orders")
      val stats = Seq("o_orderkey")
      for (q <- 0 until 4)
        Gvt.append(spark, tmp, orders.filter(col("o_orderkey") % 4 === q), stats)
    }

  /** Drain a [[GvtStreamSource]] query to its table head, then return
    * the memory-sink state. Advance-by-one pacing (mvpb=1) means
    * exactly `head + 1` micro-batches (initial snapshot + one per
    * commit); range pacing (mvpb>1) drains a whole cold history in
    * `ceil((head+1)/mvpb)` batches — ONE for the cdc key (r16); the
    * bounded wait is the rate-source pattern — an unguarded poll
    * would hang the verify gate if the stream stopped progressing. */
  private def drainGvtStream(spark: SparkSession, staged: String,
      sinkName: String, mode: String,
      maxVersionsPerBatch: Int = 1)(shape: DataFrame => DataFrame)
      : DataFrame = {
    // the stateful aggregate's state-store partition count is pinned
    // from shuffle.partitions at the query's FIRST batch; the session
    // default (32, sized for the batch suite) means 32 state tasks ×
    // stages × micro-batches for a ≤5-group aggregate — per-batch task
    // dispatch is the dominant cost of a short catch-up drain (r15
    // verdict #6; measured in BASELINE.md §r16). 4 keeps the plan
    // identical in shape and the checkpoint is fresh per call, so the
    // pinned count never conflicts across runs. try/finally: the knob
    // must never leak into other keys' measurements.
    // restored only AFTER the drain: the micro-batch thread reads the
    // conf asynchronously (first-batch OffsetSeqMetadata), so restoring
    // right after start() would race it
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      val q = shape(
        spark.readStream.format("graft.sources.GvtStreamSource")
          .option("mode", mode)
          .option("maxVersionsPerBatch", maxVersionsPerBatch.toString)
          .load(staged))
        .writeStream
        .option("checkpointLocation",
          graft.Staging.fastTempDir("gvt_src_ckpt"))
        .format("memory").queryName(sinkName).outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try {
        // deterministic drain (no wall-clock poll): returns once every
        // available offset is processed and committed, throws on failure.
        // Bounded from a side thread — processAllAvailable alone is
        // unbounded, and a regression that leaves the stream alive but
        // stuck would wedge the verify gate forever instead of failing.
        Gvt.drainBounded(q)
      } finally q.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.table(sinkName)
  }

  /** THE TABLE AS A STREAMING SOURCE (`mode=append`): the version-offset
    * source replays the 4-commit append-only history — initial-snapshot
    * batch plus one batch per later commit (advance-by-one pacing) —
    * into a complete-mode aggregate. The oracle restates the full orders
    * aggregate: a skipped, re-served, or half-read COMMIT fails the
    * hash, which pins the source's offset arithmetic end-to-end. */
  def gvtStreamSource(spark: SparkSession, dir: String): DataFrame =
    drainGvtStream(spark, appendOnlyGvt(spark, dir),
        "graft_gvt_source_result", "append") {
      _.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_price"))
    }.select("o_orderpriority", "n_orders", "total_price")
      .orderBy("o_orderpriority")

  /** END-TO-END EXACTLY-ONCE STREAMING IVM — source, sink, and view
    * maintenance composed: the fact's change feed streams out of
    * [[GvtStreamSource]] (`mode=cdc`), each micro-batch is reduced to a
    * per-group SIGNED DELTA (+1/+cents insert, −1/−cents delete,
    * integer-cents so the fold is exact and order-independent), and the
    * delta lands in the summary's OWN GVT via [[Gvt.appendTxn]] with
    * the batch id as the idempotence token — the delta-log MV design:
    * the WRITE path is append-only (cost ∝ churn, exactly-once no
    * matter how often the engine re-delivers a batch), the READ path
    * folds the deltas, and ordinary [[Gvt.compact]] keeps the log
    * short. The staging proves the exactly-once claim the same way
    * `stream_gvt_sink` does — it re-delivers batch 0's delta under its
    * original txn id and requires the log to refuse it — then compacts
    * the delta log to show maintenance doesn't change the fold (the
    * oracle hash would catch it). */
  private def streamIvmGvt(spark: SparkSession, dir: String): String =
    graft.Staging.memoDir("graft_gvt_sivm", dir) { tmp =>
      val fact = ordersGvt(spark, dir)
      val head = Gvt.latestVersion(fact)
      val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
      val cents = round(col("o_totalprice") * 100, 0).cast("long")
      val stats = Seq("o_orderstatus")
      def deltaOf(batch: DataFrame): DataFrame = batch
        .select(col("o_orderstatus"), sign.as("w"), (sign * cents).as("c"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("dn"), sum("c").as("dcents"))
      val q = spark.readStream.format("graft.sources.GvtStreamSource")
        .option("mode", "cdc").load(fact)
        .writeStream
        .option("checkpointLocation", graft.Staging.fastTempDir("gvt_ivm_ckpt"))
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          if (!batch.isEmpty)
            Gvt.appendTxn(spark, tmp, deltaOf(batch), stats, s"ivm-$batchId")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
        .start()
      try {
        val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
        while ((q.lastProgress == null || q.lastProgress.batchId < head)
            && System.nanoTime() < deadline && q.exception.isEmpty) {
          Thread.sleep(25)
        }
        q.exception.foreach(throw _)
        require(q.lastProgress != null && q.lastProgress.batchId >= head,
          s"gvt ivm stream stalled before batch $head")
      } finally q.stop()
      // exactly-once: re-deliver batch 0's delta under its txn id
      val dup = Gvt.appendTxn(spark, tmp,
        deltaOf(Gvt.read(spark, fact, Some(0))
          .withColumn("change_type", lit("insert"))),
        stats, "ivm-0")
      require(dup.isEmpty, s"redelivered IVM batch committed twice: $dup")
      // delta-log maintenance: fold is invariant under compaction
      Gvt.compact(spark, tmp, smallRows = 1000000L, targetFiles = 1, stats)
    }

  /** The view read: fold the delta log. Groups whose count folded to
    * zero are retracted rows, not real groups — dropped. */
  def gvtStreamIvm(spark: SparkSession, dir: String): DataFrame =
    Gvt.read(spark, streamIvmGvt(spark, dir))
      .groupBy("o_orderstatus")
      .agg(sum("dn").as("n_orders"),
        (sum("dcents").cast("double") / 100).as("total_price"))
      .filter(col("n_orders") =!= 0)
      .select("o_orderstatus", "n_orders", "total_price")
      .orderBy("o_orderstatus")

  /** STREAMING CDC (`mode=cdc`): the change feed of the orders history
    * (3 appends + a copy-on-write delete) consumed as a stream, with a
    * SIGNED FOLD maintaining the aggregate incrementally — inserts weigh
    * +1/+cents, deletes −1/−cents, integer-cents states so the fold is
    * exact and order-independent (§5.3). The streaming half of the IVM
    * loop ([[refreshSummary]] is the batch half); the oracle is the
    * DIRECT aggregate of the final state — hash equality proves
    * stream-fold-of-the-feed ≡ recompute, including the delete commit's
    * retractions riding batch 4. */
  def gvtStreamCdc(spark: SparkSession, dir: String): DataFrame = {
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    // coarse catch-up: a consumer starting cold against a 4-commit
    // history should drain in ONE range batch after the snapshot, not
    // pay per-version micro-batch planning + checkpoint I/O (cdcBatch
    // still stamps each row with ITS commit version — per-version
    // diffs union inside the range, so the feed is batching-invariant;
    // the oracle hash proves it)
    drainGvtStream(spark, ordersGvt(spark, dir),
        "graft_gvt_cdc_result", "cdc", maxVersionsPerBatch = 16) {
      _.select(col("o_orderstatus"), sign.as("w"), (sign * cents).as("cents"))
        .groupBy("o_orderstatus")
        .agg(sum("w").as("n_orders"),
          (sum("cents").cast("double") / 100).as("total_price"))
    }.select("o_orderstatus", "n_orders", "total_price")
      .orderBy("o_orderstatus")
  }

  /** Change feed over the orders history, v1 → v3: the third append's
    * rows surface as inserts (minus those the v3 delete also removed),
    * the delete's casualties among v1's rows as deletes. The oracle
    * restates both sides as EXCEPT ALL over the reconstructed states —
    * hash equality proves the file-diff CDC ≡ the semantic state diff. */
  def gvtDiff(spark: SparkSession, dir: String): DataFrame =
    Gvt.diff(spark, ordersGvt(spark, dir), 1, 3)
      .select(col("change_type"), col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy("change_type", "o_orderkey")

  /** CHANGELOG CONSUMPTION: a downstream aggregate maintained purely by
    * folding the per-version change feeds onto the v0 state — inserts
    * weigh +1/+cents, deletes −1/−cents, and the integer-cents states
    * make the fold exact and order-independent (§5.3 grid discipline).
    * The oracle is the DIRECT aggregate of the final table state, so
    * driver hash equality proves feed-fold ≡ state-read across the full
    * history (3 appends + a file-granular delete) — the correctness
    * contract every incremental CDC consumer at 100 TB depends on. */
  def gvtFeedApply(spark: SparkSession, dir: String): DataFrame = {
    val t = ordersGvt(spark, dir)
    val head = Gvt.latestVersion(t)
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val base = Gvt.read(spark, t, Some(0))
      .select(col("o_orderstatus"), lit(1L).as("w"), cents.as("cents"))
    val deltas = (0 until head).map { v =>
      Gvt.diff(spark, t, v, v + 1)
        .select(col("o_orderstatus"), sign.as("w"),
          (sign * cents).as("cents"))
    }
    deltas.foldLeft(base)(_ unionByName _)
      .groupBy("o_orderstatus")
      .agg(sum("w").as("n_orders"),
        (sum("cents").cast("double") / 100).as("total_price"))
      .orderBy("o_orderstatus")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_gvt_dv_delete" -> gvtDvDelete,
    "sink_gvt_absorb" -> gvtAbsorb,
    "etl_gvt_restore" -> gvtRestore,
    "etl_gvt_mv_refresh" -> gvtMvRefresh,
    "etl_gvt_corpus" -> gvtCorpus,
    "stream_gvt_sink" -> gvtStreamSink,
    "stream_gvt_source" -> gvtStreamSource,
    "stream_gvt_cdc" -> gvtStreamCdc,
    "stream_gvt_ivm" -> gvtStreamIvm,
    "sink_gvt_vacuum" -> gvtVacuum,
    "scan_gvt_schema_evo" -> gvtSchemaEvo,
    "scan_gvt_colmap" -> gvtColMap,
    "etl_gvt_feed_apply" -> gvtFeedApply,
    "scan_gvt_zorder" -> gvtZorder,
    "etl_gvt_diff" -> gvtDiff,
    "sink_versioned_log" -> versionedLog,
    "etl_gvt_wap" -> gvtWap,
    "etl_gvt_constraints" -> gvtConstraints,
    "scan_time_travel" -> timeTravel,
    "scan_time_travel_ts" -> timeTravelTs,
    "etl_merge_into" -> mergeInto,
    "etl_gvt_cdc_upd" -> cdcUpdates,
    "etl_gvt_txn_multi" -> gvtTxnMulti,
    "etl_gvt_txn_wap" -> gvtTxnWap,
    "scan_manifest_prune" -> manifestPrune,
    "scan_gvt_dsv2" -> gvtDsv2,
    "scan_gvt_dsv2_dv" -> gvtDsv2Dv,
    "scan_gvt_dsv2_dvf" -> gvtDsv2DvFetch,
    "etl_gvt_txn_serial" -> gvtTxnSerial,
    "etl_gvt_txn_serial_ops" -> gvtTxnSerialOps,
    "sink_gvt_txn_vacuum" -> gvtTxnVacuum,
    "sink_gvt_vacuum_auto" -> gvtVacuumAuto,
    "sink_gvt_compact_auto" -> gvtCompactAuto,
    "scan_gvt_history" -> gvtHistory,
    "scan_gvt_dsv2_colmap" -> gvtDsv2ColMap,
    "scan_gvt_prune_ts" -> gvtPruneTs,
    "sink_gvt_dsv2" -> gvtSqlSink,
    "etl_gvt_sql_delete" -> gvtSqlDelete,
    "etl_gvt_sql_update" -> gvtSqlUpdate,
    "etl_gvt_sql_merge" -> gvtSqlMerge,
    "scan_gvt_sql_ddl" -> gvtSqlDdl,
    "sink_compaction" -> compaction
  )

  def oracle: Map[String, String] = Map(
    "etl_gvt_dv_delete" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING') " +
        "ORDER BY c_custkey"),
    // the incremental summary must equal the DIRECT aggregate of the
    // fact's final state (same restatement as etl_gvt_feed_apply)
    "etl_gvt_mv_refresh" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // restore-to-v1 ≡ time travel to v1: the same state via a commit
    "etl_gvt_restore" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 3 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // same final state as the DV key: absorb must be a pure rewrite
    "sink_gvt_absorb" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING') " +
        "ORDER BY c_custkey"),
    "etl_gvt_corpus" ->
      ("WITH kept AS (SELECT *, row_number() OVER (" +
        "PARTITION BY text ORDER BY doc_id) AS rn FROM documents " +
        "WHERE n_chars >= 64 AND n_chars <= 8192) " +
        "SELECT lang, count(*) AS n_docs, " +
        "CAST(sum(n_chars) AS BIGINT) AS total_chars, " +
        "min(doc_id) AS min_doc, max(doc_id) AS max_doc " +
        "FROM kept WHERE rn = 1 GROUP BY lang ORDER BY lang"),
    "stream_gvt_sink" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // every quarter-commit replayed exactly once = the full table
    "stream_gvt_source" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // exactly-once delta-log IVM: streamed feed → txn-append deltas →
    // fold ≡ direct aggregate of the final state (redelivery refused,
    // compaction invariant — both would break the hash)
    "stream_gvt_ivm" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // signed fold of the streamed change feed ≡ direct aggregate of the
    // final state (same restatement as etl_gvt_feed_apply)
    "stream_gvt_cdc" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "sink_gvt_vacuum" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "scan_gvt_schema_evo" ->
      ("SELECT c_custkey, c_name, c_mktsegment, " +
        "CASE WHEN c_custkey % 2 <> 0 THEN c_custkey % 3 END AS c_tier " +
        "FROM customer ORDER BY c_custkey"),
    "etl_gvt_feed_apply" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "scan_gvt_zorder" ->
      ("SELECT l_returnflag, count(*) AS n_rows, " +
        "round(sum(l_quantity),2) AS sum_qty FROM lineitem " +
        "WHERE l_partkey % 256 BETWEEN 64 AND 127 " +
        "AND l_suppkey % 256 BETWEEN 0 AND 63 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "etl_gvt_diff" ->
      ("WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0), " +
        "v3 AS (SELECT * FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)), " +
        "ins AS (SELECT * FROM v3 EXCEPT ALL SELECT * FROM v1), " +
        "del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v3) " +
        "SELECT 'insert' AS change_type, o_orderkey, o_orderstatus, " +
        "o_totalprice FROM ins " +
        "UNION ALL " +
        "SELECT 'delete' AS change_type, o_orderkey, o_orderstatus, " +
        "o_totalprice FROM del " +
        "ORDER BY change_type, o_orderkey"),
    "sink_versioned_log" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // post-publish parent ≡ base plus the AUDITED drop: the quality
    // rule's casualties (≡0 mod 20, all inside the ≡0 mod 4 drop)
    // never become visible to a parent reader
    "etl_gvt_wap" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 20 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // constraint enforcement must be INVISIBLE when nothing violates:
    // same final state as the unconstrained WAP cycle
    "etl_gvt_constraints" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 20 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "scan_time_travel" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 3 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // ts(v1) resolves to exactly v1: same state, same oracle
    "scan_time_travel_ts" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 3 <> 0 " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // insert-key shift restated exactly as the fixture derives it:
    // greatest(1000000, max(c_custkey)+1) — 1000000 at tested SFs
    "etl_merge_into" ->
      ("WITH sh AS (SELECT greatest(1000000, max(c_custkey) + 1) AS s " +
        "FROM customer), " +
        "src AS (" +
        "SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, " +
        "'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 10 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey + sh.s, " +
        "'new#' || CAST(c_custkey + sh.s AS VARCHAR), " +
        "c_acctbal, c_mktsegment FROM customer, sh " +
        "WHERE c_custkey % 100 = 0) " +
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM (" +
        "SELECT * FROM src " +
        "UNION ALL " +
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)" +
        ") ORDER BY c_custkey"),
    // the three CDC classes restated directly: upserted keys (≡0 mod
    // 10) yield a pre/post pair, shifted keys (≡0 mod 100) yield
    // inserts, and nothing deletes — rewritten-but-unchanged rows of
    // the touched files must NOT appear (diff's row-level cancellation)
    "etl_gvt_cdc_upd" ->
      ("WITH sh AS (SELECT greatest(1000000, max(c_custkey) + 1) AS s " +
        "FROM customer), " +
        "upd AS (SELECT * FROM customer WHERE c_custkey % 10 = 0) " +
        "SELECT change_type, c_custkey, c_name, c_acctbal, c_mktsegment " +
        "FROM (" +
        "SELECT 'update_preimage' AS change_type, c_custkey, c_name, " +
        "c_acctbal, c_mktsegment FROM upd " +
        "UNION ALL " +
        "SELECT 'update_postimage', c_custkey, c_name, c_acctbal + 1000, " +
        "'UPDATED' FROM upd " +
        "UNION ALL " +
        "SELECT 'insert', c_custkey + sh.s, " +
        "'new#' || CAST(c_custkey + sh.s AS VARCHAR), " +
        "c_acctbal, c_mktsegment FROM customer, sh " +
        "WHERE c_custkey % 100 = 0" +
        ") ORDER BY change_type, c_custkey"),
    "scan_manifest_prune" ->
      ("WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi " +
        "FROM lineitem), " +
        "r AS (SELECT lo + (hi-lo+1)*4//8 AS qlo, " +
        "lo + (hi-lo+1)*5//8 - 1 AS qhi FROM b) " +
        "SELECT l_returnflag, count(*) AS n_rows, " +
        "round(sum(l_quantity),2) AS sum_qty FROM lineitem, r " +
        "WHERE l_orderkey >= qlo AND l_orderkey <= qhi " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the two eras restated from the original rows: v0 sees only the
    // first append's keys under the ORIGINAL column (o_totalprice,
    // o_orderpriority live); head sees all three appends' keys under
    // the renamed column with o_orderpriority dropped (n_prios pinned
    // 0 — the column no longer exists to count)
    "scan_gvt_colmap" ->
      ("WITH v0 AS (SELECT 'v0' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "count(DISTINCT o_orderpriority) AS n_prios FROM orders " +
        "WHERE o_orderkey % 3 = 1 GROUP BY 2), " +
        "hd AS (SELECT 'head' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "0 AS n_prios FROM orders GROUP BY 2) " +
        "SELECT * FROM v0 UNION ALL SELECT * FROM hd " +
        "ORDER BY era, o_orderstatus"),
    // fact ≡ summary restated from the original rows at EVERY txn
    // version (v0 = base keys ≢0 mod 3, v1 = all keys), each version
    // twice (the summary-table read and the direct fact aggregate must
    // hash-match each other THROUGH matching this one statement); the
    // crashed poison commit (keys shifted +1e9, txn doc never landed)
    // appears in neither version — its visibility anywhere would split
    // the hash
    "etl_gvt_txn_multi" ->
      ("WITH v0 AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders WHERE o_orderkey % 3 <> 0 GROUP BY 1), " +
        "v1 AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders GROUP BY 1) " +
        "SELECT 0 AS txn_version, 'fact_agg' AS side, * FROM v0 " +
        "UNION ALL SELECT 0, 'summary', * FROM v0 " +
        "UNION ALL SELECT 1, 'fact_agg', * FROM v1 " +
        "UNION ALL SELECT 1, 'summary', * FROM v1 " +
        "ORDER BY txn_version, side, o_orderstatus"),
    // cross-table WAP: fact ≡ summary at every txn version; v0 = the
    // base (keys ≢0 mod 4), v1 = base + the AUDITED drop (the ≡0 mod
    // 20 casualties never reach a parent reader), and the unpinned
    // poison publish (keys shifted +1e9) appears in neither
    "etl_gvt_txn_wap" ->
      ("WITH v0 AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders WHERE o_orderkey % 4 <> 0 GROUP BY 1), " +
        "v1 AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders WHERE o_orderkey % 20 <> 0 GROUP BY 1) " +
        "SELECT 0 AS txn_version, 'fact_agg' AS side, * FROM v0 " +
        "UNION ALL SELECT 0, 'summary', * FROM v0 " +
        "UNION ALL SELECT 1, 'fact_agg', * FROM v1 " +
        "UNION ALL SELECT 1, 'summary', * FROM v1 " +
        "ORDER BY txn_version, side, o_orderstatus"),
    // the connector path must agree with both manifest-prune paths
    "scan_gvt_dsv2" ->
      ("WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi " +
        "FROM lineitem), " +
        "r AS (SELECT lo + (hi-lo+1)*4//8 AS qlo, " +
        "lo + (hi-lo+1)*5//8 - 1 AS qhi FROM b) " +
        "SELECT l_returnflag, count(*) AS n_rows, " +
        "round(sum(l_quantity),2) AS sum_qty FROM lineitem, r " +
        "WHERE l_orderkey >= qlo AND l_orderkey <= qhi " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the SQL-built table's end state ≡ the API-built history's (the
    // sink_versioned_log restatement)
    "sink_gvt_dsv2" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0) " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // SQL CoW delete ≡ API MoR delete ≡ the plain predicate
    "etl_gvt_sql_delete" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING') " +
        "ORDER BY c_custkey"),
    // two sequential SQL UPDATE commits restated as nested CASE over
    // the original rows (the second WHERE reads the first's pre-image
    // survivors: a key ≡0 mod 10 became 'UPDATED' before the BUILDING
    // pass, so it never negates)
    "etl_gvt_sql_update" ->
      ("SELECT c_custkey, c_name, " +
        "CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 1000 " +
        "WHEN c_mktsegment = 'BUILDING' THEN -c_acctbal " +
        "ELSE c_acctbal END AS c_acctbal, " +
        "CASE WHEN c_custkey % 10 = 0 THEN 'UPDATED' " +
        "ELSE c_mktsegment END AS c_mktsegment " +
        "FROM customer ORDER BY c_custkey"),
    // SQL MERGE ≡ API merge: the etl_merge_into restatement (same
    // max-derived insert-key shift)
    "etl_gvt_sql_merge" ->
      ("WITH sh AS (SELECT greatest(1000000, max(c_custkey) + 1) AS s " +
        "FROM customer), " +
        "src AS (" +
        "SELECT c_custkey, c_name, c_acctbal + 1000 AS c_acctbal, " +
        "'UPDATED' AS c_mktsegment FROM customer WHERE c_custkey % 10 = 0 " +
        "UNION ALL " +
        "SELECT c_custkey + sh.s, " +
        "'new#' || CAST(c_custkey + sh.s AS VARCHAR), " +
        "c_acctbal, c_mktsegment FROM customer, sh " +
        "WHERE c_custkey % 100 = 0) " +
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM (" +
        "SELECT * FROM src " +
        "UNION ALL " +
        "SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.c_custkey = c.c_custkey)" +
        ") ORDER BY c_custkey"),
    // SQL ALTER TABLE replay of the column-mapping history: both eras
    // restated from the original rows (the scan_gvt_colmap statement)
    "scan_gvt_sql_ddl" ->
      ("WITH v0 AS (SELECT 'v0' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "count(DISTINCT o_orderpriority) AS n_prios FROM orders " +
        "WHERE o_orderkey % 3 = 1 GROUP BY 2), " +
        "hd AS (SELECT 'head' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "0 AS n_prios FROM orders GROUP BY 2) " +
        "SELECT * FROM v0 UNION ALL SELECT * FROM hd " +
        "ORDER BY era, o_orderstatus"),
    // connector MoR read ≡ library DV anti-join ≡ plain predicate
    "scan_gvt_dsv2_dv" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING') " +
        "ORDER BY c_custkey"),
    // per-task sidecar-fetch regime ≡ broadcast regime ≡ library, one hash
    "scan_gvt_dsv2_dvf" ->
      ("SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer " +
        "WHERE NOT (c_acctbal < 0) AND NOT (c_mktsegment = 'BUILDING') " +
        "ORDER BY c_custkey"),
    // three serialized txns = the whole orders table on both sides;
    // the rolled-back poison (keys shifted +1e9) appears in neither
    "etl_gvt_txn_serial" ->
      ("WITH a AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders GROUP BY 1) " +
        "SELECT 'fact_agg' AS side, * FROM a " +
        "UNION ALL SELECT 'summary', * FROM a " +
        "ORDER BY side, o_orderstatus"),
    // the MIXED serialized txn: fact side carries the merged price bump
    // (keys ≡0 mod 10), summary side lost its 'P' row to the delete;
    // the rolled-back poison (keys shifted +2e9) appears in neither
    "etl_gvt_txn_serial_ops" ->
      ("WITH f AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round((o_totalprice + CASE WHEN o_orderkey % 10 " +
        "= 0 THEN 100 ELSE 0 END)*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders GROUP BY 1), " +
        "s AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS DOUBLE)/100 " +
        "AS total_price FROM orders GROUP BY 1) " +
        "SELECT 'fact_agg' AS side, * FROM f " +
        "UNION ALL SELECT 'summary', * FROM s WHERE o_orderstatus <> 'P' " +
        "ORDER BY side, o_orderstatus"),
    // table-log policy twin: head = all 12 slices; retained view at
    // version 7 = head−retain = slices 0..7
    "sink_gvt_vacuum_auto" ->
      ("WITH h AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY 1), " +
        "r AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 12 <= 7 GROUP BY 1) " +
        "SELECT 'head' AS side, * FROM h " +
        "UNION ALL SELECT 'retained', * FROM r " +
        "ORDER BY side, o_orderstatus"),
    // head view = all 14 slices; retained view at txn 9 = slices 0..9
    // (the oldest version the auto-vacuum policy guarantees kept) —
    // both restated directly from orders
    "sink_gvt_txn_vacuum" ->
      ("WITH h AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY 1), " +
        "r AS (SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderkey % 14 <= 9 GROUP BY 1) " +
        "SELECT 'head' AS side, * FROM h " +
        "UNION ALL SELECT 'retained', * FROM r " +
        "ORDER BY side, o_orderstatus"),
    // connector mapped read ≡ library mapped read, both eras
    "scan_gvt_dsv2_colmap" ->
      ("WITH v0 AS (SELECT 'v0' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "count(DISTINCT o_orderpriority) AS n_prios FROM orders " +
        "WHERE o_orderkey % 3 = 1 GROUP BY 2), " +
        "hd AS (SELECT 'head' AS era, o_orderstatus, " +
        "count(*) AS n_orders, round(sum(o_totalprice),2) AS total_price, " +
        "0 AS n_prios FROM orders GROUP BY 2) " +
        "SELECT * FROM v0 UNION ALL SELECT * FROM hd " +
        "ORDER BY era, o_orderstatus"),
    // the timestamp-tiled table holds every order exactly once (year
    // tiles partition the fixture's 1995..2001 span), so the pruned
    // range read restates as a plain WHERE over the original table
    "scan_gvt_prune_ts" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "sink_compaction" ->
      ("SELECT o_orderpriority, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    // the policy's two rewrites must preserve the table bit-exact:
    // the head aggregate restates from orders directly
    "sink_gvt_compact_auto" ->
      ("SELECT o_orderstatus, count(*) AS n_orders, " +
        "round(sum(o_totalprice),2) AS total_price FROM orders " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    // the literal commit sequence the fixture performed, row counts
    // derived from orders itself — DESCRIBE HISTORY, driver-verified
    "scan_gvt_history" ->
      ("SELECT * FROM (VALUES " +
        "(0, 'append', 1, 0, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 3 = 0)), " +
        "(1, 'append', 1, 0, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 3 = 1)), " +
        "(2, 'append', 1, 0, " +
        "(SELECT count(*) FROM orders WHERE o_orderkey % 3 = 2)), " +
        "(3, 'compact', 2, 3, (SELECT count(*) FROM orders))" +
        ") AS t(version, op, n_added, n_removed, rows_added) " +
        "ORDER BY version")
  )
}
