package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Det, Tables}

/** The SQL front door: canonical benchmark statements submitted as TEXT
  * through `spark.sql` over registered views — proving the engine's SQL
  * surface (parser → analyzer → same Catalyst plans the DataFrame API
  * gets) end to end with the same §5.3 exactness discipline. Revenue
  * sums go through the integer-micro grid inside the SQL itself, so the
  * statement is engine-portable verbatim.
  *
  * The TPC-H statements are adapted to the fixture's column subset
  * (FIXTURES.md lists the columns missing vs standard TPC-H — e.g. Q3
  * drops `o_shippriority`, Q10 drops address/phone, Q13 drops the
  * comment filter, Q14 uses the fixture's exact `p_type = 'PROMO'`
  * domain) and to determinism: every top-k ORDER BY carries a unique
  * key tiebreak, and every float sum is grid-snapped.
  */
object SqlSurface {

  /** Shared with [[TpchComplete]] — ONE temp-view naming convention
    * (`<t>_v`) for both SQL-text families on the shared session. */
  private[operators] def view(spark: SparkSession, dir: String,
      t: String): String = {
    val v = t + "_v"
    Tables(spark, dir, t).createOrReplaceTempView(v)
    v
  }

  /** sum(expr) on the integer-micro grid — delegates to [[graft.Det]],
    * the single home of the grid contract. */
  private def gridSum(expr: String): String = Det.moneySumSparkSql(expr)

  private def q(spark: SparkSession, dir: String, tables: Seq[String],
                sql: String): DataFrame = {
    tables.foreach(view(spark, dir, _))
    spark.sql(sql)
  }

  /** The statement pairs: Spark runs over `<t>_v` views, DuckDB over the
    * raw parquet table names — same text otherwise (`round(x,0)` vs
    * `round(x)` is the one dialect split the grid helper hides).
    */
  private def stmt(sparkSide: Boolean, name: String): String = {
    def t(base: String) = if (sparkSide) base + "_v" else base
    val rev = if (sparkSide) gridSum("l_extendedprice * (1 - l_discount)")
    else Det.moneySumSql("l_extendedprice * (1 - l_discount)")
    name match {
      case "q5" =>
        s"SELECT n_name, $rev AS revenue, count(*) AS n_items " +
          s"FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey " +
          s"JOIN ${t("lineitem")} ON l_orderkey = o_orderkey " +
          s"JOIN ${t("supplier")} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
          s"JOIN ${t("nation")} ON s_nationkey = n_nationkey " +
          s"JOIN ${t("region")} ON n_regionkey = r_regionkey " +
          "WHERE r_name = 'ASIA' " +
          "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' " +
          "GROUP BY n_name ORDER BY revenue DESC, n_name"
      case "q3" =>
        s"SELECT l_orderkey, $rev AS revenue, o_orderdate " +
          s"FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey " +
          s"JOIN ${t("lineitem")} ON l_orderkey = o_orderkey " +
          "WHERE c_mktsegment = 'BUILDING' " +
          "AND o_orderdate < TIMESTAMP '1996-03-15 00:00:00' " +
          "AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00' " +
          "GROUP BY l_orderkey, o_orderdate " +
          "ORDER BY revenue DESC, l_orderkey LIMIT 10"
      case "q10" =>
        s"SELECT c_custkey, c_name, $rev AS revenue, c_acctbal, n_name " +
          s"FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey " +
          s"JOIN ${t("lineitem")} ON l_orderkey = o_orderkey " +
          s"JOIN ${t("nation")} ON c_nationkey = n_nationkey " +
          "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' " +
          "AND l_returnflag = 'R' " +
          "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
          "ORDER BY revenue DESC, c_custkey LIMIT 20"
      case "q13" =>
        "SELECT c_count, count(*) AS custdist FROM (" +
          "SELECT c_custkey, count(o_orderkey) AS c_count " +
          s"FROM ${t("customer")} LEFT OUTER JOIN ${t("orders")} " +
          "ON c_custkey = o_custkey GROUP BY c_custkey) c_orders " +
          "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"
      case "q18" =>
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
          "sum(l_quantity) AS sum_qty " +
          s"FROM ${t("customer")} JOIN ${t("orders")} ON c_custkey = o_custkey " +
          s"JOIN ${t("lineitem")} ON o_orderkey = l_orderkey " +
          s"WHERE o_orderkey IN (SELECT l_orderkey FROM ${t("lineitem")} " +
          "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) " +
          "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
          "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"
      case _ => sys.error(s"unknown stmt $name")
    }
  }

  /** TPC-H Q5 (local supplier volume): six-table star join, region/date
    * selective filters, revenue per nation. Catalyst broadcast-joins the
    * dims and leaves one exchange for the aggregate — the same plan the
    * hand-built DataFrame chain gets (asserted in Round3cSpec: no
    * cartesian, ≥3 broadcasts).
    */
  def tpchQ5(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("customer", "orders", "lineitem", "supplier",
      "nation", "region"), stmt(sparkSide = true, "q5"))

  /** TPC-H Q3 (shipping priority, sans `o_shippriority`): segment-filtered
    * customer dim broadcast into orders⋈lineitem, revenue per unshipped
    * order, top-10. At scale the o_orderdate/l_shipdate predicates push to
    * the scans, and the LIMIT plans as TakeOrderedAndProject over the
    * aggregated (small) side — never a global sort of lineitem.
    */
  def tpchQ3(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("customer", "orders", "lineitem"),
      stmt(sparkSide = true, "q3"))

  /** TPC-H Q6 (forecast revenue change): pure scan-side query — every
    * predicate (date range, discount band, quantity cap) reaches
    * PushedFilters, one partial+final agg, zero joins. The canary for
    * "filters reach the parquet reader".
    */
  def tpchQ6(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("lineitem"),
      "SELECT " + gridSum("l_extendedprice * l_discount") + " AS revenue " +
        "FROM lineitem_v " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24")

  /** TPC-H Q10 (returned-item reporting, sans address/phone): quarter of
    * orders × returned lineitems, revenue per customer, top-20. nation
    * broadcasts; the one exchange is the customer-keyed aggregate.
    */
  def tpchQ10(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("customer", "orders", "lineitem", "nation"),
      stmt(sparkSide = true, "q10"))

  /** TPC-H Q13 (customer order-count distribution, sans comment filter):
    * LEFT OUTER join keeps zero-order customers, two cascaded aggregates.
    * The outer count(o_orderkey) counts non-null keys only — the
    * LEFT-JOIN-null convention both engines share.
    */
  def tpchQ13(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("customer", "orders"), stmt(sparkSide = true, "q13"))

  /** TPC-H Q14 (promotion effect): promo revenue share as one ratio row.
    * Both grid sums come out of a single partial+final aggregate (a
    * conditional sum is just another accumulator — no second scan), then
    * one exact bigint→double division; identical on any engine because
    * the operands are identical integers.
    */
  def tpchQ14(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("lineitem", "part"),
      "SELECT CAST(100 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e6, 0) AS BIGINT) " +
        "ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6, 0) " +
        "AS BIGINT)) AS DOUBLE) AS promo_revenue " +
        "FROM lineitem_v JOIN part_v ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'")

  /** TPC-H Q18 (large-volume customers): HAVING-filtered IN subquery over
    * lineitem (plans as a semi join against the aggregated keys — the
    * small side), then the detail join + per-order quantity rollup.
    * l_quantity is integral (1..50) so its double sums are order-exact
    * without a grid. Threshold 250 (vs standard 300) sized to the
    * fixture's ≤7-line orders so all three SFs return rows.
    */
  def tpchQ18(spark: SparkSession, dir: String): DataFrame =
    q(spark, dir, Seq("customer", "orders", "lineitem"),
      stmt(sparkSide = true, "q18"))

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`): depth-bounded BFS
    * expansion from a seed vector over the cosine-similarity graph — the
    * "give me the neighborhood of this document" retrieval op. The edge
    * list is the [[graft.llm.Similarity]] blocked pair join materialized
    * as a view; each recursion step is ONE equi-join of the frontier
    * against the (symmetric) edge list plus a depth guard — exactly the
    * iterate-until-fixpoint shape of llm_dedup_components, but expressed
    * declaratively and planned by Catalyst's UnionLoop. Spark only
    * supports UNION ALL recursion (no cycle-collapsing UNION), so the
    * depth bound d < 3 is what terminates traversal of the undirected
    * graph; min(d) collapses revisits.
    */
  def recursiveCte(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, dir, "embeddings")
    val a = e.select(col("label"), col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = e.select(col("label"), col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    // materialize the edge list ONCE: a temp view is a logical plan, so
    // without this every UnionLoop iteration re-inlines and re-executes
    // the whole blocked cosine join (measured 4.3 s → 1.7 s at sf0.1);
    // checkpointed, each recursion step joins against materialized rows
    // — the same loop-invariant-hoisting rule as pagerankIter3
    a.join(b, Seq("label"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(expr("cosine_sim(emb_a, emb_b)"), 6) >= 0.25)
      .select("id_a", "id_b")
      .localCheckpoint()
      .createOrReplaceTempView("sim_pairs_v")
    spark.sql(
      "WITH RECURSIVE edges AS (" +
        "SELECT id_a AS src, id_b AS dst FROM sim_pairs_v " +
        "UNION ALL SELECT id_b AS src, id_a AS dst FROM sim_pairs_v), " +
        "reach(id, d) AS (" +
        "SELECT CAST(0 AS BIGINT) AS id, 0 AS d " +
        "UNION ALL SELECT e.dst, r.d + 1 FROM reach r " +
        "JOIN edges e ON r.id = e.src WHERE r.d < 3) " +
        "SELECT id, min(d) AS hops FROM reach GROUP BY id " +
        "ORDER BY hops, id")
  }

  /** Parameterized SQL (`spark.sql(text, args)`): named `:param` markers
    * bound server-side — the injection-safe front door for templated
    * production queries (the literal never concatenates into the text).
    * Catalyst folds the bound constants exactly like literals, so
    * pushdown/pruning are unchanged.
    */
  def parameterized(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql(
      "SELECT o_orderpriority, count(*) AS n, " +
        gridSum("o_totalprice") + " AS total " +
        "FROM orders_v WHERE o_totalprice > :minp " +
        "AND o_orderdate >= CAST(:d0 AS TIMESTAMP) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority",
      Map("minp" -> 200000, "d0" -> "1996-01-01 00:00:00"))
  }

  /** SQL PIVOT clause (long→wide in the statement text, complementing
    * the DataFrame-API `pivot` of agg_minmax_pivot): one Aggregate with
    * conditional accumulators per IN value — no self-join per column.
    * l_quantity is integral so the pivoted sums are order-exact.
    */
  def sqlPivot(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql(
      "SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity " +
        "FROM lineitem_v) " +
        "PIVOT (sum(l_quantity) AS qty, count(l_quantity) AS n " +
        "FOR l_linestatus IN ('O' AS open, 'F' AS fin)) " +
        "ORDER BY l_returnflag")
  }

  /** Cost-based-optimizer wiring: persist the fact as a catalog table,
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`, and query
    * with CBO + join reorder on. The point at 100 TB: without table/
    * column stats the optimizer guesses sizes from file bytes — stats
    * give it rowCount/NDV/min-max, which drive broadcast decisions and
    * star-schema join ordering. Round3dSpec asserts the analyzed
    * rowCount is visible to the optimizer. Results are engine-exact
    * (stats change plans, never answers).
    */
  def cboStats(spark: SparkSession, dir: String): DataFrame = {
    // CBO is enabled on an ISOLATED child session (shared context +
    // external catalog, separate SQLConf seeded from the builder
    // options): the returned frame plans under CBO at action time while
    // the caller's session keeps its flags — a spark.conf.set on the
    // shared session leaked CBO + joinReorder into every key that ran
    // after this one in the same Verify/Bench JVM
    val s = spark.newSession()
    s.conf.set("spark.sql.cbo.enabled", "true")
    s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    // The analyzed table + its catalog stats are a LAYOUT fixture (what
    // the key measures is planning/answering UNDER stats, not the
    // ANALYZE itself) — staged once per (JVM, dir) like every memoDir
    // fixture, so bench rep 2+ measures the stats-planned query, not
    // the table copy + stats scan (r16 opt: 2.07 s → the query alone).
    // Per-dir table name: one JVM can stage several SFs (tests), and a
    // fixed name would leave the memo pointing at the wrong data.
    val tbl = "graft_cbo_orders_" +
      java.lang.Integer.toHexString(dir.hashCode)
    graft.Staging.once("graft_cbo|" + dir) {
      // external table at a per-run temp location: a managed table's
      // fixed warehouse path survives the JVM and collides with the
      // next run's fresh (in-memory) catalog
      val tmp = graft.Staging.tempDir("graft_cbo")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      Tables(s, dir, "orders")
        .write.mode("overwrite").option("path", tmp)
        .saveAsTable(tbl)
      s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
    }
    s.sql(
      "SELECT o_orderstatus, count(*) AS n, " +
        gridSum("o_totalprice") + " AS total " +
        s"FROM $tbl GROUP BY o_orderstatus " +
        "ORDER BY o_orderstatus")
  }

  /** SQL PIPE SYNTAX (Spark 4's `|>` operators): each stage parses
    * into the ordinary relational operators (WHERE → Filter,
    * AGGREGATE … GROUP BY → Aggregate, post-aggregate WHERE → the
    * HAVING position, ORDER BY → Sort), so Catalyst optimizes the
    * chain exactly like the keyword form — pushdown, partial aggs,
    * everything; the surface is authoring ergonomics, not a new
    * execution path. The quantity sum rides the integer cent grid
    * (§5.3) so the DuckDB keyword-form oracle hashes bit-equal. */
  def pipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "lineitem")
    spark.sql(
      "FROM lineitem_v " +
        "|> WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "|> AGGREGATE count(*) AS n_items, " +
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) " +
        "/ 100 AS sum_qty " +
        "GROUP BY l_returnflag, l_linestatus " +
        "|> WHERE n_items > 0 " +
        "|> SELECT l_returnflag, l_linestatus, n_items, sum_qty " +
        "|> ORDER BY l_returnflag, l_linestatus")
  }

  /** GROUP BY ALL / ORDER BY ALL (the analyst-ergonomics surface both
    * Spark 4 and the oracle engine share — the statement runs VERBATIM
    * on both): non-aggregated select items become the grouping key.
    */
  def groupByAll(spark: SparkSession, dir: String): DataFrame = {
    view(spark, dir, "orders")
    spark.sql(
      "SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "max(o_totalprice) AS max_price " +
        "FROM orders_v GROUP BY ALL ORDER BY ALL")
  }

  /** DDL column DEFAULTs: CREATE TABLE with a DEFAULT clause, INSERT
    * that omits the column, and `DEFAULT` as an explicit VALUES entry.
    * The defaults are stored in catalog metadata and injected at write —
    * reads see plain data (no runtime cost at scan).
    */
  def ddlDefaults(spark: SparkSession, dir: String): DataFrame = {
    val tmp = graft.Staging.tempDir("graft_ddl")
    spark.sql("DROP TABLE IF EXISTS graft_ddl_defaults")
    spark.sql(
      "CREATE TABLE graft_ddl_defaults (" +
        "id BIGINT, status STRING DEFAULT 'NEW', score INT DEFAULT 10) " +
        s"USING parquet LOCATION '$tmp'")
    spark.sql("INSERT INTO graft_ddl_defaults (id) VALUES (1), (2)")
    spark.sql("INSERT INTO graft_ddl_defaults VALUES " +
      "(3, 'DONE', DEFAULT), (4, DEFAULT, 99)")
    spark.table("graft_ddl_defaults").orderBy("id")
  }

  /** TPC-H Q4 shape on the fixture's columns (the standard form needs
    * l_commitdate/l_receiptdate): priority count of orders with at
    * least one line shipped AFTER the order quarter ends — a correlated
    * EXISTS that Catalyst plans as a left-semi join on o_orderkey with
    * the date residual, never a per-row subquery execution.
    */
  def tpchQ4x(spark: SparkSession, dir: String): DataFrame = {
    Seq("orders", "lineitem").foreach(view(spark, dir, _))
    spark.sql(
      "SELECT o_orderpriority, count(*) AS order_count " +
        "FROM orders_v " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem_v " +
        "WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 90 DAYS) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")
  }

  /** TPC-H Q22 shape on the fixture's columns (the standard form keys
    * on c_phone country codes): "rich but lapsed" customers — balance
    * above the positive-balance average (scalar subquery, broadcast as
    * a one-row frame) with no RECENT orders (anti join with a date
    * residual). The fixture gives every customer at least one order, so
    * the textbook "no orders at all" predicate is structurally empty at
    * every sf (r3 vacuous-pass finding); "no orders since 2000-01-01"
    * selects 5 / 55 / 646 customers at sf0.001/0.01/0.1 while keeping
    * the same plan shape (scalar subquery + left-anti join on
    * o_custkey). Grouped by nation key band as the Q22 cntrycode
    * stand-in.
    */
  def tpchQ22x(spark: SparkSession, dir: String): DataFrame = {
    Seq("customer", "orders").foreach(view(spark, dir, _))
    spark.sql(
      "SELECT c_nationkey % 5 AS code, count(*) AS numcust, " +
        "CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) " +
        "/ 100 AS totacctbal " +
        "FROM customer_v " +
        // exact-cents mean: a raw avg(double) is an order-dependent sum
        "WHERE c_acctbal > (SELECT " +
        "CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS DOUBLE) " +
        "/ (100 * count(*)) FROM customer_v WHERE c_acctbal > 0.0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders_v WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY c_nationkey % 5 ORDER BY code")
  }

  /** TPC-H Q7 shape (volume shipping): bidirectional trade between two
    * REGIONS (the fixture's two-nation form is empty at sf0.001 — the
    * q22x non-vacuity lesson) by ship year. Five-way join where the
    * nation dims broadcast twice under different aliases; revenue on the
    * integer-cent grid.
    */
  def tpchQ7(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier", "orders", "customer", "nation")
      .foreach(view(spark, dir, _))
    spark.sql(
      "SELECT supp_region, cust_region, l_year, " +
        "CAST(sum(vol_cents) AS DOUBLE) / 100 AS revenue FROM (" +
        "SELECT n1.n_regionkey AS supp_region, n2.n_regionkey AS cust_region, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS vol_cents " +
        "FROM lineitem_v JOIN supplier_v ON s_suppkey = l_suppkey " +
        "JOIN orders_v ON o_orderkey = l_orderkey " +
        "JOIN customer_v ON c_custkey = o_custkey " +
        "JOIN nation_v n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation_v n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE ((n1.n_regionkey = 3 AND n2.n_regionkey = 2) " +
        "OR (n1.n_regionkey = 2 AND n2.n_regionkey = 3)) " +
        "AND l_shipdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3")
  }

  /** TPC-H Q8 shape (national market share): the fraction of EUROPE's
    * STANDARD-part import volume supplied by NATION_3, by order year.
    * Seven-way star join; the share is ONE double division of two
    * exact cent sums, so the ratio is bit-identical on any engine.
    */
  def tpchQ8(spark: SparkSession, dir: String): DataFrame = {
    Seq("part", "lineitem", "supplier", "orders", "customer", "nation",
      "region").foreach(view(spark, dir, _))
    spark.sql(
      "SELECT o_year, round(CAST(sum(CASE WHEN nation = 'NATION_3' " +
        "THEN vol_cents ELSE 0 END) AS DOUBLE) / sum(vol_cents), 6) AS mkt_share " +
        "FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT) AS vol_cents, " +
        "n2.n_name AS nation " +
        "FROM part_v JOIN lineitem_v ON p_partkey = l_partkey " +
        "JOIN supplier_v ON s_suppkey = l_suppkey " +
        "JOIN orders_v ON l_orderkey = o_orderkey " +
        "JOIN customer_v ON o_custkey = c_custkey " +
        "JOIN nation_v n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region_v ON n1.n_regionkey = r_regionkey " +
        "JOIN nation_v n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') " +
        "GROUP BY 1 ORDER BY 1")
  }

  /** TPC-H Q15 (top supplier): quarterly revenue per supplier, return
    * the supplier(s) at the max — the classic CTE-referenced-twice
    * statement (the scalar max subquery re-reads the CTE; exchange
    * reuse collapses the two aggregate subtrees — plan evidence is
    * plan_exchange_reuse).
    */
  def tpchQ15(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "supplier").foreach(view(spark, dir, _))
    spark.sql(
      "WITH rev AS (SELECT l_suppkey AS supplier_no, " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) " +
        "AS BIGINT)) AS DOUBLE) / 100 AS total_revenue " +
        "FROM lineitem_v WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue " +
        "FROM supplier_v JOIN rev ON s_suppkey = supplier_no " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) " +
        "ORDER BY s_suppkey")
  }

  /** TPC-H Q17 shape (small-quantity revenue): total revenue of
    * Brand#11 lines whose quantity is below 20% of that part's average
    * — the correlated scalar-aggregate subquery Catalyst decorrelates
    * into an aggregate + equi-join, never a per-row subquery execution.
    * (Adapted: the fixture has no p_container, so the brand filter
    * stands alone.)
    */
  def tpchQ17x(spark: SparkSession, dir: String): DataFrame = {
    Seq("lineitem", "part").foreach(view(spark, dir, _))
    spark.sql(
      "SELECT CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) " +
        "AS DOUBLE) / 100 / 7.0 AS avg_yearly " +
        "FROM lineitem_v JOIN part_v ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#11' " +
        "AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem_v l2 " +
        "WHERE l2.l_partkey = p_partkey)")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sql_tpch_q7" -> tpchQ7,
    "sql_tpch_q8" -> tpchQ8,
    "sql_tpch_q15" -> tpchQ15,
    "sql_tpch_q17x" -> tpchQ17x,
    "sql_tpch_q4x" -> tpchQ4x,
    "sql_tpch_q22x" -> tpchQ22x,
    "sql_group_by_all" -> groupByAll,
    "sql_pipe_syntax" -> pipeSyntax,
    "sql_ddl_defaults" -> ddlDefaults,
    "sql_pivot" -> sqlPivot,
    "plan_cbo_stats" -> cboStats,
    "sql_recursive_cte" -> recursiveCte,
    "sql_parameterized" -> parameterized,
    "sql_tpch_q5" -> tpchQ5,
    "sql_tpch_q3" -> tpchQ3,
    "sql_tpch_q6" -> tpchQ6,
    "sql_tpch_q10" -> tpchQ10,
    "sql_tpch_q13" -> tpchQ13,
    "sql_tpch_q14" -> tpchQ14,
    "sql_tpch_q18" -> tpchQ18
  )

  def oracle: Map[String, String] = Map(
    "sql_tpch_q7" ->
      ("SELECT supp_region, cust_region, l_year, " +
        "CAST(sum(vol_cents) AS DOUBLE) / 100 AS revenue FROM (" +
        "SELECT n1.n_regionkey AS supp_region, n2.n_regionkey AS cust_region, " +
        "CAST(year(l_shipdate) AS BIGINT) AS l_year, " +
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol_cents " +
        "FROM lineitem JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN orders ON o_orderkey = l_orderkey " +
        "JOIN customer ON c_custkey = o_custkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE ((n1.n_regionkey = 3 AND n2.n_regionkey = 2) " +
        "OR (n1.n_regionkey = 2 AND n2.n_regionkey = 3)) " +
        "AND l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01') " +
        "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "sql_tpch_q8" ->
      ("SELECT o_year, round(CAST(sum(CASE WHEN nation = 'NATION_3' " +
        "THEN vol_cents ELSE 0 END) AS DOUBLE) / sum(vol_cents), 6) AS mkt_share " +
        "FROM (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS vol_cents, " +
        "n2.n_name AS nation " +
        "FROM part JOIN lineitem ON p_partkey = l_partkey " +
        "JOIN supplier ON s_suppkey = l_suppkey " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
        "JOIN region ON n1.n_regionkey = r_regionkey " +
        "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
        "WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' " +
        "AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1997-01-01') " +
        "GROUP BY 1 ORDER BY 1"),
    "sql_tpch_q15" ->
      ("WITH rev AS (SELECT l_suppkey AS supplier_no, " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) " +
        "AS BIGINT)) AS DOUBLE) / 100 AS total_revenue " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, total_revenue " +
        "FROM supplier JOIN rev ON s_suppkey = supplier_no " +
        "WHERE total_revenue = (SELECT max(total_revenue) FROM rev) " +
        "ORDER BY s_suppkey"),
    "sql_tpch_q17x" ->
      ("SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) " +
        "AS DOUBLE) / 100 / 7.0 AS avg_yearly " +
        "FROM lineitem JOIN part ON p_partkey = l_partkey " +
        "WHERE p_brand = 'Brand#11' " +
        "AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2 " +
        "WHERE l2.l_partkey = p_partkey)"),
    "sql_tpch_q4x" ->
      ("SELECT o_orderpriority, count(*) AS order_count " +
        "FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' " +
        "AND EXISTS (SELECT 1 FROM lineitem " +
        "WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 90 DAY) " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "sql_tpch_q22x" ->
      ("SELECT c_nationkey % 5 AS code, count(*) AS numcust, " +
        "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) " +
        "/ 100 AS totacctbal " +
        "FROM customer " +
        "WHERE c_acctbal > (SELECT " +
        "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) " +
        "/ (100 * count(*)) FROM customer WHERE c_acctbal > 0.0) " +
        "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey " +
        "AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') " +
        "GROUP BY c_nationkey % 5 ORDER BY code"),
    "sql_group_by_all" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "max(o_totalprice) AS max_price " +
        "FROM orders GROUP BY ALL ORDER BY ALL"),
    // the pipe chain restated in keyword form — same logical plan
    "sql_pipe_syntax" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n_items, " +
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) " +
        "/ 100 AS sum_qty FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus HAVING count(*) > 0 " +
        "ORDER BY l_returnflag, l_linestatus"),
    "sql_ddl_defaults" ->
      ("SELECT * FROM (VALUES " +
        "(CAST(1 AS BIGINT), 'NEW', 10), (2, 'NEW', 10), " +
        "(3, 'DONE', 10), (4, 'NEW', 99)) t(id, status, score) " +
        "ORDER BY id"),
    "sql_pivot" ->
      ("SELECT l_returnflag, " +
        "sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS open_qty, " +
        "count(l_quantity) FILTER (WHERE l_linestatus = 'O') AS open_n, " +
        "sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS fin_qty, " +
        "count(l_quantity) FILTER (WHERE l_linestatus = 'F') AS fin_n " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "plan_cbo_stats" ->
      ("SELECT o_orderstatus, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS DOUBLE) " +
        "/ 1e6 AS total " +
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"),
    "sql_recursive_cte" ->
      ("WITH RECURSIVE e AS (SELECT vec_id, label, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb " +
        "FROM embeddings), " +
        "pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b " +
        "FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.emb, b.emb), 6) >= 0.25), " +
        "edges AS (SELECT id_a AS src, id_b AS dst FROM pairs " +
        "UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs), " +
        "reach(id, d) AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS d " +
        "UNION ALL SELECT e.dst, r.d + 1 FROM reach r " +
        "JOIN edges e ON r.id = e.src WHERE r.d < 3) " +
        "SELECT id, min(d) AS hops FROM reach GROUP BY id " +
        "ORDER BY hops, id"),
    "sql_parameterized" ->
      ("SELECT o_orderpriority, count(*) AS n, " +
        "CAST(sum(CAST(round(o_totalprice * 1e6) AS BIGINT)) AS DOUBLE) " +
        "/ 1e6 AS total " +
        "FROM orders WHERE o_totalprice > 200000 " +
        "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "sql_tpch_q5" -> stmt(sparkSide = false, "q5"),
    "sql_tpch_q3" -> stmt(sparkSide = false, "q3"),
    "sql_tpch_q6" ->
      ("SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 1e6) " +
        "AS BIGINT)) AS DOUBLE) / 1e6 AS revenue FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' " +
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"),
    "sql_tpch_q10" -> stmt(sparkSide = false, "q10"),
    "sql_tpch_q13" -> stmt(sparkSide = false, "q13"),
    "sql_tpch_q14" ->
      ("SELECT CAST(100 * sum(CASE WHEN p_type = 'PROMO' " +
        "THEN CAST(round(l_extendedprice * (1 - l_discount) * 1e6) AS BIGINT) " +
        "ELSE 0 END) AS DOUBLE) / " +
        "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 1e6) " +
        "AS BIGINT)) AS DOUBLE) AS promo_revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00' " +
        "AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'"),
    "sql_tpch_q18" -> stmt(sparkSide = false, "q18")
  )
}
