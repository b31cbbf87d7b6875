package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Gvt

/** Round-12 regression tests for the r11 advisor findings:
  * check-before-first-load, RESTORE's metadata reset, mapping-aware
  * CDC, and the DSv2 connector's single version resolution.
  */
class Round12Spec extends GraftSuite {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/t"

  private def slab(from: Long, until: Long): DataFrame =
    (from until until).map(k => (k, k * 10)).toDF("k", "v")

  test("addCheck on a table with no commits: declared first, enforced from load one") {
    val dir = tmpTable("gvt-r12-fresh-")
    val v = Gvt.addCheck(spark, dir, "k_small", "k < 1000")
    assert(v == 0, s"first commit should be the schema commit, got $v")
    // a violating first load fails the job with NOTHING committed
    intercept[Exception] {
      Gvt.append(spark, dir, slab(990, 1010), Seq("k"))
    }
    assert(Gvt.latestVersion(dir) == 0)
    // a clean first load lands
    Gvt.append(spark, dir, slab(0, 100), Seq("k"))
    assert(Gvt.read(spark, dir).count() == 100)
  }

  test("addCheck on a fully-deleted table is vacuously valid") {
    val dir = tmpTable("gvt-r12-empty-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.delete(spark, dir, lit(true), Seq("k"))
    // snapshot is empty — validation must not require a readable frame
    Gvt.addCheck(spark, dir, "v_pos", "v >= 0")
    intercept[Exception] {
      Gvt.append(spark, dir, Seq((1L, -5L)).toDF("k", "v"), Seq("k"))
    }
  }

  test("restore resets CHECK constraints to the target version's state") {
    val dir = tmpTable("gvt-r12-restore-ck-")
    Gvt.append(spark, dir, slab(0, 100), Seq("k")) // v0: rows 0..99
    Gvt.delete(spark, dir, col("k") >= 50L, Seq("k")) // v1: only 0..49
    Gvt.addCheck(spark, dir, "k_small", "k < 50") // v2: valid NOW
    // restoring to v0 resurrects k>=50 rows — legal ONLY because the
    // restore also rolls the constraint back (the r11 advisor's
    // resurrect-violating-rows scenario)
    Gvt.restore(spark, dir, 0)
    assert(Gvt.read(spark, dir).count() == 100)
    assert(Gvt.mappingAt(dir).checkMap.isEmpty,
      "restore must reset declared checks to the target version's state")
    // and the pre-restore history still SERVES its own state: v2 keeps
    // the check in time travel
    assert(Gvt.mappingAt(dir, Some(2)).checkMap.contains("k_small"))
    // the now-unconstrained table accepts rows v2 would have refused
    Gvt.append(spark, dir, slab(100, 110), Seq("k"))
  }

  test("restore resets column mapping to the target version's state") {
    val dir = tmpTable("gvt-r12-restore-map-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.renameColumn(spark, dir, "v", "value")
    assert(Gvt.read(spark, dir).columns.toSeq == Seq("k", "value"))
    Gvt.restore(spark, dir, 0)
    assert(Gvt.read(spark, dir).columns.toSeq == Seq("k", "v"),
      "restore must roll the rename back with the data")
    assert(Gvt.mappingAt(dir).mappingEmpty)
  }

  test("restore to an identical state is a no-op (no new commit)") {
    val dir = tmpTable("gvt-r12-restore-noop-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val head = Gvt.latestVersion(dir)
    assert(Gvt.restore(spark, dir, 0) == head)
    assert(Gvt.latestVersion(dir) == head)
  }

  test("diff serves the toV snapshot's LOGICAL schema on a mapped table") {
    val dir = tmpTable("gvt-r12-cdc-map-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k")) // v0
    Gvt.renameColumn(spark, dir, "v", "value") // v1
    Gvt.append(spark, dir, slab(10, 20)
      .withColumnRenamed("v", "value"), Seq("k")) // v2
    val feed = Gvt.diff(spark, dir, 0, 2)
    assert(feed.columns.toSeq == Seq("k", "value", "change_type"),
      s"CDC must speak logical names, got ${feed.columns.toSeq}")
    assert(feed.filter(col("change_type") === "insert").count() == 10)
    // diffWithUpdates inherits the mapping (keyCols speak logical names)
    val upd = Gvt.diffWithUpdates(spark, dir, 0, 2, Seq("k"))
    assert(upd.columns.toSeq == Seq("k", "value", "change_type"))
  }

  test("DSv2 no-version load pins ONE version for the query's lifetime") {
    val dir = tmpTable("gvt-r12-pin-")
    Gvt.append(spark, dir, slab(0, 100), Seq("k"))
    val df = spark.read.format("gvt").option("path", dir).load()
    // a commit landing between load() and the action must NOT leak into
    // the already-resolved table (schema N + files N+1 was the hazard)
    Gvt.append(spark, dir, slab(100, 200), Seq("k"))
    assert(df.count() == 100, "resolved table must serve its pinned version")
    // a FRESH load sees the new head
    assert(spark.read.format("gvt").option("path", dir).load().count() == 200)
  }

  test("restore RESETS the unified-schema pin (no phantom columns)") {
    val dir = tmpTable("gvt-r12-pinreset-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.append(spark, dir,
      (10L until 20L).map(k => (k, k * 10, s"w$k")).toDF("k", "v", "w"),
      Seq("k"))
    Gvt.restore(spark, dir, 0)
    assert(Gvt.pinnedSchema(dir).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v")),
      "the evolved column must not haunt the restored pin")
    // connector and library agree on the restored shape
    val viaConnector = spark.read.format("gvt").option("path", dir).load()
    assert(viaConnector.columns.toSeq == Seq("k", "v"))
    assert(viaConnector.collect().toSeq.sortBy(_.getLong(0)) ==
      Gvt.read(spark, dir).collect().toSeq.sortBy(_.getLong(0)))
    // and the pre-restore history still pins the union
    assert(Gvt.pinnedSchema(dir, Some(1)).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v", "w")))
  }

  test("DROP TABLE invalidates connector memos: a re-created table serves its own schema") {
    val dir = tmpTable("gvt-r12-recreate-")
    val t = s"gvt.`$dir`"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 5)")
    assert(spark.sql(s"SELECT * FROM $t").columns.toSeq == Seq("k", "v"))
    spark.sql(s"DROP TABLE $t")
    spark.sql(s"CREATE TABLE $t (a STRING, b INT, c INT)")
    spark.sql(s"INSERT INTO $t VALUES ('x', 1, 2)")
    // same dir, same version numbers — the memo must have been dropped
    assert(spark.sql(s"SELECT * FROM $t").columns.toSeq ==
      Seq("a", "b", "c"))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 1)
  }

  test("cdc stream survives a mid-stream rename; schemas speak logical names") {
    val dir = tmpTable("gvt-r12-streammap-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.renameColumn(spark, dir, "v", "value") // mapping ACTIVE at start
    Gvt.append(spark, dir, slab(10, 20)
      .withColumnRenamed("v", "value"), Seq("k"))
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .option("mode", "cdc").load(dir)
      .groupBy("change_type")
      .agg(count(lit(1)).as("n"), sum("value").as("sv"))
      .writeStream
      .option("checkpointLocation", graft.Staging.fastTempDir("r12_cdc_map"))
      .format("memory").queryName("r12_cdc_map_result")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      Gvt.drainBounded(q)
      // the stream's declared schema spoke the LOGICAL name (the r12
      // review fix — it used to be the physical footer name and the
      // first cdc batch crashed)
      assert(spark.table("r12_cdc_map_result")
        .filter(col("change_type") === "insert").head.getLong(1) == 20)
      // a SECOND rename lands MID-STREAM; the physical identity bridge
      // keeps serving the stream's start-time names
      Gvt.renameColumn(spark, dir, "value", "cost")
      Gvt.append(spark, dir, slab(20, 30)
        .withColumnRenamed("v", "cost"), Seq("k"))
      Gvt.drainBounded(q)
      val after = spark.table("r12_cdc_map_result")
        .filter(col("change_type") === "insert").head
      assert(after.getLong(1) == 30, s"post-rename batch lost: $after")
      assert(after.getLong(2) == (0L until 30L).map(_ * 10).sum)
    } finally q.stop()
  }

  test("INSERT OVERWRITE resets the unified-schema pin (no phantom columns)") {
    val dir = tmpTable("gvt-r12-owpin-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.append(spark, dir,
      (10L until 20L).map(k => (k, k * 10, s"w$k")).toDF("k", "v", "w"),
      Seq("k"))
    Gvt.overwrite(spark, dir, slab(0, 5), Seq("k"))
    assert(Gvt.pinnedSchema(dir).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v")),
      "overwrite must reset the pin to what it wrote")
    assert(spark.read.format("gvt").option("path", dir).load()
      .columns.toSeq == Seq("k", "v"))
  }

  test("the stats declaration follows renames and survives drops") {
    val dir = tmpTable("gvt-r12-stats-")
    val t = s"gvt.`$dir`"
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('stats'='k,v')")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")
    Gvt.renameColumn(spark, dir, "k", "key")
    assert(Gvt.mappingAt(dir).statsList == Seq("key", "v"))
    // SQL inserts keep clustering+statting (physical slot unchanged)
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(10, 20)")
    assert(Gvt.snapshot(dir).last.min.contains("k"),
      "post-rename insert must stat the stable physical slot")
    // dropping a clustering column degrades gracefully
    Gvt.dropColumn(spark, dir, "v")
    assert(Gvt.mappingAt(dir).statsList == Seq("key"))
    spark.sql(s"INSERT INTO $t SELECT id FROM range(20, 30)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 30)
  }

  test("NOT NULL declarations are enforced as checks, not just recorded") {
    val dir = tmpTable("gvt-r12-notnull-")
    val t = s"gvt.`$dir`"
    spark.sql(s"CREATE TABLE $t (k BIGINT NOT NULL, v BIGINT)")
    assert(Gvt.mappingAt(dir).checkMap.contains("k_not_null"))
    // the API path cannot smuggle nulls past the declaration
    intercept[Exception] {
      Gvt.append(spark, dir,
        Seq((Some(1L), 1L), (None, 2L)).toDF("k", "v"), Seq())
    }
    assert(Gvt.latestVersion(dir) == 0, "violating append committed")
    // the pin stays all-nullable, so IS NULL is never folded away
    assert(Gvt.pinnedSchema(dir).forall(_.fields.forall(_.nullable)))
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 5)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE k IS NULL")
      .head.getLong(0) == 0)
  }

  test("publishBranch pins only the PUBLISHED adds' schemas") {
    val dir = tmpTable("gvt-r12-brpin-")
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val b = Gvt.createBranch(dir, "evo")
    // the branch writes an evolved column, then deletes every row of it
    Gvt.append(spark, b,
      (100L until 110L).map(k => (k, k, s"w$k")).toDF("k", "v", "w"),
      Seq("k"))
    Gvt.delete(spark, b, col("k") >= 100L, Seq("k"))
    Gvt.append(spark, b, slab(200, 210), Seq("k"))
    Gvt.publishBranch(spark, dir, "evo")
    Gvt.dropBranch(dir, "evo")
    assert(Gvt.pinnedSchema(dir).map(_.fieldNames.toSeq)
      .contains(Seq("k", "v")),
      "a column the branch wrote and fully deleted must not haunt the parent pin")
    assert(spark.read.format("gvt").option("path", dir).load()
      .columns.toSeq == Seq("k", "v"))
  }
}
