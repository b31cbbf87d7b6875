package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.sources.{Gvt, GvtOps}

/** Format-level tests for the [[graft.sources.Gvt]] versioned table:
  * log replay, time travel, checkpoint-anchored resolution (the JSON
  * `%08d.ckpt.json` checkpoint is the one checkpoint format), optimistic
  * concurrency, copy-on-write file granularity (untouched files carry
  * over BY REFERENCE through delete/merge), manifest pruning, and
  * atomic compaction. The registry keys' end-state correctness is the
  * driver oracle's job; these tests cover the mechanisms the oracle
  * can't see (which files were rewritten, what a loser commit does).
  */
class GvtSpec extends GraftSuite {

  private def freshDir(): String = Staging.tempDir("gvt_spec")

  /** k in [lo, until), v = k * 10 — disjoint ranges make file-level
    * assertions deterministic. */
  private def slab(lo: Long, until: Long): DataFrame =
    spark.range(lo, until).toDF("k").withColumn("v", col("k") * 10)

  private def sortedRows(df: DataFrame): Seq[(Long, Long)] =
    df.select("k", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  test("append + log replay: latest snapshot is the union of commits") {
    val dir = freshDir()
    assert(Gvt.latestVersion(dir) == -1)
    assert(Gvt.append(spark, dir, slab(0, 10), Seq("k")) == 0)
    assert(Gvt.append(spark, dir, slab(10, 25), Seq("k")) == 1)
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 25L).map(k => (k, k * 10)))
  }

  test("time travel: asOf v reads the state as of commit v") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 5), Seq("k"))
    Gvt.append(spark, dir, slab(5, 9), Seq("k"))
    Gvt.delete(spark, dir, col("k") < 2, Seq("k"))
    assert(sortedRows(Gvt.read(spark, dir, asOf = Some(0))) ==
      (0L until 5L).map(k => (k, k * 10)))
    assert(sortedRows(Gvt.read(spark, dir, asOf = Some(1))) ==
      (0L until 9L).map(k => (k, k * 10)))
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (2L until 9L).map(k => (k, k * 10)))
    intercept[IllegalArgumentException](Gvt.read(spark, dir, Some(99)))
  }

  test("delete rewrites ONLY files containing matching rows") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 110).repartition(1), Seq("k"))
    val before = Gvt.snapshot(dir).map(_.path)
    Gvt.delete(spark, dir, col("k") === 105L, Seq("k"))
    val after = Gvt.snapshot(dir).map(_.path)
    // the first slab's file must survive by reference (same path)
    assert(after.contains(before.head), s"untouched file was rewritten")
    assert(!after.contains(before(1)), s"touched file not replaced")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 10L) ++ (100L until 110L)).filter(_ != 105L)
        .map(k => (k, k * 10)))
    // predicate matching nothing is a no-op commit-wise
    val v = Gvt.latestVersion(dir)
    assert(Gvt.delete(spark, dir, col("k") === -1L, Seq("k")) == v)
  }

  test("merge: upsert semantics, untouched files carried by reference") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 110).repartition(1), Seq("k"))
    val before = Gvt.snapshot(dir).map(_.path)
    // updates hit only the second slab; plus a pure insert
    val src = spark.range(105, 108).toDF("k")
      .withColumn("v", lit(-1L))
      .unionByName(spark.range(500, 502).toDF("k")
        .withColumn("v", col("k") * 10))
    Gvt.merge(spark, dir, src, "k", Seq("k"))
    val after = Gvt.snapshot(dir).map(_.path)
    assert(after.contains(before.head), "file outside source key range rewritten")
    assert(!after.contains(before(1)), "matched file not replaced")
    val expected =
      ((0L until 10L) ++ (100L until 110L)).map(k =>
        (k, if (k >= 105 && k < 108) -1L else k * 10)) ++
        (500L until 502L).map(k => (k, k * 10))
    assert(sortedRows(Gvt.read(spark, dir)) == expected.sorted)
  }

  test("checkpoint: resolution works with pre-checkpoint commits gone") {
    val dir = freshDir()
    (0 until 12).foreach(i => Gvt.append(spark, dir, slab(i, i + 1), Seq("k")))
    val ld = Paths.get(dir, Gvt.LogDir)
    assert(Files.exists(ld.resolve(f"${10}%08d.ckpt.json")),
      "no checkpoint written at version 10")
    // one checkpoint format: the log holds commit docs and the JSON
    // checkpoint, nothing else
    val listing = Files.list(ld)
    val entries = try listing.iterator().asScala.map(_.getFileName.toString).toList
      finally listing.close()
    assert(entries.sorted ==
      ((0 until 12).map(v => f"$v%08d.json") :+ f"${10}%08d.ckpt.json").sorted,
      s"unexpected log entries: ${entries.sorted}")
    // replay must anchor on the checkpoint, not version 0: deleting the
    // pre-checkpoint commit docs must not change the answer
    (0 until 10).foreach(v => Files.delete(ld.resolve(f"$v%08d.json")))
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 12L).map(k => (k, k * 10)))
  }

  test("optimistic concurrency: append retries past a taken version; " +
      "read-modify-write aborts") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 5), Seq("k"))
    // squat on the next version like a concurrent committer would
    val squat = Paths.get(dir, Gvt.LogDir).resolve(f"${1}%08d.json")
    Files.write(squat,
      """{"version":1,"op":"append","adds":[],"removes":[]}"""
        .getBytes("UTF-8"))
    assert(Gvt.append(spark, dir, slab(5, 8), Seq("k")) == 2,
      "append must land after the concurrent commit")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 8L).map(k => (k, k * 10)))
    // append RETRY loop: competing commit lands while append is writing
    // its data files (between its version read and its publish)
    GvtSpec.squatDir = dir
    GvtSpec.squatVersion = 3
    GvtSpec.squatted.set(false)
    val tap = udf { k: Long => GvtSpec.squatNow(); k }
    assert(Gvt.append(spark, dir,
        slab(8, 10).withColumn("k", tap(col("k"))), Seq("k")) == 4,
      "append must retry past the mid-flight commit and land at 4")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 10L).map(k => (k, k * 10)))
    // read-modify-write retry: the competing commit lands BETWEEN the
    // op's snapshot read and its publish (injected from inside
    // predicate evaluation — the probe job runs after the snapshot and
    // before the publish, and local mode keeps executors in this JVM).
    // The op must lose version 5 to the squat, RE-EXECUTE against the
    // new head, and land at 6 — BOTH writers commit, serialized.
    GvtSpec.squatDir = dir
    GvtSpec.squatVersion = Gvt.latestVersion(dir) + 1
    GvtSpec.squatted.set(false)
    val racing = udf { k: Long => GvtSpec.squatNow(); k == 0L }
    val vDel = Gvt.delete(spark, dir, racing(col("k")), Seq("k"))
    assert(vDel == GvtSpec.squatVersion + 1,
      s"delete must retry past the squat and land at ${GvtSpec.squatVersion + 1}, got $vDel")
    assert(Gvt.commitAt(dir, GvtSpec.squatVersion).op == "append",
      "the competing commit must survive the retried delete")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (1L until 10L).map(k => (k, k * 10)),
      "retried delete applied against the post-squat head")
    // DV delete is read-modify-write too (its manifest rewrite carries
    // the dv list of a snapshot that just went stale) — same retry
    GvtSpec.squatDir = dir
    GvtSpec.squatVersion = Gvt.latestVersion(dir) + 1
    GvtSpec.squatted.set(false)
    val racing2 = udf { k: Long => GvtSpec.squatNow(); k == 1L }
    val vDv = Gvt.deleteWhereDV(spark, dir, racing2(col("k")))
    assert(vDv == GvtSpec.squatVersion + 1, "DV delete must retry and land")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (2L until 10L).map(k => (k, k * 10)))
    // fail-fast opt-out: with rmwRetries=0 the abort surfaces as before
    spark.conf.set("spark.graft.gvt.rmwRetries", "0")
    try {
      GvtSpec.squatDir = dir
      GvtSpec.squatVersion = Gvt.latestVersion(dir) + 1
      GvtSpec.squatted.set(false)
      val racing3 = udf { k: Long => GvtSpec.squatNow(); k == 2L }
      intercept[java.util.ConcurrentModificationException](
        Gvt.delete(spark, dir, racing3(col("k")), Seq("k")))
    } finally spark.conf.unset("spark.graft.gvt.rmwRetries")
  }

  test("stress: 8 concurrent appenders, every commit serialized, no loss") {
    val dir = freshDir()
    // real thread-level contention on the publish protocol: 8 writers x
    // 4 appends each race for version numbers; hard-link publishing must
    // serialize all 32 commits with no overwrites and no lost rows
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val failures = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Throwable]())
    (0 until 8).foreach { t =>
      pool.submit(new Runnable {
        override def run(): Unit =
          try (0 until 4).foreach { i =>
            val lo = (t * 4 + i) * 100L
            Gvt.append(spark, dir, slab(lo, lo + 100L), Seq("k"))
          } catch { case e: Throwable => failures.add(e) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(300, java.util.concurrent.TimeUnit.SECONDS))
    assert(failures.isEmpty, s"appenders threw: $failures")
    assert(Gvt.latestVersion(dir) == 31, "32 commits must serialize to v0..v31")
    assert(Gvt.read(spark, dir).count() == 3200L)
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 3200L).map(k => (k, k * 10)))
  }

  test("manifest pruning skips files and never affects the answer") {
    val dir = freshDir()
    (0 until 4).foreach(i =>
      Gvt.append(spark, dir,
        slab(i * 100L, i * 100L + 10L).repartition(1), Seq("k")))
    val (df, scanned, total) = Gvt.readPruned(spark, dir, "k", 100.0, 109.0)
    assert(total == 4 && scanned == 1,
      s"expected 1/4 files after pruning, got $scanned/$total")
    assert(sortedRows(df) == (100L until 110L).map(k => (k, k * 10)))
    // fully-pruned range: empty result, schema intact
    val (none, s2, _) = Gvt.readPruned(spark, dir, "k", 5000.0, 6000.0)
    assert(s2 == 0 && none.count() == 0)
    assert(none.columns.toSeq == Seq("k", "v"))
  }

  test("compaction: files shrink, content bit-identical, one atomic commit") {
    val dir = freshDir()
    (0 until 6).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10L, i * 10L + 10L).repartition(1),
        Seq("k")))
    val vBefore = Gvt.latestVersion(dir)
    Gvt.compact(spark, dir, smallRows = Long.MaxValue, targetFiles = 2,
      statsCols = Seq("k"))
    assert(Gvt.latestVersion(dir) == vBefore + 1, "compaction is one commit")
    assert(Gvt.snapshot(dir).size == 2)
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 60L).map(k => (k, k * 10)))
    // idempotent when there is nothing to gain
    assert(Gvt.compact(spark, dir, Long.MaxValue, 2, Seq("k")) == vBefore + 1)
  }

  test("diff: compaction yields an EMPTY feed; updates are delete+insert") {
    val dir = freshDir()
    (0 until 6).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10L, i * 10L + 10L).repartition(1),
        Seq("k")))
    val vPre = Gvt.latestVersion(dir)
    // layout maintenance moves every row to a new file — no semantic
    // change, so the bag-difference feed must cancel to nothing
    Gvt.compact(spark, dir, Long.MaxValue, 2, Seq("k"))
    assert(Gvt.diff(spark, dir, vPre, vPre + 1).count() == 0,
      "compaction must not surface in the change feed")
    // an upsert shows as one delete (old row) + one insert (new row)
    Gvt.merge(spark, dir,
      spark.range(5, 6).toDF("k").withColumn("v", lit(-1L)), "k", Seq("k"))
    val feed = Gvt.diff(spark, dir, vPre + 1, vPre + 2)
      .select("change_type", "k", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(feed == Set(("delete", 5L, 50L), ("insert", 5L, -1L)),
      s"unexpected feed: $feed")
    // cumulative diff from v0 state to head = net inserts only
    val cumulative = Gvt.diff(spark, dir, 0, vPre + 2)
    assert(cumulative.filter(col("change_type") === "delete").count() == 1,
      "only the updated row's old version is a net delete vs v0")
    assert(Gvt.diff(spark, dir, vPre, vPre).count() == 0, "self-diff empty")
  }

  test("registry keys: manifest pruning measurably skips fixture tiles") {
    val (scanned, total) = GvtOps.manifestPruneStats(spark, sf0001)
    assert(total == 8, s"tile staging should produce 8 files, got $total")
    assert(scanned <= 2, s"pruning should keep <=2 of 8 tiles, kept $scanned")
  }

  test("deleteKeys: distributed delete-by-join, untouched files intact") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 110).repartition(1), Seq("k"))
    val before = Gvt.snapshot(dir).map(_.path)
    // delete-set computed by a Spark job (kills 104, 106, 108)
    val doomed = spark.range(52, 55).toDF("h")
      .select((col("h") * 2).as("k"))
    Gvt.deleteKeys(spark, dir, doomed, "k", Seq("k"))
    val after = Gvt.snapshot(dir).map(_.path)
    assert(after.contains(before.head), "file outside delete-set rewritten")
    assert(!after.contains(before(1)), "touched file not replaced")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 10L) ++ (100L until 110L))
        .filterNot(k => k == 104L || k == 106L || k == 108L)
        .map(k => (k, k * 10)))
    // empty delete-set and miss-everything delete-set are no-ops
    val v = Gvt.latestVersion(dir)
    assert(Gvt.deleteKeys(spark, dir,
      spark.range(0, 0).toDF("k"), "k", Seq("k")) == v)
    assert(Gvt.deleteKeys(spark, dir,
      spark.range(5000, 5003).toDF("k"), "k", Seq("k")) == v)
  }

  test("appendTxn: same txn commits once; distinct txns land normally") {
    val dir = freshDir()
    assert(Gvt.appendTxn(spark, dir, slab(0, 5), Seq("k"), "b-0") == Some(0))
    // redelivery of the same batch (even with different data) is refused
    assert(Gvt.appendTxn(spark, dir, slab(100, 110), Seq("k"), "b-0").isEmpty)
    assert(Gvt.appendTxn(spark, dir, slab(5, 9), Seq("k"), "b-1") == Some(1))
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 9L).map(k => (k, k * 10)))
    // plain (txn-less) commits never collide with txn checks
    Gvt.append(spark, dir, slab(9, 10), Seq("k"))
    assert(Gvt.appendTxn(spark, dir, slab(10, 11), Seq("k"), "b-2") == Some(3))
  }

  test("vacuum: dead files physically gone, floor enforced, state intact") {
    val dir = freshDir()
    (0 until 6).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10L, i * 10L + 10L).repartition(1),
        Seq("k")))
    Gvt.compact(spark, dir, Long.MaxValue, 2, Seq("k"))
    val head = Gvt.latestVersion(dir)
    val (dataDeleted, docsDeleted) = Gvt.vacuum(dir, head, graceMs = 0L)
    assert(dataDeleted >= 6, s"expected the 6 pre-compaction files gone, " +
      s"deleted $dataDeleted")
    assert(docsDeleted >= 6, s"expected pre-floor log docs gone, " +
      s"deleted $docsDeleted")
    // the latest state survives byte-for-byte
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 60L).map(k => (k, k * 10)))
    // disk now holds exactly the live snapshot's files
    val live = Gvt.snapshot(dir).size
    val onDisk = {
      val s = Files.walk(Paths.get(dir, "data"))
      try s.iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    assert(onDisk == live, s"$onDisk parquet files on disk, $live live")
    // pre-floor time travel fails at snapshot resolution, not mid-read
    val e = intercept[IllegalArgumentException](Gvt.read(spark, dir, Some(2)))
    assert(e.getMessage.contains("vacuumed"))
    // idempotent at the same floor
    assert(Gvt.vacuum(dir, head, graceMs = 0L) == ((0, 0)))
  }

  test("vacuum grace window protects young unreferenced files") {
    val dir = freshDir()
    (0 until 3).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10L, i * 10L + 10L).repartition(1),
        Seq("k")))
    Gvt.compact(spark, dir, Long.MaxValue, 1, Seq("k"))
    val head = Gvt.latestVersion(dir)
    // default grace: files written milliseconds ago look like an
    // in-flight commit's and must survive the walk
    val (young, _) = Gvt.vacuum(dir, head)
    assert(young == 0, s"grace window should keep young files, deleted $young")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 30L).map(k => (k, k * 10)))
    // re-vacuuming AT the floor with zero grace reaps them — graced
    // skips are deferred, not leaked
    val (aged, _) = Gvt.vacuum(dir, head, graceMs = 0L)
    assert(aged >= 3, s"expected the pre-compaction files reaped, got $aged")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 30L).map(k => (k, k * 10)))
  }

  test("CoW delete keeps rows whose predicate evaluates to NULL") {
    val dir = freshDir()
    // x is null for k < 3 — SQL DELETE semantics remove only
    // predicate-TRUE rows; false AND null rows both stay
    val df = spark.range(0, 10).toDF("k")
      .withColumn("v", col("k") * 10)
      .withColumn("x", when(col("k") >= 3, col("k")))
    Gvt.append(spark, dir, df.repartition(1), Seq("k"))
    Gvt.delete(spark, dir, col("x") > 5, Seq("k"))
    val kept = Gvt.read(spark, dir).select("k")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept == (0L to 5L), s"null-x rows must survive the delete: $kept")
    // the merge-on-read twin agrees
    val dir2 = freshDir()
    Gvt.append(spark, dir2, df.repartition(1), Seq("k"))
    Gvt.deleteWhereDV(spark, dir2, col("x") > 5)
    val kept2 = Gvt.read(spark, dir2).select("k")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(kept2 == (0L to 5L), s"DV delete disagrees with CoW: $kept2")
  }

  test("z-order GVT: 2-D box prune beats 1-D, correctness intact") {
    val (kept2d, kept1d, total) = GvtOps.gvtZorderStats(spark, sf0001)
    assert(total >= 4, s"expected several z-tiles, got $total")
    assert(kept2d <= 2, s"2-D box should map to ~1 Morton quadrant, kept $kept2d")
    assert(kept2d < kept1d || kept1d <= 2,
      s"2-D prune ($kept2d) should beat px-only prune ($kept1d)")
  }

  test("DV delete: no data file rewritten, reads apply vectors, " +
      "dvRows exact across stacked vectors") {
    val dir = freshDir()
    // this test's SUBJECT is the stacked-vector MoR state (70% deleted
    // on the low slab by the second vector), which the r14 auto-absorb
    // policy would rightly rewrite — opt out to keep the vectors
    spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
    try {
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 110).repartition(1), Seq("k"))
    val before = Gvt.snapshot(dir)
    Gvt.deleteWhereDV(spark, dir, col("k") % 2 === 0)
    val mid = Gvt.snapshot(dir)
    // the MoR contract: every data file path survives BY REFERENCE
    assert(mid.map(_.path).toSet == before.map(_.path).toSet,
      "DV delete rewrote a data file")
    assert(mid.forall(f => f.dvRows == 5 && Option(f.dv).exists(_.size == 1)),
      s"expected 1 vector x 5 rows per file, got $mid")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 10L) ++ (100L until 110L)).filter(_ % 2 == 1)
        .map(k => (k, k * 10)))
    // second vector stacks; already-deleted rows are NOT re-marked
    // (k%2==0 rows also satisfy k<4 but are dead already: only 1,3 match)
    Gvt.deleteWhereDV(spark, dir, col("k") < 4)
    val after = Gvt.snapshot(dir)
    assert(after.map(_.path).toSet == before.map(_.path).toSet)
    val first = after.find(_.dvRows == 7).getOrElse(
      fail(s"expected the low slab at dvRows 5+2, got $after"))
    assert(Option(first.dv).exists(_.size == 2), "second vector not stacked")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 10L) ++ (100L until 110L))
        .filter(k => k % 2 == 1 && k >= 4).map(k => (k, k * 10)))
    // time travel applies the vectors OF THAT VERSION only
    assert(sortedRows(Gvt.read(spark, dir, asOf = Some(1))) ==
      ((0L until 10L) ++ (100L until 110L)).map(k => (k, k * 10)))
    // matching nothing is a no-op commit-wise
    val v = Gvt.latestVersion(dir)
    assert(Gvt.deleteWhereDV(spark, dir, col("k") === -1L) == v)
    } finally spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
  }

  test("DV x CoW: rewrites absorb vectors and never resurrect rows") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.deleteWhereDV(spark, dir, col("k") === 3L)
    // merge updates k=5; the rewrite must apply the vector (3 stays dead)
    val src = spark.range(5, 6).toDF("k").withColumn("v", lit(-1L))
    Gvt.merge(spark, dir, src, "k", Seq("k"))
    assert(Gvt.snapshot(dir).forall(f => Option(f.dv).forall(_.isEmpty)),
      "merge rewrite did not absorb the vector")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 10L).filter(_ != 3L).map(k => (k, if (k == 5) -1L else k * 10)))
    // probe precision: deleting the only live copy of a key, then
    // deleteKeys on that key, must be a manifest-level no-op
    Gvt.deleteWhereDV(spark, dir, col("k") === 7L)
    val v = Gvt.latestVersion(dir)
    val probeKeys = spark.range(7, 8).toDF("k")
    assert(Gvt.deleteKeys(spark, dir, probeKeys, "k", Seq("k")) == v,
      "DV-dead key dragged its file into a CoW rewrite")
    // compaction also absorbs
    Gvt.append(spark, dir, slab(100, 101).repartition(1), Seq("k"))
    Gvt.compact(spark, dir, Long.MaxValue, 1, Seq("k"))
    assert(Gvt.snapshot(dir).forall(f => Option(f.dv).forall(_.isEmpty)))
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 10L) ++ Seq(100L)).filter(k => k != 3L && k != 7L)
        .map(k => (k, if (k == 5) -1L else k * 10)))
  }

  test("absorbDeletes: manifest-driven rewrite drops vectors, " +
      "threshold spares lightly-deleted files") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 100).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 200).repartition(1), Seq("k"))
    // 50% dead in slab 1, 1% dead in slab 2 — built with the r14
    // auto-absorb policy off (50% is exactly the default trigger; the
    // MANUAL threshold mechanics are this test's subject)
    try {
      spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
      Gvt.deleteWhereDV(spark, dir, col("k") < 50 || col("k") === 199L)
    } finally spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
    val v = Gvt.latestVersion(dir)
    assert(Gvt.absorbDeletes(spark, dir, 0.9, Seq("k")) == v,
      "absorb at 0.9 should be a no-op (max deleted fraction is 0.5)")
    val v2 = Gvt.absorbDeletes(spark, dir, 0.25, Seq("k"))
    assert(v2 == v + 1)
    val snap = Gvt.snapshot(dir)
    // the heavy file was rewritten vector-free; the light one kept its DV
    assert(snap.exists(f => Option(f.dv).exists(_.nonEmpty) && f.dvRows == 1),
      s"lightly-deleted file should keep its vector: $snap")
    assert(snap.exists(f => Option(f.dv).forall(_.isEmpty)),
      s"heavily-deleted file should be vector-free: $snap")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (50L until 199L).map(k => (k, k * 10)))
  }

  test("DV x CDC: diff surfaces vector deletes; vacuum keeps live vectors") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.deleteWhereDV(spark, dir, col("k") < 3)
    // CDC: the DV commit churns the file entry — 3 deletes, 0 inserts
    val feed = Gvt.diff(spark, dir, 0, 1)
      .select("change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(feed.toSeq ==
      Seq(("delete", 0L), ("delete", 1L), ("delete", 2L)), feed.toSeq)
    // vacuum at the DV version must keep BOTH the data files and the
    // vector sidecar — deleting a live vector would resurrect rows
    Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (3L until 10L).map(k => (k, k * 10)))
  }

  test("DV x pruning: manifest-pruned reads still apply the vectors") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(100, 110).repartition(1), Seq("k"))
    Gvt.deleteWhereDV(spark, dir, col("k") === 102L)
    val (df, kept, total) = Gvt.readPruned(spark, dir, "k", 100.0, 110.0)
    assert(kept == 1 && total == 2, s"prune kept $kept/$total")
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (100L until 110L).filterNot(_ == 102L),
      "pruned read resurrected a vector-deleted row")
  }

  test("restore: metadata-only rollback, history preserved, CDC sees it") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    Gvt.append(spark, dir, slab(10, 20), Seq("k"))
    Gvt.delete(spark, dir, col("k") < 5, Seq("k")) // the "bad" commit
    def parquetCount(): Long = {
      val s = Files.walk(Paths.get(dir, "data"))
      try s.iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
    val filesBefore = parquetCount()
    val v = Gvt.restore(spark, dir, toVersion = 1)
    assert(v == 3)
    // pure metadata: not one data file written
    assert(parquetCount() == filesBefore, "restore wrote data files")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 20L).map(k => (k, k * 10)))
    // the undone head stays time-travelable (audit trail)
    assert(sortedRows(Gvt.read(spark, dir, asOf = Some(2))) ==
      (5L until 20L).map(k => (k, k * 10)))
    // CDC across the restore = exactly the rows it brought back
    val feed = Gvt.diff(spark, dir, 2, 3)
      .select("change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).sorted
    assert(feed.toSeq == (0L until 5L).map(("insert", _)), feed.toSeq)
    // restoring to the current state is a no-op commit-wise
    assert(Gvt.restore(spark, dir, toVersion = 3) == 3)
    // history continues past a restore
    Gvt.append(spark, dir, slab(100, 101), Seq("k"))
    assert(Gvt.read(spark, dir).count() == 21)
  }

  test("incremental summary: feed-fold ≡ recompute, incl. a group dying") {
    val fact = freshDir(); val view = freshDir()
    def rows(status: String, keys: Range, price: Double): DataFrame = {
      import spark.implicits._
      keys.map(k => (k.toLong, status, price)).toDF(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    }
    Gvt.append(spark, fact, rows("A", 0 until 5, 10.0), Seq("o_orderkey"))
    Gvt.append(spark, fact, rows("B", 100 until 103, 7.5), Seq("o_orderkey"))
    // v2 wipes out group B ENTIRELY — the summary row must DISAPPEAR,
    // not linger at zero
    Gvt.delete(spark, fact, col("o_orderstatus") === "B", Seq("o_orderkey"))
    Gvt.append(spark, fact, rows("A", 5 until 7, 2.25), Seq("o_orderkey"))
    GvtOps.refreshSummary(spark, fact, view)
    val got = Gvt.read(spark, view)
      .select("o_orderstatus", "n_orders", "sum_cents").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq(("A", 7L, 5450L)), got)
    // the view is itself versioned: its state after fold 1 (before the
    // group-B wipe) is time-travelable and still shows B
    val v1 = Gvt.read(spark, view, asOf = Some(1))
      .select("o_orderstatus").collect().map(_.getString(0)).sorted.toSeq
    assert(v1.contains("B"), s"pre-wipe view state lost B: $v1")
  }

  test("incremental summary resumed from version 0 folds only the later " +
      "commits") {
    import spark.implicits._
    val fact = freshDir(); val view = freshDir()
    def rows(status: String, keys: Range, price: Double): DataFrame =
      keys.map(k => (k.toLong, status, price)).toDF(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    Gvt.append(spark, fact, rows("A", 0 until 5, 10.0), Seq("o_orderkey"))
    GvtOps.refreshSummary(spark, fact, view)
    Gvt.append(spark, fact, rows("A", 5 until 7, 2.25)
      .union(rows("B", 100 until 103, 7.5)), Seq("o_orderkey"))
    GvtOps.refreshSummary(spark, fact, view, fromVersion = Some(0))
    def summary(df: DataFrame) = df.select("o_orderstatus", "n_orders", "sum_cents")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val recompute = Gvt.read(spark, fact).groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("sum_cents"))
    assert(summary(Gvt.read(spark, view)) == summary(recompute))
    assert(summary(Gvt.read(spark, view)) == Seq(("A", 7L, 5450L), ("B", 3L, 2250L)))
  }

  test("timestamp time travel: strict ts order, exact resolution, edges") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))   // v0
    Gvt.append(spark, dir, slab(10, 20), Seq("k"))  // v1
    Gvt.append(spark, dir, slab(20, 30), Seq("k"))  // v2
    val ts = (0 to 2).map(v => Gvt.commitAt(dir, v).ts)
    // commits land well inside one millisecond of each other on this
    // box, so strictness here is the +1 bump actually firing
    assert(ts == ts.sorted && ts.distinct == ts, s"ts not strict: $ts")
    // exact hit resolves to exactly that version
    assert(Gvt.versionAt(dir, ts(1)) == 1)
    // between two commits: the earlier one
    assert(Gvt.versionAt(dir, ts(2) - 1) == 1)
    assert(Gvt.versionAt(dir, ts(0)) == 0)
    // after head: head
    assert(Gvt.versionAt(dir, ts(2) + 1000000) == 2)
    // before creation: -1, and the read raises a clear error
    assert(Gvt.versionAt(dir, ts(0) - 1) == -1)
    val ex = intercept[IllegalArgumentException] {
      Gvt.readAsOfTimestamp(spark, dir, ts(0) - 1)
    }
    assert(ex.getMessage.contains("created later"))
    // the read itself: state at ts(v1) is v0 union v1
    assert(sortedRows(Gvt.readAsOfTimestamp(spark, dir, ts(1))) ==
      (0L until 20L).map(k => (k, k * 10)))
  }

  test("registry keys return rows at sf0.001") {
    GvtOps.queries.foreach { case (name, fn) =>
      assert(fn(spark, sf0001).count() > 0, s"$name returned no rows")
    }
  }

  test("diffWithUpdates pairs churned keys into update images; no-op rewrites stay silent") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    import spark.implicits._
    // update k∈{2,4}, NO-OP "update" k=6 (byte-identical row — must
    // cancel in diff and never reach the pairing), insert k=100
    val src = Seq((2L, 21L), (4L, 41L), (6L, 60L), (100L, 1000L)).toDF("k", "v")
    Gvt.merge(spark, dir, src, "k", Seq("k"))
    val d = Gvt.diffWithUpdates(spark, dir, 0, 1, Seq("k"))
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(d == Set(
      ("update_preimage", 2L, 20L), ("update_postimage", 2L, 21L),
      ("update_preimage", 4L, 40L), ("update_postimage", 4L, 41L),
      ("insert", 100L, 1000L)), s"got $d")
    // a pure delete commit stays a delete — no phantom pairing
    Gvt.delete(spark, dir, col("k") === 3L, Seq("k"))
    val d2 = Gvt.diffWithUpdates(spark, dir, 1, 2, Seq("k"))
      .collect().map(r => (r.getAs[String]("change_type"),
        r.getAs[Long]("k"), r.getAs[Long]("v"))).toSet
    assert(d2 == Set(("delete", 3L, 30L)), s"got $d2")
  }

  test("branch: isolated writes, publish squashes atomically, audit ≡ published") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val b = Gvt.createBranch(dir, "wap")
    assert(Gvt.listBranches(dir) == Seq("wap"))
    // branch sees the fork state; every op works on the branch dir
    assert(sortedRows(Gvt.read(spark, b)) == (0L until 10L).map(k => (k, k * 10)))
    Gvt.append(spark, b, slab(10, 20), Seq("k"))
    Gvt.delete(spark, b, col("k") % 5 === 4L, Seq("k"))   // CoW audit fix
    val audited = sortedRows(Gvt.read(spark, b))
    // parent saw NOTHING of it
    assert(sortedRows(Gvt.read(spark, dir)) == (0L until 10L).map(k => (k, k * 10)))
    val v = Gvt.publishBranch(spark, dir, "wap")
    assert(v == 1 && Gvt.latestVersion(dir) == 1, "squash = ONE parent commit")
    assert(sortedRows(Gvt.read(spark, dir)) == audited,
      "published state must equal the audited branch read")
    // time travel on the parent still has the pre-publish state
    assert(sortedRows(Gvt.read(spark, dir, asOf = Some(0))) ==
      (0L until 10L).map(k => (k, k * 10)))
    Gvt.dropBranch(dir, "wap")
    assert(Gvt.listBranches(dir).isEmpty)
    // the shared data pool survived the drop (the data symlink is
    // unlinked as an entry, never followed)
    assert(sortedRows(Gvt.read(spark, dir)) == audited)
  }

  test("branch: append-only branch lands on an advanced head; rewrite branch aborts") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val bApp = Gvt.createBranch(dir, "drops")
    Gvt.append(spark, bApp, slab(100, 110), Seq("k"))
    val bRw = Gvt.createBranch(dir, "fixes")
    Gvt.delete(spark, bRw, col("k") < 2L, Seq("k"))
    // parent advances past both forks
    Gvt.append(spark, dir, slab(10, 15), Seq("k"))
    // append-only branch: removes are empty by construction — safe
    Gvt.publishBranch(spark, dir, "drops")
    val got = sortedRows(Gvt.read(spark, dir))
    assert(got == ((0L until 15L) ++ (100L until 110L)).map(k => (k, k * 10)),
      "rebased publish must carry both the parent's and the branch's rows")
    // rewrite branch: its audit no longer describes the outcome — abort
    spark.conf.set("spark.graft.gvt.rmwRetries", "0")
    try intercept[java.util.ConcurrentModificationException] {
      Gvt.publishBranch(spark, dir, "fixes")
    } finally spark.conf.unset("spark.graft.gvt.rmwRetries")
    // double-create is a loud failure
    intercept[IllegalStateException] { Gvt.createBranch(dir, "drops") }
  }

  test("branch: linked-anchor seed through a checkpointed parent") {
    val dir = freshDir()
    // 12 commits: the parent crosses CheckpointEvery, so the fork seed
    // must anchor on the parent's own checkpoint + linked tail (no
    // fresh fork-manifest checkpoint is written any more)
    (0 until 12).foreach(i => Gvt.append(spark, dir, slab(i * 10, i * 10 + 10), Seq("k")))
    val b = Gvt.createBranch(dir, "linked")
    val bld = Paths.get(b, Gvt.LogDir)
    assert(Files.exists(bld.resolve(f"${10}%08d.ckpt.json")),
      "seed must hard-link the parent's newest checkpoint, not write one at the fork")
    assert(!Files.exists(bld.resolve(f"${11}%08d.ckpt.json")),
      "no fork-version checkpoint should be fabricated")
    assert(sortedRows(Gvt.read(spark, b)) == (0L until 120L).map(k => (k, k * 10)))
    // branch time travel BELOW the fork works through the linked tail
    assert(sortedRows(Gvt.read(spark, b, asOf = Some(10))) ==
      (0L until 110L).map(k => (k, k * 10)))
    // audit on the branch (append + DV delete — a surviving path whose
    // dv changed) publishes through the linked seed
    Gvt.append(spark, b, slab(200, 210), Seq("k"))
    Gvt.deleteWhereDV(spark, b, col("k") === 5L)
    Gvt.publishBranch(spark, dir, "linked")
    val expected = ((0L until 120L) ++ (200L until 210L)).filter(_ != 5L)
    assert(sortedRows(Gvt.read(spark, dir)) == expected.map(k => (k, k * 10)))
  }

  test("DV-audit publish re-adds a path without duplicating it") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val b = Gvt.createBranch(dir, "dvdup")
    Gvt.deleteWhereDV(spark, b, col("k") === 3L) // path survives, dv swaps
    // publish commits adds=[path with dv] and removes=[] — the upsert
    // shape resolution must handle by path
    Gvt.publishBranch(spark, dir, "dvdup")
    Gvt.dropBranch(dir, "dvdup")
    val paths = Gvt.snapshot(dir).map(_.path)
    assert(paths.distinct == paths, s"duplicate manifest path after DV re-add: $paths")
    // the pruned read must not resurrect the DV-deleted row through a
    // dv-less duplicate entry
    val (df, _, _) = Gvt.readPrunedMulti(spark, dir, Seq(("k", 0.0, 1e9)))
    assert(df.count() == 9L, "pruned read resurrected a DV-deleted row")
  }

  test("re-publishing a stale branch: rewrite branches abort, append-only ones stay state-neutral") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    // a REWRITE branch cannot re-publish at all: its own first publish
    // advanced the parent past the fork, so the advanced-head guard
    // fires before any duplicate commit can form
    val b = Gvt.createBranch(dir, "stale")
    Gvt.append(spark, b, slab(100, 110), Seq("k"))
    Gvt.deleteWhereDV(spark, b, col("k") === 105L)
    Gvt.publishBranch(spark, dir, "stale")
    spark.conf.set("spark.graft.gvt.rmwRetries", "0")
    try intercept[java.util.ConcurrentModificationException] {
      Gvt.publishBranch(spark, dir, "stale")
    } finally spark.conf.unset("spark.graft.gvt.rmwRetries")
    Gvt.dropBranch(dir, "stale")
    // an APPEND-ONLY stale branch re-publishes (rebase is legal), but
    // its adds re-add live (path, dv) entries with no removes — the
    // log's upsert contract must keep the manifest duplicate-free and
    // the state unchanged (one junk commit aside)
    val b2 = Gvt.createBranch(dir, "stale2")
    Gvt.append(spark, b2, slab(200, 210), Seq("k"))
    Gvt.publishBranch(spark, dir, "stale2")
    val rows = sortedRows(Gvt.read(spark, dir))
    def manifestKey() = Gvt.snapshot(dir)
      .map(f => f.path + "#" + Option(f.dv).getOrElse(Nil).mkString(",")).sorted
    val manifest = manifestKey()
    Gvt.publishBranch(spark, dir, "stale2")
    assert(sortedRows(Gvt.read(spark, dir)) == rows, "re-publish changed state")
    assert(manifestKey() == manifest)
    Gvt.dropBranch(dir, "stale2")
  }

  test("vacuum pins a branch's SUB-FORK reads; vacuum on a branch dir refuses") {
    val dir = freshDir()
    (0 until 11).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10, i * 10 + 10), Seq("k"))) // ckpt at v10
    Gvt.delete(spark, dir, col("k") < 10L, Seq("k")) // v11 drops v0's file
    val b = Gvt.createBranch(dir, "history") // fork 11, links [10, 11]
    intercept[IllegalArgumentException] { Gvt.vacuum(b, 0, graceMs = 0L) }
    // parent vacuums to head: v0's file is referenced ONLY by the
    // branch's sub-fork read at the linked checkpoint version
    Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    assert(sortedRows(Gvt.read(spark, b, asOf = Some(10))) ==
      (0L until 110L).map(k => (k, k * 10)),
      "parent vacuum reaped a file the branch's sub-fork read needs")
  }

  test("vacuum survives a seedless branch residue (claim without log seed)") {
    val dir = freshDir()
    (0 until 3).foreach(i =>
      Gvt.append(spark, dir, slab(i * 10, i * 10 + 10), Seq("k")))
    Gvt.delete(spark, dir, col("k") < 10L, Seq("k")) // v3 orphans v0's file
    // simulate a crash between createBranch's branch.json claim and its
    // log seed: a listed branch with NO linked commit docs. Pre-r11 the
    // parent vacuum threw require(last >= 0) on it — forever, until the
    // residue was hand-removed.
    val bdir = Paths.get(Gvt.branchDir(dir, "crashed"))
    Files.createDirectories(bdir)
    Files.write(bdir.resolve("branch.json"), """{"base":2}""".getBytes("UTF-8"))
    val head = Gvt.latestVersion(dir)
    val (d1, _) = Gvt.vacuum(dir, head, graceMs = 0L)
    // the residue might be a LIVE createBranch mid-seed about to link
    // sub-floor history, so it pins the parent's full resolvable range:
    // no DATA file referenced by ANY version may be deleted (pre-floor
    // log docs still age out — the pin is about the shared data pool)
    assert(d1 == 0, s"vacuum deleted $d1 files while a seedless branch was listed")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (10L until 30L).map(k => (k, k * 10)), "head read broken after residue vacuum")
    // dropping the residue releases the pin; the orphaned file reaps
    Gvt.dropBranch(dir, "crashed")
    val (d2, _) = Gvt.vacuum(dir, head, graceMs = 0L)
    assert(d2 > 0, "vacuum reaped nothing after the residue was dropped")
  }

  test("append-only branch publishes after the parent's floor passes the fork") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k")) // v0
    val b = Gvt.createBranch(dir, "late") // fork at 0
    Gvt.append(spark, b, slab(100, 110), Seq("k"))
    Gvt.append(spark, dir, slab(10, 20), Seq("k")) // v1
    Gvt.vacuum(dir, 1, graceMs = 0L) // parent floor 1 > fork 0
    // fork-state resolution must come from the BRANCH's linked log —
    // the parent can no longer serve version 0
    Gvt.publishBranch(spark, dir, "late")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      ((0L until 20L) ++ (100L until 110L)).map(k => (k, k * 10)))
  }

  test("branch: DV audit publishes vectors; vacuum pins live branches, reaps dropped ones") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10), Seq("k"))
    val b = Gvt.createBranch(dir, "dv")
    Gvt.append(spark, b, slab(10, 20), Seq("k"))
    Gvt.deleteWhereDV(spark, b, col("k") === 13L)   // MoR audit fix
    // an aged parent vacuum BEFORE publish must not reap the branch's
    // unique files (shared pool, branch still live)
    Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    assert(sortedRows(Gvt.read(spark, b)) ==
      ((0L until 10L) ++ (10L until 20L).filter(_ != 13L)).map(k => (k, k * 10)))
    Gvt.publishBranch(spark, dir, "dv")
    // the squash carried the DV sidecar: 13 stays dead on the parent
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 20L).filter(_ != 13L).map(k => (k, k * 10)))
    // drop an ABANDONED branch: its unique files become unreferenced
    val junk = Gvt.createBranch(dir, "junk")
    Gvt.append(spark, junk, slab(1000, 2000), Seq("k"))
    val before = Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    assert(before._1 == 0, s"live-branch files reaped: $before")
    Gvt.dropBranch(dir, "junk")
    val after = Gvt.vacuum(dir, Gvt.latestVersion(dir), graceMs = 0L)
    assert(after._1 > 0, "dropped branch's unique files must age out")
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 20L).filter(_ != 13L).map(k => (k, k * 10)))
  }

  /** Spark jobs launched by `body` from this thread. The listener keys
    * on a local property, so other threads' jobs never count; a marker
    * job afterwards drains the listener bus, which delivers in order. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("gvt.spec.probe")))
          .filter(_.startsWith(tag)).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("gvt.spec.probe", tag)
      try {
        body
        sc.setLocalProperty("gvt.spec.probe", s"$tag-marker")
        sc.parallelize(Seq(1), 1).count()
      } finally sc.setLocalProperty("gvt.spec.probe", null)
      val deadline = System.currentTimeMillis() + 30000
      while (!seen.contains(s"$tag-marker")) {
        assert(System.currentTimeMillis() < deadline, "listener bus stalled")
        Thread.sleep(10)
      }
      seen.size - 1
    } finally sc.removeSparkListener(listener)
  }

  test("building a read launches no Spark job, with and without DVs") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(10, 20).repartition(1), Seq("k"))
    def noJobs(label: String): Unit = {
      val head = Gvt.latestVersion(dir)
      assert(jobsDuring(Gvt.read(spark, dir)) == 0, s"$label: latest read")
      assert(jobsDuring(Gvt.read(spark, dir, Some(0))) == 0,
        s"$label: asOf read")
      assert(jobsDuring(Gvt.read(spark, dir, Some(head))) == 0,
        s"$label: asOf head read")
      assert(jobsDuring(Gvt.readPruned(spark, dir, "k", 3, 12)) == 0,
        s"$label: pruned read")
    }
    noJobs("no DV")
    spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
    try Gvt.deleteWhereDV(spark, dir, col("k") === 5L)
    finally spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
    assert(Gvt.snapshot(dir).exists(f => f.dv != null && f.dv.nonEmpty))
    noJobs("DV")
    // the job-free DataFrames still read the right rows
    assert(sortedRows(Gvt.read(spark, dir)) ==
      (0L until 20L).filter(_ != 5L).map(k => (k, k * 10)))
    assert(sortedRows(Gvt.readPruned(spark, dir, "k", 3, 12)._1) ==
      (3L to 12L).filter(_ != 5L).map(k => (k, k * 10)))
    assert(sortedRows(Gvt.read(spark, dir, Some(1))) ==
      (0L until 20L).map(k => (k, k * 10)))
  }

  test("an append pins the schema parquet's footer merge infers") {
    val dir = freshDir()
    def typed(lo: Long, until: Long): DataFrame =
      spark.range(lo, until).select(col("id").as("k"),
        expr("date_add(date'2024-01-01', cast(id as int))").as("d"),
        expr("timestamp'2024-01-02 03:04:05' + make_interval(0, 0, 0, 0, 0, 0, id)")
          .as("ts"),
        expr("timestamp_ntz'2024-01-02 03:04:05'").as("ntz"),
        col("id").cast("decimal(12,3)").as("dec"),
        concat(lit("s"), col("id").cast("string")).as("s"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"),
        array(col("id"), col("id") + 1).as("arr"),
        map(lit("m"), col("id")).as("mp"))
    Gvt.append(spark, dir, typed(0, 5), Seq("k"))
    Gvt.append(spark, dir, typed(5, 10), Seq("k"))
    val footer = spark.read.option("mergeSchema", "true")
      .parquet(Gvt.snapshot(dir).map(f => s"$dir/${f.path}"): _*).schema
    (0 to 1).foreach { v =>
      assert(DataType.fromJson(Gvt.commitAt(dir, v).dataSchema) == footer,
        s"commit $v pins a schema other than the footers'")
    }
    assert(Gvt.pinnedSchema(dir).contains(footer))
    assert(Gvt.read(spark, dir).schema == footer)
    assert(Gvt.read(spark, dir).count() == 10)
  }

  /** v0: (k, v) over [0, 5); v1 adds `w` over [5, 10). */
  private def evolved(): String = {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 5), Seq("k"))
    Gvt.append(spark, dir, slab(5, 10)
      .withColumn("w", concat(lit("w"), col("k").cast("string"))), Seq("k"))
    dir
  }

  private def evolvedRows(df: DataFrame): Seq[(Long, Long, Option[String])] =
    df.collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[Long]("v"), Option(r.getAs[String]("w"))))
      .toSeq.sortBy(_._1)

  private val evolvedWant: Seq[(Long, Long, Option[String])] =
    (0L until 5L).map(k => (k, k * 10, None)) ++
      (5L until 10L).map(k => (k, k * 10, Some(s"w$k")))

  test("read of an evolved table returns the union, nulls in older files") {
    val dir = evolved()
    val df = Gvt.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(evolvedRows(df) == evolvedWant)
    // time travel below the evolution serves that version's own schema
    assert(Gvt.read(spark, dir, Some(0)).columns.toSeq == Seq("k", "v"))
    // a rewrite touching only pre-evolution files keeps the union
    Gvt.updateWhere(spark, dir, col("k") === 1L, Seq("v" -> lit(-1L)),
      Seq("k"))
    assert(evolvedRows(Gvt.read(spark, dir)) ==
      evolvedWant.map { case (k, v, w) => (k, if (k == 1L) -1L else v, w) })
  }

  test("a pre-pin log still reads the right rows and columns") {
    val dir = evolved()
    // strip dataSchema from commit 1's doc, as a pre-pin writer left it
    val doc = Paths.get(dir, Gvt.LogDir, "00000001.json")
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = om.readTree(Files.readAllBytes(doc))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("dataSchema")
    Files.delete(doc)
    Files.write(doc, om.writeValueAsBytes(node))
    assert(Gvt.pinnedSchema(dir).isEmpty)
    val df = Gvt.read(spark, dir)
    assert(df.columns.toSeq == Seq("k", "v", "w"))
    assert(evolvedRows(df) == evolvedWant)
  }

  /** A 6,000-row table from two appends of interleaved halves, so the
    * files of both commits span the whole key range. */
  private def commitMixTable(): String = {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 6000).filter(col("k") % 2 === 0), Seq("k"))
    Gvt.append(spark, dir, slab(0, 6000).filter(col("k") % 2 === 1), Seq("k"))
    dir
  }

  test("jobs per call: append ≤1, update ≤2, merge ≤3, delete_dv ≤2, " +
      "compact ≤2") {
    val dir = commitMixTable()
    val append = jobsDuring(Gvt.append(spark, dir, slab(6000, 9000), Seq("k")))
    // the source replaces keys [8500, 9000) and inserts [9000, 9500)
    val merge = jobsDuring(Gvt.merge(spark, dir,
      slab(8500, 9500).withColumn("v", col("v") + 1), "k", Seq("k")))
    val update = jobsDuring(Gvt.updateWhere(spark, dir,
      col("k").between(100, 900), Seq("v" -> (col("v") - 1)), Seq("k")))
    val deleteDv = jobsDuring(Gvt.deleteWhereDV(spark, dir,
      col("k").between(2000, 2099)))
    val compact = jobsDuring(Gvt.compact(spark, dir, Long.MaxValue, 1, Seq("k")))
    assert(Gvt.latestVersion(dir) == 6, "every call must land a version")
    assert(append <= 1, s"append ran $append jobs")
    assert(merge <= 3, s"merge ran $merge jobs")
    assert(update <= 2, s"update ran $update jobs")
    assert(deleteDv <= 2, s"deleteWhereDV ran $deleteDv jobs")
    assert(compact <= 2, s"compact ran $compact jobs")
    val want = (0L until 9500L).filterNot(k => k >= 2000L && k < 2100L).map { k =>
      val merged = if (k >= 8500L) 1L else 0L
      val updated = if (k >= 100L && k <= 900L) -1L else 0L
      (k, k * 10 + merged + updated)
    }
    assert(sortedRows(Gvt.read(spark, dir)) == want)
    assert(Gvt.snapshot(dir).map(_.rows).sum == 9400L)
  }

  /** (rows, min, max) of the table's manifest as a whole, stats as longs. */
  private def manifestSpan(dir: String, c: String): (Long, Long, Long) = {
    val files = Gvt.snapshot(dir)
    (files.map(_.rows).sum, files.map(_.min(c).toLong).min,
      files.map(_.max(c).toLong).max)
  }

  test("a small commit written on one partition equals the range-" +
      "partitioned write of the same input") {
    val input = slab(0, 50000).withColumn("k", (col("k") * 7919) % 50000)
    val small = freshDir()
    Gvt.append(spark, small, input, Seq("k"))
    // an open cost of 0 puts every commit above the bound
    val ranged = freshDir()
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try Gvt.append(spark, ranged, input, Seq("k"))
    finally spark.conf.unset("spark.sql.files.openCostInBytes")
    assert(Gvt.snapshot(small).size == 1)
    assert(sortedRows(Gvt.read(spark, small)) ==
      sortedRows(Gvt.read(spark, ranged)))
    assert(manifestSpan(small, "k") == manifestSpan(ranged, "k"))
    assert(manifestSpan(small, "k") == (50000L, 0L, 49999L))
  }

  test("a commit above the bound keeps its range-clustered files") {
    val dir = freshDir()
    // 400,000 rows of two longs: a size estimate of about 9.6 MB, over
    // the 4 MB open cost
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try Gvt.append(spark, dir,
      slab(0, 400000).withColumn("k", (col("k") * 7919) % 400000), Seq("k"))
    finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    val spans = Gvt.snapshot(dir).map(f => (f.min("k").toLong, f.max("k").toLong))
      .sorted
    assert(spans.size == spark.conf.get("spark.sql.shuffle.partitions").toInt,
      s"files: $spans")
    spans.zip(spans.tail).foreach { case ((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping files: $spans") }
    assert(Gvt.snapshot(dir).map(_.rows).sum == 400000L)
  }

  test("deleteWhereDV: dvRows are the rows its sidecar holds, under a " +
      "non-deterministic predicate") {
    val dir = commitMixTable()
    spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
    try Gvt.deleteWhereDV(spark, dir, rand() < 0.3)
    finally spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
    val files = Gvt.snapshot(dir)
    val sidecars = files.flatMap(_.dv).distinct
    assert(sidecars.size == 1)
    val held = spark.read.parquet(s"$dir/${sidecars.head}")
      .groupBy("_gvt_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(files.map(f => f.path -> f.dvRows).toMap == held)
    assert(Gvt.read(spark, dir).count() == 6000L - held.values.sum)
  }

  test("merge: an empty source lands no version") {
    val dir = commitMixTable()
    val head = Gvt.latestVersion(dir)
    assert(Gvt.merge(spark, dir, slab(0, 10).filter(lit(false)), "k",
      Seq("k")) == head)
    assert(Gvt.latestVersion(dir) == head)
    assert(Gvt.read(spark, dir).count() == 6000L)
  }

  test("merge: a source with a duplicate key still fails loudly") {
    val dir = commitMixTable()
    val head = Gvt.latestVersion(dir)
    val e = intercept[IllegalArgumentException](Gvt.merge(spark, dir,
      slab(10, 20).union(slab(15, 16)), "k", Seq("k")))
    assert(e.getMessage == s"requirement failed: GVT $dir: merge source " +
      "has duplicate values of key 'k' (e.g. 15, ×2) — the upsert key " +
      "must be unique in the source (stricter than SQL MERGE " +
      "cardinality); deduplicate the source first")
    assert(Gvt.latestVersion(dir) == head)
  }

  test("a small merge's driver summary equals the aggregate's strings " +
      "for int, long, string and date keys") {
    def check(label: String, keys: DataFrame): Unit = {
      val counts = keys.groupBy(col("key")).agg(count(lit(1)).as("n"))
      val want = counts.agg(count(lit(1)), max(col("n")),
        min(col("key")).cast("string"), max(col("key")).cast("string")).head
      val got = Gvt.keySummary(spark, counts.collect().toSeq,
        keys.schema("key").dataType)
      assert(got == Gvt.KeySummary(want.getLong(0), want.getLong(1),
        want.getString(2), want.getString(3)), label)
    }
    val base = spark.range(-40, 60).select(
      when(col("id") % 9 === 0, lit(null)).otherwise(col("id") * 37).as("x"))
    check("int", base.select(col("x").cast("int").as("key")))
    check("long", base.select((col("x") * 1000000007L).as("key")))
    check("string", base.select(concat(lit("s"), col("x").cast("string")).as("key")))
    check("date", base.select(date_add(lit("2024-02-29").cast("date"),
      col("x").cast("int")).as("key")))
    check("all null", base.filter(col("x").isNull).select(col("x").as("key")))
    // a duplicated key sets the largest multiplicity
    check("duplicates", base.union(base).select(col("x").as("key")))
  }

  /** A table of k in [0, 10), v = 10k, plus two rows whose key is null. */
  private def nullKeyedTable(): String = {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).union(
      spark.range(2).select(lit(null).cast("long").as("k"), (-col("id") - 1).as("v"))),
      Seq("k"))
    dir
  }

  private def nullableRows(df: DataFrame): Seq[(Option[Long], Long)] =
    df.select("k", "v").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Long]), r.getLong(1)))
      .toSeq.sorted

  /** Runs `body` with every source above the one-partition bound. */
  private def aboveBound[A](body: => A): A = {
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try body finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("null keys in a merge's source and table end as the join leaves them") {
    val source = slab(4, 6).withColumn("v", col("v") + 1).union(
      spark.range(1).select(lit(null).cast("long").as("k"), lit(999L).as("v")))
    // null-keyed table rows stay, the null-keyed source row is inserted,
    // keys 4 and 5 are replaced
    val want = Seq((None, -2L), (None, -1L), (None, 999L)) ++
      (0L until 10L).map(k => (Some(k), if (k == 4 || k == 5) k * 10 + 1 else k * 10))
    val small = nullKeyedTable()
    Gvt.merge(spark, small, source, "k", Seq("k"))
    val joined = nullKeyedTable()
    aboveBound(Gvt.merge(spark, joined, source, "k", Seq("k")))
    assert(nullableRows(Gvt.read(spark, small)) == want)
    assert(nullableRows(Gvt.read(spark, joined)) == want)
    // a delete by null-only keys deletes nothing and lands no version
    val nulls = spark.range(1).select(lit(null).cast("long").as("k"))
    assert(Gvt.deleteKeys(spark, small, nulls, "k", Seq("k")) == 1)
    // deleteKeys by keys 0, 4 and null drops 0 and 4 only, on both paths
    val keys = spark.range(3).select(
      when(col("id") === 2, lit(null)).otherwise(col("id") * 4).cast("long").as("k"))
    assert(Gvt.deleteKeys(spark, small, keys, "k", Seq("k")) == 2)
    assert(aboveBound(Gvt.deleteKeys(spark, joined, keys, "k", Seq("k"))) == 2)
    val left = want.filterNot(r => r._1.contains(0L) || r._1.contains(4L))
    assert(nullableRows(Gvt.read(spark, small)) == left)
    assert(nullableRows(Gvt.read(spark, joined)) == left)
  }

  /** The physical plans of the queries `body` runs on this thread. */
  private def plansDuring(body: => Any): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // the listener runs on the listener bus; a marker query drains it
      spark.range(1).collect()
      val deadline = System.currentTimeMillis() + 30000
      while (plans.size < 1 || !plans.asScala.last.contains("Range (0, 1")) {
        assert(System.currentTimeMillis() < deadline, "listener bus stalled")
        Thread.sleep(10)
      }
      plans.asScala.toSeq.init
    } finally spark.listenerManager.unregister(listener)
  }

  test("a small merge matches its keys by InSet; a source above the bound, " +
      "or of another key type than the table's, keeps the join") {
    def joins(plans: Seq[String]): Boolean =
      plans.exists(p => p.contains("LeftSemi") || p.contains("LeftAnti"))
    val source = slab(8500, 9500).withColumn("v", col("v") + 1)
    val want = (0L until 9500L).map(k => (k, k * 10 + (if (k >= 8500L) 1L else 0L)))
    val small = commitMixTable()
    Gvt.append(spark, small, slab(6000, 9000), Seq("k"))
    val smallPlans = plansDuring(Gvt.merge(spark, small, source, "k", Seq("k")))
    assert(!joins(smallPlans), smallPlans.mkString("\n"))
    assert(smallPlans.exists(_.contains("INSET")), smallPlans.mkString("\n"))
    assert(sortedRows(Gvt.read(spark, small)) == want)

    val large = commitMixTable()
    Gvt.append(spark, large, slab(6000, 9000), Seq("k"))
    val largePlans = plansDuring(aboveBound(Gvt.merge(spark, large, source, "k", Seq("k"))))
    assert(joins(largePlans), largePlans.mkString("\n"))
    assert(sortedRows(Gvt.read(spark, large)) == want)

    // an int key against the table's long key: the join widens both sides
    val widened = commitMixTable()
    Gvt.append(spark, widened, slab(6000, 9000), Seq("k"))
    val intPlans = plansDuring(Gvt.merge(spark, widened,
      source.withColumn("k", col("k").cast("int")), "k", Seq("k")))
    assert(joins(intPlans), intPlans.mkString("\n"))
    assert(sortedRows(Gvt.read(spark, widened)) == want)
  }

  test("rewrites that end empty land no adds and leave no data dir") {
    val dir = freshDir()
    Gvt.append(spark, dir, slab(0, 10).repartition(1), Seq("k"))
    Gvt.append(spark, dir, slab(10, 20).repartition(1), Seq("k"))
    def dataDirs = Files.list(Paths.get(dir, "data")).iterator().asScala
      .map(_.getFileName.toString).toSet
    val before = dataDirs
    // every row of the first commit goes: the delete removes its files
    // and adds none
    assert(Gvt.delete(spark, dir, col("k") < 10, Seq("k")) == 2)
    assert(Gvt.commitAt(dir, 2).adds.isEmpty)
    assert(Gvt.commitAt(dir, 2).removes.toSet ==
      Gvt.commitAt(dir, 0).adds.map(_.path).toSet)
    assert(Gvt.deleteKeys(spark, dir, slab(10, 20).select("k"), "k",
      Seq("k")) == 3)
    assert(Gvt.commitAt(dir, 3).adds.isEmpty)
    assert(Gvt.snapshot(dir).isEmpty)
    // a DV delete matching nothing lands nothing and writes no sidecar
    Gvt.append(spark, dir, slab(20, 30), Seq("k"))
    val withAppend = dataDirs
    // (one job: the match is counted, and nothing is written)
    var noop = -1
    assert(jobsDuring { noop = Gvt.deleteWhereDV(spark, dir, col("k") > 100L) }
      == 1)
    assert(noop == 4)
    assert(dataDirs == withAppend)
    assert(dataDirs.size == before.size + 1, s"$before → $dataDirs")
  }

  /** (path, rows, min, max) of manifest entries, ordered by path. */
  private def statsOf(files: Seq[Gvt.GvtFile])
      : Seq[(String, Long, Map[String, String], Map[String, String])] =
    files.map(f => (f.path, f.rows, f.min, f.max)).sortBy(_._1)

  /** The footer path's stats of the table's files (None: it declines),
    * the aggregate's, and what the commits recorded. */
  private def statsPaths(dir: String, cols: Seq[String]) = {
    val files = Gvt.snapshot(dir)
    val schema = Gvt.pinnedSchema(dir).get
    val conf = spark.sessionState.newHadoopConf()
    val footers = files.map(f => Gvt.readFooter(conf, s"$dir/${f.path}"))
    (Gvt.footerStats(spark, conf, files.zip(footers), schema, cols)
      .map(statsOf),
      statsOf(Gvt.aggregateStats(spark, dir, files, schema, cols)),
      statsOf(files))
  }

  test("footer stats equal the aggregate's for byte, short, int, long, " +
      "string and date columns") {
    val dir = freshDir()
    val cols = Seq("b", "s", "i", "l", "str", "d")
    def typed(lo: Long, until: Long): DataFrame =
      spark.range(lo, until).select(
        (col("id") % 256 - 128).cast("byte").as("b"),
        (col("id") * 997 % 65536 - 32768).cast("short").as("s"),
        when(col("id") === 0, lit(Int.MinValue))
          .otherwise((col("id") * 7919).cast("int")).as("i"),
        when(col("id") === 1, lit(Long.MinValue))
          .when(col("id") === 2, lit(Long.MaxValue))
          .otherwise(col("id") * -3).as("l"),
        // "｡" (U+FF61) sorts above "😀" in UTF-16 but below it in UTF-8
        element_at(array(lit(""), lit("ß"), lit("日本語"), lit("zeta"),
          lit("Ωmega"), lit("😀"), lit("｡"), lit("a\u0000b"),
          lit(null).cast("string")), (col("id") % 9 + 1).cast("int")).as("str"),
        expr("date_add(date'1900-01-01', cast(id * 400 as int))").as("d"))
    Gvt.append(spark, dir, typed(0, 200), cols)
    // small row groups: a file's bounds fold over several chunks
    spark.conf.set("parquet.block.size", "4096")
    try Gvt.append(spark, dir, typed(200, 600).repartition(3), cols)
    finally spark.conf.unset("parquet.block.size")
    val conf = spark.sessionState.newHadoopConf()
    assert(Gvt.snapshot(dir).exists(f =>
      Gvt.readFooter(conf, s"$dir/${f.path}").getBlocks.size > 1))
    val (footer, agg, recorded) = statsPaths(dir, cols)
    assert(footer.contains(agg), "the footer path must serve these types")
    assert(recorded == agg)
    assert(recorded.map(_._2).sum == 600L)
    // pre-1970 dates, Long.MinValue, the empty string and 4-byte UTF-8
    // are among the bounds compared
    assert(recorded.exists(_._3.get("d").exists(_ < "1970")))
    assert(recorded.exists(_._3.get("l").contains(Long.MinValue.toString)))
    assert(recorded.exists(_._3.get("str").contains("")))
    assert(recorded.exists(_._4.get("str").contains("😀")))
  }

  test("stats the footers do not hold exactly take the aggregate") {
    def check(label: String, df: DataFrame, cols: Seq[String],
        footerServes: Boolean): Unit = {
      val dir = freshDir()
      Gvt.append(spark, dir, df, cols)
      val (footer, agg, recorded) = statsPaths(dir, cols)
      assert(footer.isDefined == footerServes, s"$label: footer path")
      assert(recorded == agg, s"$label: recorded stats")
      footer.foreach(f => assert(f == agg, s"$label: footer stats"))
    }
    val ids = spark.range(0, 50)
    check("all-null long", ids.select(col("id").as("k"),
      lit(null).cast("long").as("n")), Seq("k", "n"), footerServes = true)
    check("string over 4 KB", ids.select(col("id").as("k"),
      when(col("id") === 7, lit("x" * 5000))
        .otherwise(col("id").cast("string")).as("big")),
      Seq("k", "big"), footerServes = false)
    check("double", ids.select(col("id").as("k"),
      (col("id") / 3.0).as("x")), Seq("k", "x"), footerServes = false)
    check("decimal", ids.select(col("id").as("k"),
      (col("id") / 7).cast("decimal(12,3)").as("x")), Seq("k", "x"),
      footerServes = false)
    check("timestamp", ids.select(col("id").as("k"),
      expr("timestamp'1960-01-02 03:04:05' + make_interval(0, 0, 0, id)")
        .as("x")), Seq("k", "x"), footerServes = false)
    check("timestamp_ntz", ids.select(col("id").as("k"),
      expr("timestamp_ntz'2024-01-02 03:04:05' + make_interval(0, 0, 0, id)")
        .as("x")), Seq("k", "x"), footerServes = false)
    // dates rebased into the legacy hybrid calendar on write
    spark.conf.set("spark.sql.parquet.datetimeRebaseModeInWrite", "LEGACY")
    try check("legacy-rebased date", ids.select(col("id").as("k"),
      expr("date_add(date'1500-01-01', cast(id as int))").as("d")),
      Seq("k", "d"), footerServes = false)
    finally spark.conf.unset("spark.sql.parquet.datetimeRebaseModeInWrite")
    spark.conf.set("parquet.statistics.truncate.length", "4")
    try check("truncated stats", ids.select(col("id").as("k"),
      concat(lit("long-prefix-"), col("id").cast("string")).as("x")),
      Seq("k", "x"), footerServes = false)
    finally spark.conf.unset("parquet.statistics.truncate.length")
  }
}

object GvtSpec {
  @volatile var squatDir: String = _
  @volatile var squatVersion: Int = _
  val squatted = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Called from executor threads (same JVM in local mode): publishes a
    * competing commit exactly once, mid-operation. */
  def squatNow(): Unit =
    if (squatted.compareAndSet(false, true)) {
      Files.write(
        Paths.get(squatDir, Gvt.LogDir).resolve(f"$squatVersion%08d.json"),
        """{"version":0,"op":"append","adds":[],"removes":[]}"""
          .getBytes("UTF-8"))
    }
}
