package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import graft.sources.Gvt

/** The GVT streaming source ([[graft.sources.GvtStreamSource]]):
  * version offsets, advance-by-one pacing, append/cdc modes, change
  * commits, maintenance invisibility, and checkpoint resume.
  */
class GvtStreamSpec extends GraftSuite {

  import org.apache.spark.sql.Row

  private def freshTable(name: String): String = Staging.tempDir(name)

  private def seed(dir: String, rows: Seq[(Long, String, Double)]): Int = {
    import spark.implicits._
    Gvt.append(spark, dir,
      rows.toDF("k", "grp", "v"), Seq("k"))
  }

  private def startAgg(dir: String, sink: String,
      extra: Map[String, String] = Map.empty): StreamingQuery =
    spark.readStream.format("graft.sources.GvtStreamSource")
      .options(extra)
      .load(dir)
      .groupBy("grp").agg(count(lit(1)).as("n"),
        round(sum("v"), 2).as("sv"))
      .writeStream
      .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
      .format("memory").queryName(sink).outputMode("complete")
      .trigger(Trigger.ProcessingTime(0))
      .start()

  /** Deterministic drain: block until every available offset is
    * processed AND committed (throws the stream's death cause if it
    * failed). No wall-clock deadline — a loaded box just takes longer;
    * the old 60 s poll loops made the suite flaky under parallel load
    * (1/245 failures in full-suite runs, green in isolation). */
  private def drainTo(q: StreamingQuery, batch: Long): Unit = {
    Gvt.drainBounded(q)
    assert(q.lastProgress != null && q.lastProgress.batchId >= batch,
      s"stream stalled before batch $batch")
  }

  private def grpState(sink: String): Map[String, (Long, Double)] =
    spark.table(sink).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap

  test("append mode: initial snapshot + one batch per commit, exact rows") {
    val dir = freshTable("gvtstream_append")
    seed(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))            // v0
    seed(dir, Seq((3L, "a", 3.0)))                            // v1
    seed(dir, Seq((4L, "b", 4.0), (5L, "a", 5.0)))            // v2
    val q = startAgg(dir, "gvtstream_append_sink")
    try {
      drainTo(q, 2)
      // advance-by-one pacing: the three batches carry exactly the
      // snapshot then each commit's adds
      val perBatch = q.recentProgress.toSeq
        .filter(_.batchId <= 2).sortBy(_.batchId).map(_.numInputRows)
      assert(perBatch == Seq(2L, 1L, 2L), s"batch sizes: $perBatch")
      assert(grpState("gvtstream_append_sink") ==
        Map("a" -> ((3L, 9.0)), "b" -> ((2L, 6.0))))
    } finally q.stop()
  }

  test("append mode: a change commit fails the stream with guidance") {
    val dir = freshTable("gvtstream_chg")
    seed(dir, Seq((1L, "a", 1.0), (2L, "a", 2.0)))            // v0
    Gvt.delete(spark, dir, col("k") === 1L, Seq("k"))         // v1: rewrite
    val q = startAgg(dir, "gvtstream_chg_sink")
    try {
      val ex = intercept[StreamingQueryException] {
        // processAllAvailable rethrows the stream's death cause
        q.processAllAvailable()
        q.awaitTermination(10000)
      }
      val msg = Option(ex.getCause).fold(ex.getMessage)(_.getMessage)
      assert(msg.contains("skipChangeCommits"), s"unhelpful error: $msg")
    } finally q.stop()
  }

  test("append mode: skipChangeCommits skips rewrites, later appends flow") {
    val dir = freshTable("gvtstream_skip")
    seed(dir, Seq((1L, "a", 1.0), (2L, "a", 2.0)))            // v0
    Gvt.delete(spark, dir, col("k") === 1L, Seq("k"))         // v1: skipped
    seed(dir, Seq((3L, "b", 3.0)))                            // v2
    val q = startAgg(dir, "gvtstream_skip_sink",
      Map("skipChangeCommits" -> "true"))
    try {
      drainTo(q, 2)
      // v1's retraction is NOT applied (append semantics: emitted rows
      // stand); v2's append lands
      assert(grpState("gvtstream_skip_sink") ==
        Map("a" -> ((2L, 3.0)), "b" -> ((1L, 3.0))))
    } finally q.stop()
  }

  test("append mode: compaction mid-stream emits zero rows") {
    val dir = freshTable("gvtstream_compact")
    seed(dir, Seq((1L, "a", 1.0)))                            // v0
    seed(dir, Seq((2L, "a", 2.0)))                            // v1
    Gvt.compact(spark, dir, smallRows = 1000L, targetFiles = 1,
      Seq("k"))                                               // v2: layout
    seed(dir, Seq((3L, "b", 3.0)))                            // v3
    val q = startAgg(dir, "gvtstream_compact_sink")
    try {
      drainTo(q, 3)
      val sizes = q.recentProgress.toSeq
        .filter(_.batchId <= 3).sortBy(_.batchId).map(_.numInputRows)
      assert(sizes == Seq(1L, 1L, 0L, 1L), s"batch sizes: $sizes")
      assert(grpState("gvtstream_compact_sink") ==
        Map("a" -> ((2L, 3.0)), "b" -> ((1L, 3.0))))
    } finally q.stop()
  }

  test("cdc mode: signed fold of the feed equals the final state") {
    val dir = freshTable("gvtstream_cdc")
    seed(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))            // v0
    seed(dir, Seq((3L, "a", 3.0)))                            // v1
    Gvt.delete(spark, dir, col("grp") === "b", Seq("k"))      // v2: -b
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    val name = "gvtstream_cdc_sink"
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .option("mode", "cdc")
      .load(dir)
      .select(col("grp"), sign.as("w"),
        (sign * round(col("v") * 100, 0).cast("long")).as("cents"))
      .groupBy("grp").agg(sum("w").as("n"), sum("cents").as("cents"))
      .writeStream
      .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
      .format("memory").queryName(name).outputMode("complete")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      drainTo(q, 2)
      val state = spark.table(name).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // group b retracted to zero by the delete's feed rows
      assert(state == Map("a" -> ((2L, 400L)), "b" -> ((0L, 0L))),
        s"folded state: $state")
    } finally q.stop()
  }

  test("cdc mode: the streamed feed carries explicit delete rows") {
    val dir = freshTable("gvtstream_cdcrows")
    seed(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))            // v0
    Gvt.delete(spark, dir, col("k") === 2L, Seq("k"))         // v1
    val name = "gvtstream_cdcrows_sink"
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .option("mode", "cdc")
      .load(dir)
      .writeStream
      .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      drainTo(q, 1)
      val rows = spark.table(name)
        .select("change_type", "k", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("insert", 1L, 0L), ("insert", 2L, 0L),
        ("delete", 2L, 1L)), s"feed rows: $rows")
    } finally q.stop()
  }

  test("cdc mode: maxVersionsPerBatch drains a range per batch, feed invariant") {
    val dir = freshTable("gvtstream_cdcrange")
    seed(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))            // v0
    seed(dir, Seq((3L, "a", 3.0)))                            // v1
    Gvt.delete(spark, dir, col("k") === 2L, Seq("k"))         // v2
    seed(dir, Seq((4L, "b", 4.0)))                            // v3
    // the full feed every pacing must produce: each row tagged with ITS
    // commit version, not the range end
    val expected = Set(
      ("insert", 1L, 0L), ("insert", 2L, 0L), ("insert", 3L, 1L),
      ("delete", 2L, 2L), ("insert", 4L, 3L))
    def feed(mvpb: Int, sink: String): (Set[(String, Long, Long)], Long) = {
      val q = spark.readStream.format("graft.sources.GvtStreamSource")
        .option("mode", "cdc")
        .option("maxVersionsPerBatch", mvpb.toString)
        .load(dir)
        .writeStream
        .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
        .format("memory").queryName(sink).outputMode("append")
        .trigger(Trigger.ProcessingTime(0))
        .start()
      try {
        q.processAllAvailable()
        q.exception.foreach(throw _)
        val rows = spark.table(sink)
          .select("change_type", "k", "_commit_version").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
        (rows, q.lastProgress.batchId)
      } finally q.stop()
    }
    val (coarse, coarseBatches) = feed(16, "gvtstream_cdcrange_coarse")
    val (fine, fineBatches) = feed(1, "gvtstream_cdcrange_fine")
    // coarse catch-up: the cold 4-commit history drains in ONE batch —
    // the startingVersion snapshot UNIONED with the v1..v3 range (r16;
    // r10's shape was snapshot-batch + range-batch); default pacing
    // pays one batch per commit
    assert(coarseBatches == 0L, s"coarse drain used ${coarseBatches + 1} batches")
    assert(fineBatches == 3L, s"fine drain used ${fineBatches + 1} batches")
    assert(coarse == expected, s"coarse feed: $coarse")
    assert(fine == expected, "range batching changed the feed")
  }

  test("delta-log IVM: a fully-retracted group folds out of the view") {
    val fact = freshTable("gvtstream_ivm_fact")
    val view = freshTable("gvtstream_ivm_view")
    seed(fact, Seq((1L, "a", 1.0), (2L, "b", 2.0)))           // v0
    seed(fact, Seq((3L, "a", 3.0)))                           // v1
    Gvt.delete(spark, fact, col("grp") === "b", Seq("k"))     // v2: kill b
    val head = Gvt.latestVersion(fact)
    val sign = when(col("change_type") === "insert", 1L).otherwise(-1L)
    def deltaOf(batch: DataFrame): DataFrame = batch
      .select(col("grp"), sign.as("w"),
        (sign * round(col("v") * 100, 0).cast("long")).as("c"))
      .groupBy("grp").agg(sum("w").as("dn"), sum("c").as("dcents"))
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .option("mode", "cdc").load(fact)
      .writeStream
      .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (!batch.isEmpty)
          Gvt.appendTxn(spark, view, deltaOf(batch), Seq("grp"), s"t-$id")
        ()
      }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try drainTo(q, head) finally q.stop()
    // exactly-once under redelivery: same txn id refused
    val dup = Gvt.appendTxn(spark, view,
      deltaOf(Gvt.read(spark, fact, Some(0))
        .withColumn("change_type", lit("insert"))), Seq("grp"), "t-0")
    assert(dup.isEmpty, s"redelivered delta committed twice: $dup")
    val folded = Gvt.read(spark, view)
      .groupBy("grp").agg(sum("dn").as("n"), sum("dcents").as("cents"))
      .filter(col("n") =!= 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // group b's inserts and deletes cancel: it must NOT appear
    assert(folded == Set(("a", 2L, 400L)), s"folded view: $folded")
  }

  test("restart resumes from the checkpoint: no snapshot re-emit") {
    val dir = freshTable("gvtstream_resume")
    seed(dir, Seq((1L, "a", 1.0)))                            // v0
    seed(dir, Seq((2L, "a", 2.0)))                            // v1
    val ckpt = Staging.fastTempDir("gvtstream_resume_ckpt")
    // memory sink refuses checkpoint recovery; foreachBatch supports it
    val got = java.util.Collections.synchronizedSet(
      new java.util.HashSet[Long]())
    def start(): StreamingQuery =
      spark.readStream.format("graft.sources.GvtStreamSource")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("k").collect().foreach(r => got.add(r.getLong(0)))
          ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val q1 = start()
    try drainTo(q1, 1) finally q1.stop()
    assert(got.contains(1L) && got.contains(2L))
    got.clear()
    seed(dir, Seq((3L, "b", 3.0)))                            // v2, post-stop
    val q2 = start()
    try {
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      // resumed checkpoint: ONLY v2's rows arrive — a source that
      // forgot its high-water mark would re-serve the initial snapshot
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set(3L),
        s"resumed batch re-emitted: ${got.asScala.toSet}")
    } finally q2.stop()
  }

  test("high-water mark lives INSIDE the checkpoint, never under cwd") {
    val dir = freshTable("gvtstream_markloc")
    seed(dir, Seq((1L, "a", 1.0)))                            // v0
    val ckpt = Staging.fastTempDir("gvtstream_markloc_ckpt")
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (_: DataFrame, _: Long) => () }
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try drainTo(q, 0) finally q.stop()
    val mark = new java.io.File(s"$ckpt/sources/0/gvt-high-water")
    assert(mark.isFile, s"mark not in checkpoint: ${mark.getPath}")
    // the r8 bug: java.nio treated the file:-scheme metadataPath as
    // relative and wrote `$CWD/file:/...` — that junk must never appear
    val junk = new java.io.File("file:")
    assert(!junk.exists, s"cwd-relative 'file:' artifact created")
  }

  test("restart from a RELOCATED checkpoint still serves only new commits") {
    val dir = freshTable("gvtstream_moveckpt")
    seed(dir, Seq((1L, "a", 1.0)))                            // v0
    seed(dir, Seq((2L, "a", 2.0)))                            // v1
    val ckptA = Staging.fastTempDir("gvtstream_moveckpt_a")
    val got = java.util.Collections.synchronizedSet(
      new java.util.HashSet[Long]())
    def start(ckpt: String): StreamingQuery =
      spark.readStream.format("graft.sources.GvtStreamSource")
        .load(dir)
        .writeStream.option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.select("k").collect().foreach(r => got.add(r.getLong(0)))
          ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .start()
    val q1 = start(ckptA)
    try drainTo(q1, 1) finally q1.stop()
    assert(got.contains(1L) && got.contains(2L))
    got.clear()
    // move the WHOLE checkpoint directory: all resume state (engine
    // offset log AND the source's high-water mark) must travel with it.
    // The r8 bug parked the mark under the driver cwd, so a moved
    // checkpoint "worked" only because the cwd stayed the same.
    val ckptB = Staging.fastTempDir("gvtstream_moveckpt_b")
    new java.io.File(ckptB).delete()
    java.nio.file.Files.move(java.nio.file.Paths.get(ckptA),
      java.nio.file.Paths.get(ckptB))
    assert(new java.io.File(s"$ckptB/sources/0/gvt-high-water").isFile,
      "mark did not travel with the checkpoint")
    seed(dir, Seq((3L, "b", 3.0)))                            // v2, post-move
    val q2 = start(ckptB)
    try {
      q2.processAllAvailable()
      q2.exception.foreach(throw _)
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set(3L),
        s"relocated checkpoint re-emitted: ${got.asScala.toSet}")
    } finally q2.stop()
  }

  test("maxRowsPerBatch splits one fat commit across micro-batches") {
    val dir = freshTable("gvtstream_rows")
    import spark.implicits._
    seed(dir, Seq((1L, "a", 1.0)))                            // v0: snapshot
    // v1: ONE fat commit of 400 rows across many small files (an open
    // cost of 0 puts the commit above writeData's one-partition bound,
    // and AQE coalescing off keeps its range clustering's
    // shuffle-partition split; per-file counts come from the manifest,
    // which the pacing walk reads)
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")
    try Gvt.append(spark, dir,
      (100L until 500L).map(k => (k, "b", 1.0)).toDF("k", "grp", "v"),
      Seq("k"))
    finally {
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
      spark.conf.unset("spark.sql.files.openCostInBytes")
    }
    val perFile = Gvt.snapshot(dir).filter(_.path.contains("/c1-"))
      .map(_.rows)
    assert(perFile.size >= 3 && perFile.forall(_ <= 150),
      s"fat commit did not split into small files: $perFile")
    val q = startAgg(dir, "gvtstream_rows_sink",
      Map("maxRowsPerBatch" -> "150"))
    try {
      // drain everything — pacing sub-batches included: available() in
      // the source reports the table head, so processAllAvailable only
      // returns once every split batch has committed
      q.processAllAvailable()
      q.exception.foreach(throw _)
      def state() = grpState("gvtstream_rows_sink")
      assert(state() == Map("a" -> ((1L, 1.0)), "b" -> ((400L, 400.0))),
        s"final state wrong: ${state()}")
      val sizes = q.recentProgress.toSeq
        .filter(p => p.batchId >= 1 && p.numInputRows > 0)
        .sortBy(_.batchId).map(_.numInputRows)
      // the ONE commit arrived as several batches, each within budget
      assert(sizes.size >= 3, s"fat commit served in too few batches: $sizes")
      assert(sizes.forall(_ <= 150), s"a batch breached the budget: $sizes")
      assert(sizes.sum == 400L, s"split lost/duplicated rows: $sizes")
    } finally q.stop()
  }

  test("cdc multi-version batch stamps each row with ITS commit version") {
    val dir = freshTable("gvtstream_cdcver")
    seed(dir, Seq((1L, "a", 1.0)))                            // v0
    seed(dir, Seq((2L, "b", 2.0)))                            // v1
    Gvt.delete(spark, dir, col("k") === 1L, Seq("k"))         // v2
    seed(dir, Seq((3L, "c", 3.0)))                            // v3
    val name = "gvtstream_cdcver_sink"
    // all 4 versions exist up front: maxVersionsPerBatch=4 makes batch
    // 0 carry the v0 snapshot UNIONED with the (0, 3] range in ONE
    // getBatch (r16 — previously snapshot-batch + range-batch)
    val q = spark.readStream.format("graft.sources.GvtStreamSource")
      .option("mode", "cdc")
      .option("maxVersionsPerBatch", "4")
      .load(dir)
      .writeStream
      .option("checkpointLocation", Staging.fastTempDir("gvtstream_ckpt"))
      .format("memory").queryName(name).outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      drainTo(q, 0)
      val rows = spark.table(name)
        .select("change_type", "k", "_commit_version").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      // a single-range diff would stamp everything 3 — and worse, v1's
      // insert of k=2 survives while v2 deletes k=1: each change must
      // carry the version of the commit that MADE it
      assert(rows == Set(
        ("insert", 1L, 0L),                                   // snapshot
        ("insert", 2L, 1L), ("delete", 1L, 2L), ("insert", 3L, 3L)),
        s"feed rows: $rows")
    } finally q.stop()
  }

  test("a BRANCH is a streaming source unchanged; parent commits stay invisible to it") {
    val dir = freshTable("gvtstream_branch")
    seed(dir, Seq((1L, "a", 1.0), (2L, "b", 2.0)))            // parent v0
    val b = Gvt.createBranch(dir, "feed")
    seed(b, Seq((3L, "a", 3.0)))                              // branch v1
    seed(dir, Seq((9L, "b", 9.0)))                            // parent v1 — NOT the branch's
    val q = startAgg(b, "gvtstream_branch_sink")
    try {
      drainTo(q, 1)
      assert(grpState("gvtstream_branch_sink") ==
        Map("a" -> (2L, 4.0), "b" -> (1L, 2.0)),
        "branch stream must serve the branch's history, not the parent's")
      seed(b, Seq((4L, "b", 4.0)))                            // branch v2
      drainTo(q, 2)
      assert(grpState("gvtstream_branch_sink") ==
        Map("a" -> (2L, 4.0), "b" -> (2L, 6.0)))
    } finally q.stop()
  }
}
