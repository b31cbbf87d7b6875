package graft

import org.apache.spark.sql.functions._

import graft.sources.Gvt

/** Dev probe: GVT scale behavior, measured (same protocol discipline as
  * DevShuffleAudit/DevScaleLlm — numbers land in BASELINE.md §round-8).
  *
  * Three claims under test:
  *  1. MERGE cost is governed by how the source's keys cluster against
  *     the table's file layout: a range-clustered source rewrites only
  *     the overlapping files; a uniformly-spread source touches every
  *     file (the documented worst case — the 100 TB remedy is keeping
  *     the table clustered on the merge key so upserts arrive
  *     range-local).
  *  2. Snapshot resolution is O(log tail) thanks to checkpoint
  *     anchoring: resolving version 120 must read ≤ CheckpointEvery
  *     commit docs + 1 checkpoint, not 121 docs.
  *  3. Manifest pruning removes files BEFORE Spark plans the scan: a
  *     narrow key-range query over a range-tiled table should keep ~1
  *     of N files and run commensurately faster than the full scan.
  *
  * Usage: runMain graft.DevGvtScale <sfDir> [tiles]
  */
object DevGvtScale {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val tiles = if (args.length > 1) args(1).toInt else 20
    val spark = Sessions.localFor("32", dir, "ERROR")
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("dv")) {
      dvProbe(spark); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("txnlog")) {
      txnlogProbe(); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("autovac")) {
      autovacProbe(spark); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("absorb")) {
      absorbProbe(spark); spark.stop(); return
    }
    if (sys.env.get("SPARK_GRAFT_SCALE_ONLY").contains("autocompact")) {
      autocompactProbe(spark); spark.stop(); return
    }

    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[gvt-scale] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    val docs = Tables(spark, dir, "documents").cache()
    val n = docs.count()
    val mm = docs.agg(min("doc_id"), max("doc_id")).head
    val (lo, hi) = (mm.getLong(0), mm.getLong(1))
    println(s"[gvt-scale] corpus: $n docs, doc_id [$lo, $hi], $tiles tiles")

    // ---- build: range-tiled commits (clustered layout) ----
    val table = Staging.tempDir("gvt_scale")
    timed(s"build $tiles tiled commits") {
      (0 until tiles).foreach { i =>
        val from = lo + (hi - lo + 1) * i / tiles
        val until = lo + (hi - lo + 1) * (i + 1) / tiles
        Gvt.append(spark, table,
          docs.filter(col("doc_id") >= from && col("doc_id") < until),
          Seq("doc_id"))
      }
    }
    val filesTotal = Gvt.snapshot(table).size
    println(s"[gvt-scale] files after build: $filesTotal")

    // ---- claim 1a: range-clustered merge (source inside one tile) ----
    val tileSpan = (hi - lo + 1) / tiles
    val clustered = docs
      .filter(col("doc_id") >= lo && col("doc_id") < lo + tileSpan / 10)
      .withColumn("source", lit("merged"))
    val nClustered = clustered.count()
    val before1 = Gvt.snapshot(table).map(_.path).toSet
    timed(s"merge clustered ($nClustered rows, one tile's range)") {
      Gvt.merge(spark, table, clustered, "doc_id", Seq("doc_id"))
    }
    val after1 = Gvt.snapshot(table).map(_.path).toSet
    val rewritten1 = (before1 -- after1).size
    println(s"[gvt-scale] clustered merge rewrote $rewritten1/$filesTotal files")

    // ---- claim 1b: uniformly-spread merge (every 100th key) ----
    val uniform = docs.filter(col("doc_id") % 100 === 0)
      .withColumn("source", lit("merged2"))
    val nUniform = uniform.count()
    val before2 = Gvt.snapshot(table).map(_.path).toSet
    timed(s"merge uniform ($nUniform rows, every 100th key)") {
      Gvt.merge(spark, table, uniform, "doc_id", Seq("doc_id"))
    }
    val after2 = Gvt.snapshot(table).map(_.path).toSet
    val rewritten2 = (before2 -- after2).size
    println(s"[gvt-scale] uniform merge rewrote $rewritten2/${before2.size} files")

    // ---- claim 2: snapshot resolution vs commit count ----
    val many = Staging.tempDir("gvt_many")
    val one = docs.limit(100).cache()
    one.count()
    timed("build 120 tiny commits (checkpoints every 10)") {
      (0 until 120).foreach(_ => Gvt.append(spark, many, one, Seq("doc_id")))
    }
    // resolution cost: time 200 snapshot() calls at the head version
    timed("200x snapshot resolution at v119 (checkpoint-anchored)") {
      (0 until 200).foreach(_ => Gvt.snapshot(many))
    }

    // ---- claim 3: manifest pruning vs full scan ----
    // the range is the lower half of the middle file's own manifest
    // [min, max], so it holds rows at every scale: the replicas shift
    // doc_id by 10^7 per copy, and a range from the doc_id span can fall
    // into a gap between copies
    val mid = {
      val byMin = Gvt.snapshot(table).sortBy(_.min("doc_id").toLong)
      byMin(byMin.size / 2)
    }
    val qlo = mid.min("doc_id").toDouble
    val qhi = qlo + (mid.max("doc_id").toDouble - qlo) / 2
    val (pruned, kept, total) = Gvt.readPruned(spark, table, "doc_id", qlo, qhi)
    println(f"[gvt-scale] prune kept $kept/$total files for half-file range [$qlo%.0f, $qhi%.0f]")
    val inRange = timed("pruned read (agg over kept files)") {
      pruned.agg(count(lit(1)), sum(length(col("text")))).head
    }
    println(s"[gvt-scale] rows in range: ${inRange.getLong(0)}")
    timed("full-scan read (same filter, no manifest prune)") {
      Gvt.read(spark, table)
        .filter(col("doc_id") >= qlo && col("doc_id") <= qhi)
        .agg(count(lit(1)), sum(length(col("text")))).head
    }

    // ---- claim 4: CDC cost ∝ churn ----
    val vHead = Gvt.latestVersion(table)
    val clustered2 = docs
      .filter(col("doc_id") >= lo && col("doc_id") < lo + tileSpan / 20)
      .withColumn("source", lit("merged3"))
    Gvt.merge(spark, table, clustered2, "doc_id", Seq("doc_id"))
    val feedRows = timed("diff across the clustered merge (churn = ~1 tile)") {
      Gvt.diff(spark, table, vHead, vHead + 1).count()
    }
    println(s"[gvt-scale] clustered-merge feed: $feedRows change rows")
    val before3 = Gvt.snapshot(table).map(_.path).toSet
    timed(s"deleteKeys: every 1000th doc via delete-by-join") {
      Gvt.deleteKeys(spark, table,
        docs.filter(col("doc_id") % 1000 === 0).select("doc_id"),
        "doc_id", Seq("doc_id"))
    }
    val after3 = Gvt.snapshot(table).map(_.path).toSet
    println(s"[gvt-scale] deleteKeys rewrote " +
      s"${(before3 -- after3).size}/${before3.size} files " +
      "(uniform key spread = worst case, same as uniform merge)")

    // ---- claim 5: CoW vs MoR (deletion vectors) on the same delete ----
    // Two byte-identical replicas of the current table; delete every
    // 500th doc (uniform spread = every file touched — CoW's worst
    // case) once as a copy-on-write rewrite, once as a deletion vector.
    // Compare wall time, bytes written by the commit, and the read tax.
    def copyTable(src: String): String = {
      val dst = Staging.tempDir("gvt_dv_cmp")
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(src))
      try s.iterator().forEachRemaining { p =>
        val rel = java.nio.file.Paths.get(src).relativize(p)
        val t = java.nio.file.Paths.get(dst).resolve(rel)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t)
      } finally s.close()
      dst
    }
    def dataBytes(t: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(t, "data"))
      try {
        var b = 0L
        s.iterator().forEachRemaining(p =>
          if (java.nio.file.Files.isRegularFile(p))
            b += java.nio.file.Files.size(p))
        b
      } finally s.close()
    }
    val cowT = copyTable(table)
    val dvT = copyTable(table)
    val pred = col("doc_id") % 500 === 1
    val cowBefore = dataBytes(cowT)
    timed("CoW delete (every 500th doc, uniform)") {
      Gvt.delete(spark, cowT, pred, Seq("doc_id"))
    }
    println(f"[gvt-scale] CoW delete wrote ${(dataBytes(cowT) - cowBefore) / 1e6}%.1f MB")
    val dvBefore = dataBytes(dvT)
    timed("DV delete (same predicate, merge-on-read)") {
      Gvt.deleteWhereDV(spark, dvT, pred)
    }
    println(f"[gvt-scale] DV delete wrote ${(dataBytes(dvT) - dvBefore) / 1e3}%.1f KB sidecar")
    timed("read tax: full agg over the CoW table") {
      Gvt.read(spark, cowT).agg(count(lit(1)), sum(length(col("text")))).head
    }
    timed("read tax: full agg over the DV table (anti-join applied)") {
      Gvt.read(spark, dvT).agg(count(lit(1)), sum(length(col("text")))).head
    }
    timed("absorbDeletes on the DV table (threshold 0 = rewrite all)") {
      Gvt.absorbDeletes(spark, dvT, 0.0, Seq("doc_id"))
    }

    // ---- claim 6: incremental MV refresh cost ∝ churn ----
    // orders-shaped fact synthesized from docs (status = lang); seed the
    // summary from v0, then commit 0.1% more rows and refresh — the fold
    // must cost like the delta, not like the fact.
    val factT = Staging.tempDir("gvt_mv_fact")
    val viewT = Staging.tempDir("gvt_mv_view")
    val asOrders = docs.select(col("doc_id").as("o_orderkey"),
      col("lang").as("o_orderstatus"),
      (col("n_chars") / 100.0).as("o_totalprice"))
    Gvt.append(spark, factT, asOrders, Seq("o_orderkey"))
    timed(s"seed summary from fact v0 ($n rows, full aggregate)") {
      graft.sources.GvtOps.refreshSummary(spark, factT, viewT)
    }
    val churn = asOrders.filter(col("o_orderkey") % 1000 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(2000000000L))
    val nChurn = churn.count()
    val prevHead = Gvt.latestVersion(factT)
    Gvt.append(spark, factT, churn, Seq("o_orderkey"))
    timed(s"incremental refresh after $nChurn-row churn (0.1%)") {
      graft.sources.GvtOps.refreshSummary(spark, factT, viewT,
        fromVersion = Some(prevHead))
    }
    timed("full recompute of the same summary (the cost IVM avoids)") {
      Gvt.read(spark, factT)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), sum("o_totalprice").as("s")).collect()
    }
    spark.stop()
  }

  /** r13 claim: a DV load far above driver-heap comfort reads through
    * the connector with a FLAT driver heap. 1.25×10⁷ rows in 16 files,
    * 10⁷ positions deleted (80%) in one MoR commit — far past the
    * 4×10⁶ broadcast threshold, so `dvAccessFor` routes to
    * [[graft.sources.GvtDvTaskFetch]] by itself: each task point-reads
    * ITS file's slice of the sorted sidecar; no position array is ever
    * driver-resident. The broadcast regime is then FORCED on the same
    * snapshot as the control — its driver heap grows by the whole
    * position map, its answer must match exactly. */
  private def dvProbe(spark: org.apache.spark.sql.SparkSession): Unit = {
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[gvt-scale] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    def heapMB(): Double = {
      System.gc(); Thread.sleep(100); System.gc()
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / 1e6
    }
    val n = 12500000L
    val t = Staging.tempDir("gvt_dvprobe")
    timed(f"build: $n%d rows / 16 files") {
      (0 until 16).foreach { i =>
        Gvt.append(spark, t,
          spark.range(i * n / 16, (i + 1) * n / 16)
            .select(col("id").as("k"), (col("id") * 3).as("v"))
            .repartition(1),
          Seq("k"))
      }
    }
    // this probe MEASURES the persistent-MoR fetch regime, so the r14
    // auto-absorb policy (which would rightly rewrite an 80%-deleted
    // table) is switched off for the fixture build
    spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
    timed("deleteWhereDV: 80% of rows (10^7 positions, sorted sidecar)") {
      Gvt.deleteWhereDV(spark, t, col("k") % 5 =!= 0)
    }
    spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
    val live = Gvt.snapshot(t)
    println(s"[gvt-scale] dv probe: ${live.map(_.dvRows).sum} deleted " +
      s"positions across ${live.size} files")
    val expected = (n / 5, (0L until n).filter(_ % 5 == 0).map(_ * 3).sum)
    def readAgg() = {
      val r = spark.read.format("gvt").option("path", t).load()
        .agg(count(lit(1)), sum("v")).head
      (r.getLong(0), r.getLong(1))
    }
    val h0 = heapMB()
    val viaFetch = timed("connector count+sum, PER-TASK FETCH (auto: " +
      "10^7 > threshold)") { readAgg() }
    val h1 = heapMB()
    val viaFetch2 = timed("per-task fetch, warm (executor slice cache)") {
      readAgg()
    }
    val h2 = heapMB()
    require(viaFetch == expected && viaFetch2 == expected,
      s"per-task fetch wrong: $viaFetch vs $expected")
    spark.conf.set("spark.graft.gvt.dvBroadcastMaxRows", "20000000")
    val viaBc = timed("connector count+sum, FORCED BROADCAST (control)") {
      readAgg()
    }
    val h3 = heapMB()
    spark.conf.unset("spark.graft.gvt.dvBroadcastMaxRows")
    require(viaBc == expected, s"broadcast control wrong: $viaBc")
    println(f"[gvt-scale] driver heap: before $h0%.0f MB, after per-task " +
      f"reads $h1%.0f/$h2%.0f MB (FLAT), after broadcast build $h3%.0f MB " +
      f"(+${h3 - h2}%.0f MB = the position map the scale path never builds)")
  }

  /** r14 claim: coordinator-log resolution is O(tail) at any age, and
    * vacuum bounds the one remaining O(docs) cost (the [[graft.sources
    * .GvtTxn.latestVersion]] directory listing). Layout under test:
    * 10⁵ docs over 200 tables with the live checkpoint cadence (a
    * full-map `.ckpt.json` every 10 docs) — seeded by DIRECT doc
    * writes byte-identical to publish()'s (seeding through publish
    * itself would be quadratic in its own listings and measure the
    * seed, not the reader). Measured: pins/tableVersion at head on the
    * 10⁵-doc log (fold = 1 ckpt + ≤10 docs; the listing dominates),
    * then vacuum to head−20 and the same resolutions on the bounded
    * log — the table log's 0.5 ms shape. A no-checkpoint control log
    * shows what the anchor saves (a 10⁵-doc fold). */
  private def txnlogProbe(): Unit = {
    import java.nio.file.{Files, Paths}
    import graft.sources.GvtTxn
    def timedMs[A](what: String, reps: Int = 1)(body: => A): A = {
      var r = null.asInstanceOf[A]
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => r = body)
      println(f"[gvt-scale] $what: " +
        f"${(System.nanoTime() - t0) / 1e6 / reps}%.2f ms" +
        (if (reps > 1) s" (mean of $reps)" else ""))
      r
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(
        com.fasterxml.jackson.module.scala.DefaultScalaModule)
    // env-tunable (r15 verdict #5): the r14 run proved 10⁵; the r15
    // BASELINE row runs SPARK_GRAFT_TXNLOG_DOCS=1000000 — one decade up
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_TXNLOG_DOCS", "100000").toInt
    val nTables = 200
    def seed(coord: String, withCkpts: Boolean): Map[String, Int] = {
      val ld = Files.createDirectories(Paths.get(coord, "_gvt_txn"))
      val cumulative = scala.collection.mutable.HashMap.empty[String, Int]
      val t0 = System.nanoTime()
      (0 until nDocs).foreach { v =>
        val table = s"$coord/t${v % nTables}"
        cumulative(table) = v
        Files.write(ld.resolve(f"$v%08d.json"), mapper.writeValueAsBytes(
          GvtTxn.TxnDoc(v, Map(table -> v), v + 1L)))
        if (withCkpts && v > 0 && v % GvtTxn.CheckpointEvery == 0)
          Files.write(ld.resolve(f"$v%08d.ckpt.json"),
            mapper.writeValueAsBytes(
              GvtTxn.TxnCheckpoint(v, cumulative.toMap)))
      }
      println(f"[gvt-scale] seeded $nDocs docs" +
        (if (withCkpts) s" + ${nDocs / 10} ckpts" else " (NO ckpts)") +
        f": ${(System.nanoTime() - t0) / 1e9}%.2f s")
      cumulative.toMap
    }
    val coord = Staging.tempDir("gvt_txnlog")
    val expected = seed(coord, withCkpts = true)
    val head = nDocs - 1
    require(GvtTxn.latestVersion(coord) == head)
    timedMs(s"latestVersion, $nDocs-doc dir (the listing)", 5) {
      GvtTxn.latestVersion(coord)
    }
    val atHead = timedMs(s"pins(head), $nDocs-doc log " +
        "(listing + 1 ckpt + ≤10-doc tail)", 5) {
      GvtTxn.pins(coord, head)
    }
    require(atHead == expected, "checkpointed fold wrong at head")
    timedMs("tableVersion(one table) at head", 5) {
      GvtTxn.tableVersion(coord, s"$coord/t7")
    }
    // the no-checkpoint control: same docs, fold walks all 10⁵
    val coordNo = Staging.tempDir("gvt_txnlog_nock")
    val expectedNo = seed(coordNo, withCkpts = false)
    val atHeadNo = timedMs(s"pins(head), NO checkpoints ($nDocs-doc fold)") {
      GvtTxn.pins(coordNo, head)
    }
    require(atHeadNo == expectedNo, "un-anchored fold wrong at head")
    // vacuum to head−20: resolution drops to the table log's shape
    val reaped = timedMs(s"vacuum(head-20) — reap ~$nDocs docs+ckpts") {
      GvtTxn.vacuum(coord, head - 20)
    }
    println(s"[gvt-scale] vacuum reaped $reaped docs")
    timedMs("latestVersion, post-vacuum (21-doc dir)", 20) {
      GvtTxn.latestVersion(coord)
    }
    val postVac = timedMs("pins(head), post-vacuum", 20) {
      GvtTxn.pins(coord, head)
    }
    require(postVac == expected, "post-vacuum fold wrong at head")
    // the log keeps working: publishes resume, cadence continues
    val v2 = GvtTxn.publish(coord, Map(s"$coord/t7" -> 424242))
    require(v2 == nDocs &&
      GvtTxn.tableVersion(coord, s"$coord/t7").contains(424242),
      "post-vacuum publish broken")
    println("[gvt-scale] TXNLOG PROBE OK")
  }

  /** r15 claim (verdict #1's "Done" gate): with the AUTO-VACUUM policy
    * on (`spark.graft.gvt.txnRetain`), a long-lived coordinator never
    * degrades to the O(all docs) listing cost — 10⁵ REAL publishes
    * through [[graft.sources.GvtTxn.publish]] itself (not seeded doc
    * writes: the policy under test lives in the publish path), NO
    * manual vacuum anywhere, resolution sampled every 10⁴ docs and
    * required to stay at the post-vacuum shape throughout (each sample
    * bounded by a constant factor of the first — a span that grows
    * with age would blow past it by 10-100×, which is exactly how the
    * r14 manual-vacuum probe measured the unbounded listing at 78–137
    * ms). Floor must track inside the contract window [head−2R,
    * head−R], and below-floor reads keep failing loudly. */
  private def autovacProbe(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.sources.GvtTxn
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_AUTOVAC_DOCS", "100000").toInt
    val retain = 100
    val nTables = 8
    val coord = Staging.tempDir("gvt_autovac")
    val samples = scala.collection.mutable.ArrayBuffer.empty[Double]
    spark.conf.set("spark.graft.gvt.txnRetain", retain.toString)
    try {
      val t0 = System.nanoTime()
      (0 until nDocs).foreach { v =>
        GvtTxn.publish(coord, Map(s"$coord/t${v % nTables}" -> v))
        if ((v + 1) % 10000 == 0) {
          val s0 = System.nanoTime()
          val p = GvtTxn.pins(coord, v)
          val ms = (System.nanoTime() - s0) / 1e6
          samples += ms
          require(p(s"$coord/t${v % nTables}") == v, s"pins wrong at $v")
          println(f"[gvt-scale] docs=${v + 1}%7d floor=${GvtTxn
            .vacuumFloor(coord)}%7d pins(head)=$ms%.2f ms")
        }
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      val head = nDocs - 1
      val floor = GvtTxn.vacuumFloor(coord)
      println(f"[gvt-scale] $nDocs publishes, policy-managed, " +
        f"$totalS%.1f s total (${totalS * 1e6 / nDocs}%.0f µs/publish)")
      // floor tracked the contract window the whole way down
      require(floor >= head - 2 * retain && floor <= head - retain,
        s"floor $floor outside [${head - 2 * retain}, ${head - retain}]")
      // resolution stayed FLAT: every sample within 10× of the first
      // (an unbounded listing grows ~linearly — 10⁵ docs measured
      // 78–137 ms vs ~1 ms bounded, r14 BASELINE)
      val bound = math.max(samples.head * 10, 20.0)
      require(samples.forall(_ <= bound),
        f"resolution degraded: samples ${samples.map(s => f"$s%.1f")
          .mkString(", ")} ms, bound $bound%.1f ms")
      // below-floor time travel still fails loudly
      val e = try { GvtTxn.pins(coord, floor - 1); null }
        catch { case ex: IllegalArgumentException => ex }
      require(e != null && e.getMessage.contains("vacuumed"),
        "below-floor read must fail loudly")
      println("[gvt-scale] AUTOVAC PROBE OK")
    } finally spark.conf.unset("spark.graft.gvt.txnRetain")
  }

  /** r16 claim: the AUTO-COMPACT policy bounds the live file count
    * under CONTINUOUS tiny appends — the micro-batch-sink regime that
    * motivated it (stream_gvt_sink appends per batch forever; without
    * the policy the count is O(commits) and every reader plans O(N)
    * splits). N appends under `compactAfterFiles = F`, live count
    * sampled at every commit: the running MAX must stay ≤ F + the
    * compacted tail (vs N files unmanaged), reads must stay exact
    * throughout, and the per-append cost including the amortized
    * synchronous rewrites is printed for BASELINE.md. */
  private def autocompactProbe(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_COMPACT_APPENDS", "200").toInt
    val f = 8
    val t = Staging.tempDir("gvt_autocompact")
    spark.conf.set("spark.graft.gvt.compactAfterFiles", f.toString)
    try {
      var maxLive = 0
      var compacts = 0
      var lastHead = -1
      val t0 = System.nanoTime()
      (0 until n).foreach { i =>
        Gvt.append(spark, t,
          spark.range(i * 10L, (i + 1) * 10L).toDF("k").repartition(1),
          Seq("k"))
        val head = Gvt.latestVersion(t)
        compacts += head - lastHead - 1 // versions beyond our appends
        lastHead = head
        val live = Gvt.snapshot(t).size
        maxLive = math.max(maxLive, live)
        if ((i + 1) % 50 == 0)
          println(f"[gvt-scale] appends=${i + 1}%4d head=$head%4d " +
            f"live=$live%3d (max $maxLive%3d) compacts=$compacts%3d")
      }
      val totalS = (System.nanoTime() - t0) / 1e9
      println(f"[gvt-scale] $n tiny appends under compactAfterFiles=$f: " +
        f"$totalS%.1f s (${totalS * 1e3 / n}%.0f ms/append incl. " +
        f"$compacts amortized rewrites), max live $maxLive vs $n unmanaged")
      // the bound: F small files can accumulate, plus the compacted
      // tail (outputs of earlier crossings that escaped the small set
      // or await enough mass — strictly sublinear; assert a hard
      // F+4 ceiling so creep fails the probe loudly)
      require(maxLive <= f + 4,
        s"live file count not bounded: max $maxLive > ${f + 4}")
      require(compacts >= n / (2 * f),
        s"policy under-fired: $compacts compacts over $n appends")
      // exactness end to end: nothing lost or duplicated through all
      // the policy's rewrites
      val cnt = Gvt.read(spark, t).count()
      val total = Gvt.read(spark, t).agg(sum("k")).head.getLong(0)
      require(cnt == n * 10L, s"row count $cnt != ${n * 10}")
      require(total == (0L until n * 10L).sum, "content drifted")
      println("[gvt-scale] AUTOCOMPACT PROBE OK")
    } finally spark.conf.unset("spark.graft.gvt.compactAfterFiles")
  }

  /** r14 claim: the DV auto-absorb policy bounds the MoR read tax
    * without operator memory. Build a heavily-deleted table just UNDER
    * the default threshold (vectors accumulate, reads stay MoR), then
    * one more delete crosses it: the same deleteWhereDV call absorbs,
    * the manifest carries zero vectors, and the read plan is the plain
    * vectorized scan again (join-free — asserted structurally). */
  private def absorbProbe(spark: org.apache.spark.sql.SparkSession): Unit = {
    def timed[A](what: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[gvt-scale] $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val n = 4000000L
    val t = Staging.tempDir("gvt_absorbprobe")
    timed(s"build: $n rows / 8 files") {
      (0 until 8).foreach { i =>
        Gvt.append(spark, t,
          spark.range(i * n / 8, (i + 1) * n / 8)
            .select(col("id").as("k"), (col("id") * 3).as("v"))
            .repartition(1),
          Seq("k"))
      }
    }
    // four uniform deletes of 10% each: 0.40 of every file deleted,
    // still under the 0.5 default — vectors must accumulate
    (1 to 4).foreach { m =>
      timed(s"deleteWhereDV 10% (#$m)") {
        Gvt.deleteWhereDV(spark, t, col("k") % 10 === m)
      }
      val s = Gvt.snapshot(t)
      println(s"[gvt-scale]   dv state: ${s.map(_.dvRows).sum} deleted " +
        s"rows, ${s.count(f => f.dv != null && f.dv.nonEmpty)}/${s.size} " +
        "files carrying vectors")
    }
    require(Gvt.snapshot(t).forall(f => f.dv != null && f.dv.nonEmpty),
      "under-threshold deletes must stay MoR")
    // the fifth delete (20% — two residues) crosses 0.5 per file
    // decisively (a single 10% residue can land a hair under on
    // uneven file splits): the SAME call absorbs
    timed("deleteWhereDV 20% (#5) — crosses 0.5, auto-absorbs") {
      Gvt.deleteWhereDV(spark, t, col("k") % 10 === 5 || col("k") % 10 === 6)
    }
    val after = Gvt.snapshot(t)
    require(after.forall(f => f.dv == null || f.dv.isEmpty),
      "threshold crossing must absorb every vectored file")
    require(Gvt.commitAt(t, Gvt.latestVersion(t)).op == "absorb",
      "head commit must be the auto-absorb")
    val plan = spark.read.format("gvt").option("path", t).load()
      .queryExecution.executedPlan.toString
    require(!plan.contains("Join"),
      "post-absorb read must be the join-free vectorized scan")
    val cnt = timed("post-absorb read (plain vectorized scan)") {
      spark.read.format("gvt").option("path", t).load().count()
    }
    require(cnt == n * 4 / 10, s"post-absorb count $cnt != ${n * 4 / 10}")
    println("[gvt-scale] ABSORB PROBE OK")
  }
}
