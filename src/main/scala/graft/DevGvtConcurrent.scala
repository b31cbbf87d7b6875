package graft

import org.apache.spark.sql.functions._

import graft.sources.Gvt

/** Dev probe: CROSS-JVM GVT concurrency. Two independent JVMs (real
  * processes, launched by `tools/gvt_concurrent_smoke.sh`) append and
  * merge against the SAME table directory at the same time; a third
  * invocation checks that every commit serialized with no loss. The
  * in-JVM stress test (GvtSpec's 8-thread appender race) shares one
  * filesystem view through one process — this probe is the one that
  * would catch a `createLink` publish primitive that is only atomic
  * within a process (the r7 `join_bucketed` tmpdir race was found by
  * exactly this kind of cross-process check).
  *
  * Usage:
  *   runMain graft.DevGvtConcurrent write <table> <writerId> <nAppends>
  *   runMain graft.DevGvtConcurrent check <table> <nWriters> <nAppends>
  *
  * Each writer appends `nAppends` disjoint 1000-key slabs, then merges
  * an update over its own 5-key stripe (cross-JVM read-modify-write —
  * exercises [[Gvt.rmwRetry]] against a competing PROCESS, not thread).
  * Check asserts: exactly `nWriters*(nAppends+1)` commits serialized,
  * every appended row present exactly once, every merge visible.
  */
object DevGvtConcurrent {
  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val table = args(1)
    val spark = Sessions.local("4", "ERROR")
    // cross-process contention is heavier than in-process: give the
    // RMW retry loop more headroom than the default 3
    spark.conf.set("spark.graft.gvt.rmwRetries", "20")
    mode match {
      case "write" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        (0 until n).foreach { i =>
          val lo = (writer.toLong * n + i) * 1000L
          Gvt.append(spark, table,
            spark.range(lo, lo + 1000L).toDF("k")
              .withColumn("v", col("k") * 10),
            Seq("k"))
        }
        val mlo = writer.toLong * 5
        Gvt.merge(spark, table,
          spark.range(mlo, mlo + 5).toDF("k")
            .withColumn("v", lit(-1L - writer)),
          "k", Seq("k"))
        println(s"[gvt-concurrent] writer $writer done")
      case "check" =>
        val nWriters = args(2).toInt
        val n = args(3).toInt
        val head = Gvt.latestVersion(table)
        val expectedCommits = nWriters * (n + 1)
        assert(head == expectedCommits - 1,
          s"expected $expectedCommits serialized commits, head is $head " +
            "(a lost publish means the createLink protocol raced)")
        val df = Gvt.read(spark, table).cache()
        val total = df.count()
        val expectRows = nWriters.toLong * n * 1000
        assert(total == expectRows, s"row loss: $total != $expectRows")
        val dups = df.groupBy("k").count().filter(col("count") > 1).count()
        assert(dups == 0, s"$dups duplicated keys — a merge replayed twice")
        (0 until nWriters).foreach { w =>
          val got = df.filter(col("k") >= w * 5L && col("k") < w * 5L + 5)
            .select("v").collect().map(_.getLong(0)).toSet
          assert(got == Set(-1L - w),
            s"writer $w's merge lost: stripe values $got")
        }
        println(s"[gvt-concurrent] CHECK OK: $expectedCommits commits, " +
          s"$total rows, all merges visible")

      // ---- RMW-conflict smoke: merge vs delete vs DV-delete vs ----
      // ---- compact vs vacuum racing across PROCESSES            ----
      // Each writer's ops touch DISJOINT key stripes, so every serial
      // order yields the same final state — the check below is exact,
      // and any torn/lost/double-applied RMW (the thing rmwRetry's
      // re-execute-from-head contract must prevent cross-JVM) breaks
      // it. Commit contention is real: all ops race for versions on
      // one log.
      case "seedrmw" | "seedwap" =>
        (0 until 10).foreach { i =>
          Gvt.append(spark, table,
            spark.range(i * 1000L, (i + 1) * 1000L).toDF("k")
              .withColumn("v", col("k") * 10),
            Seq("k"))
        }
        println(s"[gvt-concurrent] $mode done (10k rows, 10 commits)")
      case "rmw" =>
        val writer = args(2).toInt
        if (writer == 0) {
          Gvt.merge(spark, table,
            spark.range(0L, 500L).toDF("k").withColumn("v", lit(-1L)),
            "k", Seq("k"))
          // this phase counts EXACT serial commits (checkrmw's head ==
          // 14), and this delete marks exactly 50% of one file — the
          // r14 auto-absorb would add a racing maintenance commit, so
          // the policy (probed by DevGvtScale `absorb` and Round14Spec)
          // is off here
          // try/finally (r14 ADVICE): a throwing delete must not leak
          // the knob into the rest of the harness run and silently
          // disable auto-absorb for later phases
          spark.conf.set("spark.graft.gvt.dvAbsorbRatio", "2.0")
          try Gvt.deleteWhereDV(spark, table,
            col("k") >= 1000L && col("k") < 1500L)
          finally spark.conf.unset("spark.graft.gvt.dvAbsorbRatio")
          Gvt.compact(spark, table, smallRows = 100000L, targetFiles = 2,
            Seq("k"))
          // r15: BOTH writers vacuum, so two vacuums race each other's
          // doc/marker/anchor deletes cross-JVM (the deleteIfExists
          // walk), on top of the existing vacuum-vs-RMW races
          Gvt.vacuum(table, Gvt.latestVersion(table))
        } else {
          Gvt.merge(spark, table,
            spark.range(500L, 1000L).toDF("k").withColumn("v", lit(-2L)),
            "k", Seq("k"))
          Gvt.delete(spark, table,
            col("k") >= 1500L && col("k") < 2000L, Seq("k"))
          // default grace: reaps nothing young, but races the floor
          // marker + anchor checkpoint against the other writer's RMWs
          Gvt.vacuum(table, Gvt.latestVersion(table))
        }
        println(s"[gvt-concurrent] rmw writer $writer done")
      case "checkrmw" =>
        val head = Gvt.latestVersion(table)
        // 10 seed appends + 2 merges + delete + dv_delete + compact =
        // 15 commits in EVERY serial order (vacuum never commits; its
        // pre-floor doc reaping is why we count the head, not the docs)
        assert(head == 14,
          s"head $head != 14: an RMW was lost or double-committed")
        val floor = Gvt.vacuumFloor(table)
        val ops = (floor to head).map(v => Gvt.commitAt(table, v).op)
        val counts = ops.groupBy(identity).view.mapValues(_.size).toMap
        assert(ops.forall(Set("append", "merge", "delete", "dv_delete",
          "compact").contains), s"unexpected op in log tail: $counts")
        val df = Gvt.read(spark, table).cache()
        assert(df.count() == 9000L, s"row count ${df.count()} != 9000")
        val dups = df.groupBy("k").count().filter(col("count") > 1).count()
        assert(dups == 0, s"$dups duplicated keys")
        val badA = df.filter(col("k") < 500L && col("v") =!= -1L).count()
        val badB = df.filter(col("k") >= 500L && col("k") < 1000L &&
          col("v") =!= -2L).count()
        val ghosts = df.filter(col("k") >= 1000L && col("k") < 2000L).count()
        val badTail = df.filter(col("k") >= 2000L &&
          col("v") =!= col("k") * 10).count()
        assert(badA == 0 && badB == 0 && ghosts == 0 && badTail == 0,
          s"state diverged from the serial outcome: badMergeA=$badA " +
            s"badMergeB=$badB resurrectedDeletes=$ghosts badTail=$badTail")
        println(s"[gvt-concurrent] RMW CHECK OK: ${head + 1} commits " +
          s"($counts), 9000 rows, state equals the serial outcome")
      // ---- branch WAP race: one JVM stages + publishes an append-only
      // branch while the other appends to the PARENT — publish's squash
      // commit must serialize through rmwRetry/createLink against the
      // racing appends and rebase onto whatever head it finds ----
      case "wap" =>
        val writer = args(2).toInt
        if (writer == 0) {
          val b = Gvt.createBranch(table, "drop")
          (0 until 2).foreach { i =>
            Gvt.append(spark, b,
              spark.range(20000L + i * 1000L, 20000L + (i + 1) * 1000L)
                .toDF("k").withColumn("v", col("k") * 10),
              Seq("k"))
          }
          val v = Gvt.publishBranch(spark, table, "drop")
          Gvt.dropBranch(table, "drop")
          println(s"[gvt-concurrent] wap writer 0: published at v$v")
        } else {
          (0 until 3).foreach { i =>
            Gvt.append(spark, table,
              spark.range(30000L + i * 1000L, 30000L + (i + 1) * 1000L)
                .toDF("k").withColumn("v", col("k") * 10),
              Seq("k"))
          }
          println("[gvt-concurrent] wap writer 1: 3 parent appends done")
        }
      case "checkwap" =>
        val head = Gvt.latestVersion(table)
        // 10 seed appends + 3 parent appends + ONE publish squash
        assert(head == 13,
          s"head $head != 13: a commit was lost or double-committed")
        val ops = (0 to head).map(v => Gvt.commitAt(table, v).op)
        assert(ops.count(_ == "publish") == 1,
          s"expected exactly one publish squash, log ops: $ops")
        val df = Gvt.read(spark, table).cache()
        assert(df.count() == 15000L, s"row count ${df.count()} != 15000")
        val dups = df.groupBy("k").count().filter(col("count") > 1).count()
        assert(dups == 0, s"$dups duplicated keys")
        val branchRows = df.filter(col("k") >= 20000L && col("k") < 22000L)
        val parentRows = df.filter(col("k") >= 30000L && col("k") < 33000L)
        assert(branchRows.count() == 2000L && parentRows.count() == 3000L,
          "a racing side lost rows: branch=" + branchRows.count() +
            " parent=" + parentRows.count())
        assert(Gvt.listBranches(table).isEmpty, "branch not dropped")
        // contention visibility: where did the squash land relative to
        // the racing appends? pubAt=10 with a lucky schedule means the
        // writers serialized and no rebase-under-contention ran — the
        // line makes a vacuous run VISIBLE in the smoke output instead
        // of silently reporting success
        val pubAt = ops.indexOf("publish")
        val racedBefore = pubAt - 10 // parent appends that landed first
        println(s"[gvt-concurrent] WAP CHECK OK: ${head + 1} commits, " +
          s"publish squash at v$pubAt ($racedBefore racing parent " +
          s"appends before it — ${if (racedBefore == 0) "head never " +
            "moved, rebase NOT exercised this run"
          else "rebased onto a moved head"}), 15000 rows, no loss")

      // ---- cross-table txn race: two JVMs run GvtTxn transactions ----
      // over the SAME coordinator + the same two tables — the txn-doc
      // createLink allocation loop and the per-table MAX-MERGE must
      // serialize across processes. Each txn tags its rows, so the
      // exact-outcome check can demand BOTH halves of every published
      // transaction at the final pinned view.
      case "txn" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        val t1 = s"$table/t1"
        val t2 = s"$table/t2"
        (0 until n).foreach { i =>
          val tag = writer * 1000 + i
          val lo = tag.toLong * 100000L
          graft.sources.GvtTxn.commit(spark, table, Seq(
            (t1, spark.range(lo, lo + 1000L).toDF("k")
              .withColumn("tag", lit(tag)), Seq("k")),
            (t2, spark.range(lo, lo + 100L).toDF("k")
              .withColumn("tag", lit(tag)), Seq("k"))))
        }
        println(s"[gvt-concurrent] txn writer $writer done ($n txns)")
      case "checktxn" =>
        val nWriters = args(2).toInt
        val n = args(3).toInt
        val t1 = s"$table/t1"
        val t2 = s"$table/t2"
        val head = graft.sources.GvtTxn.latestVersion(table)
        // every commit publishes exactly one doc (losers retry with a
        // fresh version) — a lost doc means the createLink loop raced
        assert(head == nWriters * n - 1,
          s"expected ${nWriters * n} txn docs, head is $head")
        // per-table pins are MONOTONIC across doc versions (the
        // read-side max-merge fold over r14 delta docs)
        (1 to head).foreach { v =>
          val prev = graft.sources.GvtTxn.pins(table, v - 1)
          val cur = graft.sources.GvtTxn.pins(table, v)
          prev.foreach { case (d, pv) =>
            assert(cur.getOrElse(d, -1) >= pv,
              s"pin regressed at doc $v: $d ${cur.get(d)} < $pv")
          }
        }
        // the final pinned view holds BOTH halves of EVERY transaction
        val v1 = graft.sources.GvtTxn.read(spark, table, t1).cache()
        val v2 = graft.sources.GvtTxn.read(spark, table, t2).cache()
        assert(v1.count() == nWriters.toLong * n * 1000,
          s"t1 rows ${v1.count()} != ${nWriters * n * 1000}")
        assert(v2.count() == nWriters.toLong * n * 100,
          s"t2 rows ${v2.count()} != ${nWriters * n * 100}")
        val tags1 = v1.groupBy("tag").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val tags2 = v2.groupBy("tag").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        (0 until nWriters).flatMap(w => (0 until n).map(w * 1000 + _))
          .foreach { tag =>
            assert(tags1.get(tag).contains(1000L) &&
              tags2.get(tag).contains(100L),
              s"txn $tag is PARTIAL at the final view: " +
                s"t1=${tags1.get(tag)} t2=${tags2.get(tag)}")
          }
        println(s"[gvt-concurrent] TXN CHECK OK: ${head + 1} docs, " +
          "pins monotonic, every transaction whole at the final view")

      // ---- DISJOINT-table txn race: each writer owns its own table ----
      // pair through the SHARED coordinator. The narrowed r12 isolation
      // contract promises disjoint transactions are isolated at EVERY
      // doc, not just the final view — the check walks every
      // intermediate doc and demands each writer's pair pins matched
      // tag sets (a one-sided or mismatched pin = half-exposure).
      case "txnd" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        val a = s"$table/w${writer}a"
        val b = s"$table/w${writer}b"
        (0 until n).foreach { i =>
          val tag = writer * 1000 + i
          graft.sources.GvtTxn.commit(spark, table, Seq(
            (a, spark.range(tag * 10L, tag * 10L + 10L).toDF("k")
              .withColumn("tag", lit(tag)), Seq("k")),
            (b, spark.range(tag * 5L, tag * 5L + 5L).toDF("k")
              .withColumn("tag", lit(tag)), Seq("k"))))
        }
        println(s"[gvt-concurrent] txnd writer $writer done ($n txns)")
      case "checktxnd" =>
        val nWriters = args(2).toInt
        val head = graft.sources.GvtTxn.latestVersion(table)
        def tagsAt(dir: String, v: Int): Set[Int] =
          Gvt.read(spark, dir, Some(v)).select("tag").distinct()
            .collect().map(_.getInt(0)).toSet
        (0 to head).foreach { v =>
          val doc = graft.sources.GvtTxn.pins(table, v)
          (0 until nWriters).foreach { w =>
            val a = s"$table/w${w}a"
            val b = s"$table/w${w}b"
            (doc.get(a), doc.get(b)) match {
              case (Some(va), Some(vb)) =>
                val (ta, tb) = (tagsAt(a, va), tagsAt(b, vb))
                assert(ta == tb,
                  s"writer $w HALF-EXPOSED at doc $v: a=$ta b=$tb")
              case (None, None) => () // not yet published — fine
              case other => assert(false,
                s"one-sided pin for writer $w at doc $v: $other")
            }
          }
        }
        println(s"[gvt-concurrent] TXND CHECK OK: ${head + 1} docs, " +
          "every disjoint transaction isolated at EVERY intermediate doc")

      // ---- SERIALIZED overlapping-table txn race (r13): two JVMs ----
      // drive commitSerialized over the SAME {fact, summary} pair; the
      // check demands whole transactions at EVERY intermediate doc —
      // the guarantee plain commit() explicitly does not make for
      // overlapping writers.
      case "txns" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        val fact = s"$table/fact"
        val sum = s"$table/summary"
        (0 until n).foreach { i =>
          val tag = writer * 1000 + i
          def factDf = spark.range(tag * 10L, tag * 10L + 10L).toDF("k")
            .withColumn("tag", lit(tag))
          def sumDf = spark.range(tag.toLong, tag + 1L).toDF("tag")
            .select(col("tag").cast("int").as("tag"))
          if (i % 2 == 0)
            graft.sources.GvtTxn.commitSerialized(spark, table,
              Seq(fact, sum),
              _ => Seq((fact, factDf, Seq("k")), (sum, sumDf, Seq("tag"))),
              staleMs = 3000L, maxRetries = 40)
          else
            // MIXED ops (r14): merge into the fact + append the summary
            // in ONE serialized doc — fresh keys make the merge an
            // insert, so checktxns' whole-transaction walk holds
            // unchanged while the op path under contention is the
            // general commitSerializedOps (token authorship included)
            graft.sources.GvtTxn.commitSerializedOps(spark, table,
              Seq(fact, sum),
              (_, token) => Seq(
                fact -> (() => Gvt.merge(spark, fact, factDf, "k",
                  Seq("k"), txn = token)),
                sum -> (() => Gvt.appendTxn(spark, sum, sumDf,
                  Seq("tag"), token).get)),
              staleMs = 3000L, maxRetries = 40)
        }
        println(s"[gvt-concurrent] txns writer $writer done " +
          s"($n serialized, mixed ops on odd txns)")
      case "checktxns" =>
        val nWriters = args(2).toInt
        val n = args(3).toInt
        val fact = s"$table/fact"
        val sum = s"$table/summary"
        val head = graft.sources.GvtTxn.latestVersion(table)
        (0 to head).foreach { v =>
          val doc = graft.sources.GvtTxn.pins(table, v)
          if (doc.contains(fact) || doc.contains(sum)) {
            assert(doc.contains(fact) && doc.contains(sum),
              s"one-sided pin at doc $v: $doc")
            val f = Gvt.read(spark, fact, doc.get(fact))
            val s = Gvt.read(spark, sum, doc.get(sum))
            val fTags = f.select("tag").distinct().collect()
              .map(_.getInt(0)).toSet
            val sTags = s.collect().map(_.getInt(0)).toSet
            assert(fTags == sTags,
              s"HALF-EXPOSED txn at doc $v: fact=$fTags summary=$sTags")
            assert(f.count() == 10L * s.count(),
              s"doc $v inconsistent: ${f.count()} fact rows for " +
                s"${s.count()} txns")
          }
        }
        // convergence: every writer's every txn whole at the head
        val tags = graft.sources.GvtTxn.read(spark, table, sum)
          .collect().map(_.getInt(0)).toSet
        val want = (0 until nWriters)
          .flatMap(w => (0 until n).map(w * 1000 + _)).toSet
        assert(tags == want, s"missing txns at head: ${want -- tags}")
        println(s"[gvt-concurrent] TXNS CHECK OK: ${head + 1} docs, " +
          "every overlapping serialized txn whole at EVERY doc")

      // ---- auto-vacuum racing serialized writers (r15): both JVMs ----
      // run commitSerialized with spark.graft.gvt.txnRetain=2, so the
      // publish path's policy vacuums WHILE the peer's stale-walk,
      // pins folds, and CAS-loop doc reads are in flight — the races
      // the r15 NSFE guards (pinRaisedIn fallback, vacuumed-winner
      // abort, vacuumed-base retry, deleteIfExists reaps) exist for.
      case "txnv" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        val fact = s"$table/fact"
        val sum = s"$table/summary"
        spark.conf.set("spark.graft.gvt.txnRetain", "2")
        try (0 until n).foreach { i =>
          val tag = writer * 1000 + i
          def factDf = spark.range(tag * 10L, tag * 10L + 10L).toDF("k")
            .withColumn("tag", lit(tag))
          def sumDf = spark.range(tag.toLong, tag + 1L).toDF("tag")
            .select(col("tag").cast("int").as("tag"))
          graft.sources.GvtTxn.commitSerialized(spark, table,
            Seq(fact, sum),
            _ => Seq((fact, factDf, Seq("k")), (sum, sumDf, Seq("tag"))),
            staleMs = 3000L, maxRetries = 40)
        } finally spark.conf.unset("spark.graft.gvt.txnRetain")
        println(s"[gvt-concurrent] txnv writer $writer done " +
          s"($n serialized under txnRetain=2)")
      case "checktxnv" =>
        val nWriters = args(2).toInt
        val n = args(3).toInt
        val fact = s"$table/fact"
        val sum = s"$table/summary"
        val floor = graft.sources.GvtTxn.vacuumFloor(table)
        val head = graft.sources.GvtTxn.latestVersion(table)
        assert(floor > 0, "auto-vacuum never fired across JVMs")
        assert(floor <= head - 2, s"floor $floor reaped into the " +
          s"retain window (head $head)")
        // every RETAINED doc resolves to a whole transaction
        (floor to head).foreach { v =>
          val doc = graft.sources.GvtTxn.pins(table, v)
          assert(doc.contains(fact) && doc.contains(sum),
            s"one-sided pin at doc $v: $doc")
          val f = Gvt.read(spark, fact, doc.get(fact))
          val s = Gvt.read(spark, sum, doc.get(sum))
          val fTags = f.select("tag").distinct().collect()
            .map(_.getInt(0)).toSet
          val sTags = s.collect().map(_.getInt(0)).toSet
          assert(fTags == sTags,
            s"HALF-EXPOSED txn at doc $v: fact=$fTags summary=$sTags")
        }
        // below-floor resolution fails loudly, never silently-empty
        val loud = try { graft.sources.GvtTxn.pins(table, floor - 1); false }
          catch { case e: IllegalArgumentException =>
            e.getMessage.contains("vacuumed") }
        assert(loud, s"below-floor read at ${floor - 1} must fail loudly")
        // convergence: vacuum lost NOTHING — every writer's every txn
        // whole at the head
        val tags = graft.sources.GvtTxn.read(spark, table, sum)
          .collect().map(_.getInt(0)).toSet
        val want = (0 until nWriters)
          .flatMap(w => (0 until n).map(w * 1000 + _)).toSet
        assert(tags == want, s"missing txns at head: ${want -- tags}")
        println(s"[gvt-concurrent] TXNV CHECK OK: floor $floor, head " +
          s"$head, every retained doc whole, below-floor loud, " +
          "no txn lost to the policy")

      // ---- cross-table WAP racing a parent writer: one JVM stages the ----
      // audited drop on branches of BOTH tables and publishes them +
      // one txn doc (GvtTxn.publishBranches); the other JVM keeps
      // landing plain cross-table txns on the same parents throughout.
      case "seedwapx" =>
        graft.sources.GvtTxn.commit(spark, table, Seq(
          (s"$table/t1", spark.range(0L, 1000L).toDF("k")
            .withColumn("tag", lit(1)), Seq("k")),
          (s"$table/t2", spark.range(0L, 200L).toDF("k")
            .withColumn("tag", lit(1)), Seq("k"))))
        println("[gvt-concurrent] wapx seeded")
      case "wapx" =>
        val t1 = s"$table/t1"
        val t2 = s"$table/t2"
        // APPEND-ONLY branches: the shape that publishes onto ANY
        // advanced parent head (a rewrite-holding branch correctly
        // aborts against a racing parent writer — GvtSpec covers that
        // single-JVM; the cross-JVM question is the publish+doc race).
        // The audit runs ON the staged branches (only the pre-audited
        // 900-row slice is staged; the check demands exactly it).
        val b1 = Gvt.createBranch(t1, "xwap")
        val b2 = Gvt.createBranch(t2, "xwap")
        Gvt.append(spark, b1, spark.range(100000L, 100900L).toDF("k")
          .withColumn("tag", lit(2)), Seq("k"))
        Gvt.append(spark, b2, spark.range(100000L, 100200L).toDF("k")
          .withColumn("tag", lit(2)), Seq("k"))
        require(Gvt.read(spark, b1).filter(col("tag") === 2).count() == 900,
          "branch audit read wrong")
        graft.sources.GvtTxn.publishBranches(spark, table,
          Seq((t1, "xwap"), (t2, "xwap")))
        Gvt.dropBranch(t1, "xwap")
        Gvt.dropBranch(t2, "xwap")
        println("[gvt-concurrent] wapx published")
      case "racerx" =>
        val n = args(2).toInt
        (0 until n).foreach { i =>
          val tag = 100 + i
          graft.sources.GvtTxn.commit(spark, table, Seq(
            (s"$table/t1", spark.range(tag * 10000L, tag * 10000L + 500L)
              .toDF("k").withColumn("tag", lit(tag)), Seq("k")),
            (s"$table/t2", spark.range(tag * 10000L, tag * 10000L + 50L)
              .toDF("k").withColumn("tag", lit(tag)), Seq("k"))))
        }
        println(s"[gvt-concurrent] racerx done ($n txns)")
      case "checkwapx" =>
        val n = args(2).toInt
        val t1 = graft.sources.GvtTxn.read(spark, table, s"$table/t1").cache()
        val t2 = graft.sources.GvtTxn.read(spark, table, s"$table/t2").cache()
        def tagCounts(df: org.apache.spark.sql.DataFrame): Map[Int, Long] =
          df.groupBy("tag").count().collect()
            .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val (c1, c2) = (tagCounts(t1), tagCounts(t2))
        // the seed, the AUDITED wap drop (900 of 1000 on t1 — the
        // audit's casualties must never surface), and every racer txn
        // are all WHOLE at the final view
        assert(c1.get(1).contains(1000L) && c2.get(1).contains(200L),
          s"seed mangled: ${c1.get(1)} / ${c2.get(1)}")
        assert(c1.get(2).contains(900L) && c2.get(2).contains(200L),
          s"wap halves wrong (audit leaked?): ${c1.get(2)} / ${c2.get(2)}")
        (0 until n).map(100 + _).foreach { tag =>
          assert(c1.get(tag).contains(500L) && c2.get(tag).contains(50L),
            s"racer txn $tag partial: ${c1.get(tag)} / ${c2.get(tag)}")
        }
        println(s"[gvt-concurrent] WAPX CHECK OK: seed + audited WAP + " +
          s"$n racer txns all whole at the final view")

      // ---- auto-compact racing writers (r16): BOTH JVMs append tiny ----
      // files to ONE table with compactAfterFiles on, so policy
      // compactions fire in both processes, race each other (loser's
      // CME is swallowed + counted, policy re-fires) and race the
      // peer's appends (rmwRetry re-executes the bin-pack from the new
      // head). The check demands zero loss/duplication through every
      // racing rewrite and a bounded live file set.
      case "compauto" =>
        val writer = args(2).toInt
        val n = args(3).toInt
        spark.conf.set("spark.graft.gvt.compactAfterFiles", "6")
        try (0 until n).foreach { i =>
          val lo = (writer.toLong * n + i) * 100L
          Gvt.append(spark, table,
            spark.range(lo, lo + 100L).toDF("k")
              .withColumn("v", col("k") * 10).repartition(1),
            Seq("k"))
        } finally spark.conf.unset("spark.graft.gvt.compactAfterFiles")
        println(s"[gvt-concurrent] compauto writer $writer done " +
          s"($n tiny appends under compactAfterFiles=6)")
      case "checkcompauto" =>
        val nWriters = args(2).toInt
        val n = args(3).toInt
        val df = Gvt.read(spark, table).cache()
        val total = df.count()
        val expect = nWriters.toLong * n * 100
        assert(total == expect, s"row loss through racing compactions: " +
          s"$total != $expect")
        val dups = df.groupBy("k").count().filter(col("count") > 1).count()
        assert(dups == 0, s"$dups duplicated keys — a bin-pack replayed " +
          "rows it also kept")
        val appends = nWriters * n
        val head = Gvt.latestVersion(table)
        assert(head + 1 > appends,
          s"no policy compact ever landed (head $head, $appends appends)")
        val live = Gvt.snapshot(table).size
        assert(live <= 10, s"live file count unbounded under racing " +
          s"writers: $live (vs $appends appends)")
        // the audit surface reads whole across every racing rewrite
        val h = Gvt.history(spark, table).collect()
        assert(h.length == head + 1 &&
          h.forall(r => r.getString(1) == "append" ||
            r.getString(1) == "compact"),
          "history mangled under racing maintenance")
        println(s"[gvt-concurrent] COMPAUTO CHECK OK: $appends appends + " +
          s"${head + 1 - appends} racing compacts, $total rows exact, " +
          s"$live live files")
    }
    spark.stop()
  }
}
