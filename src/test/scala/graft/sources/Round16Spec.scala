package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.{GraftSuite, Staging}

/** Round-16 regression tests — one per r15 verdict rung / advisor
  * finding fixed this round:
  *
  *  - AUTO-COMPACT policy (`spark.graft.gvt.compactAfterFiles`): the
  *    commit path itself bounds the live file count under continuous
  *    tiny appends — OFF by default, gated off txn/restore/branch
  *    commits, malformed values fail before the link, injected
  *    failures are counted and never fail the committed append.
  *  - SPAN-unified table auto-vacuum: the floor advances even when
  *    txn-carrying commits occupy every R-multiple version (the
  *    modulo gate's documented hole).
  *  - PIN-AWARE table retention: a coordinator's oldest live pin
  *    mechanically clamps the table auto-vacuum; releasing the pin
  *    un-blocks it; a MANUAL below-clamp vacuum stays allowed.
  *  - ADVICE r15 (medium): [[GvtTxn.pinRaisedIn]]'s vacuumed-doc
  *    fallback survives a concurrent vacuum raising the floor past
  *    the walk's head instead of failing the whole serialized commit.
  *  - DESCRIBE HISTORY ([[Gvt.history]]): ts strict monotonicity, txn
  *    token carriage, vacuum-bounded row range — the properties the
  *    oracle key (`scan_gvt_history`) can't see.
  */
class Round16Spec extends GraftSuite {

  private def withConf[A](kvs: (String, String)*)(body: => A): A =
    try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
    finally kvs.foreach { case (k, _) => spark.conf.unset(k) }

  // ---- span-unified table auto-vacuum ------------------------------

  test("floor advances when txn commits occupy every R-multiple version") {
    val t = Staging.tempDir("r16_spanvac")
    withConf("spark.graft.gvt.tableRetain" -> "2",
        "spark.graft.gvt.vacuumGraceMs" -> "0") {
      // EVEN versions are txn-carrying (never trigger), ODD organic:
      // the old v%R==0 modulo gate (R=2) could therefore never fire;
      // the span gate fires on organic commits regardless of layout
      (0 until 12).foreach { i =>
        if (i % 2 == 0)
          Gvt.appendTxn(spark, t, spark.range(i, i + 1).toDF("k"),
            Seq("k"), s"r16-span-$i")
        else
          Gvt.append(spark, t, spark.range(i, i + 1).toDF("k"), Seq("k"))
      }
    }
    // organic v5 (span 5 ≥ 4) → floor 3; v7 → 5; v9 → 7; v11 → 9
    assert(Gvt.vacuumFloor(t) == 9, "span trigger must catch the floor up")
    assert(Gvt.read(spark, t).count() == 12)
    assert(Gvt.read(spark, t, Some(9)).count() == 10)
    intercept[IllegalArgumentException](Gvt.read(spark, t, Some(8)))
  }

  // ---- pin-aware table retention -----------------------------------

  test("a coordinator pin clamps the auto-vacuum; its release un-blocks") {
    val coord = Staging.tempDir("r16_pincoord")
    val t = Staging.tempDir("r16_pintbl")
    (0 until 3).foreach { i =>
      Gvt.append(spark, t, spark.range(i, i + 1).toDF("k"), Seq("k"))
    }
    // the coordinator pins v2 — and marks the table as pinned
    GvtTxn.publish(coord, Map(t -> 2))
    assert(Files.exists(Paths.get(t, "_gvt_coord")), "marker written")
    withConf("spark.graft.gvt.tableRetain" -> "2",
        "spark.graft.gvt.vacuumGraceMs" -> "0") {
      (3 until 12).foreach { i =>
        Gvt.append(spark, t, spark.range(i, i + 1).toDF("k"), Seq("k"))
      }
      // span crossings want head−R, but the clamp holds the floor at
      // the oldest live pin: v2 stays readable through 9 more commits
      assert(Gvt.vacuumFloor(t) == 2, "pin must clamp the reap")
      assert(Gvt.read(spark, t, Some(2)).count() == 3, "pinned version lives")
      // RELEASE: a newer pin supersedes v2 and the coordinator's own
      // vacuum reaps the doc holding it — the oldest live pin rises
      GvtTxn.publish(coord, Map(t -> 11))
      GvtTxn.vacuum(coord, 1)
      Gvt.append(spark, t, spark.range(100, 101).toDF("k"), Seq("k"))
      // v12's span (12−2=10 ≥ 4) now vacuums to v−R=10 unclamped
      assert(Gvt.vacuumFloor(t) == 10, "released pin un-blocks the policy")
      intercept[IllegalArgumentException](Gvt.read(spark, t, Some(2)))
    }
    // a MANUAL vacuum below a live pin stays allowed — explicit
    // operator intent overrides the mechanical clamp
    val t2 = Staging.tempDir("r16_pintbl2")
    (0 until 4).foreach { i =>
      Gvt.append(spark, t2, spark.range(i, i + 1).toDF("k"), Seq("k"))
    }
    GvtTxn.publish(coord, Map(t2 -> 0))
    Gvt.vacuum(t2, 3, graceMs = 0L)
    assert(Gvt.vacuumFloor(t2) == 3, "manual vacuum ignores the clamp")
  }

  test("clamped table never reaps a pin it cannot resolve (fail-safe skip)") {
    // marker pointing at a coordinator with NO live pin of this table:
    // oldestLivePin = None → unclamped (nothing to protect)
    val coord = Staging.tempDir("r16_nopin_coord")
    val t = Staging.tempDir("r16_nopin_tbl")
    GvtTxn.publish(coord, Map(s"$coord/other" -> 5))
    (0 until 3).foreach { i =>
      Gvt.append(spark, t, spark.range(i, i + 1).toDF("k"), Seq("k"))
    }
    // plant the marker by hand (the coordinator never pinned t)
    Files.write(Paths.get(t, "_gvt_coord"),
      Paths.get(coord).toAbsolutePath.normalize.toString.getBytes("UTF-8"))
    withConf("spark.graft.gvt.tableRetain" -> "1",
        "spark.graft.gvt.vacuumGraceMs" -> "0") {
      Gvt.append(spark, t, spark.range(3, 4).toDF("k"), Seq("k"))
    }
    assert(Gvt.vacuumFloor(t) == 2, "no live pin → policy unclamped")
    // marker at a CORRUPT coordinator (a doc the fold cannot parse —
    // the raced/broken-coordinator shape): the clamp read throws, the
    // policy must SKIP the crossing (fail-safe: never reap unclamped),
    // count + warn, and the commit itself must survive
    val t3 = Staging.tempDir("r16_badcoord_tbl")
    (0 until 3).foreach { i =>
      Gvt.append(spark, t3, spark.range(i, i + 1).toDF("k"), Seq("k"))
    }
    val badCoord = Staging.tempDir("r16_badcoord")
    Files.createDirectories(Paths.get(badCoord, "_gvt_txn"))
    Files.write(Paths.get(badCoord, "_gvt_txn", "00000000.json"),
      "not json".getBytes("UTF-8"))
    Files.write(Paths.get(t3, "_gvt_coord"),
      Paths.get(badCoord).toAbsolutePath.normalize.toString
        .getBytes("UTF-8"))
    val before = GvtMaintenance.tableVacuumSwallowed.get()
    withConf("spark.graft.gvt.tableRetain" -> "1",
        "spark.graft.gvt.vacuumGraceMs" -> "0") {
      assert(Gvt.append(spark, t3, spark.range(3, 4).toDF("k"), Seq("k")) == 3)
    }
    assert(Gvt.vacuumFloor(t3) == 0, "unresolvable clamp must not reap")
    assert(GvtMaintenance.tableVacuumSwallowed.get() == before + 1)
  }

  // ---- ADVICE r15 (medium): pinRaisedIn under a racing floor raise --

  test("stale-wait fallback survives the floor racing past the walk head") {
    val coord = Staging.tempDir("r16_walkfloor")
    val t = s"$coord/t"
    (0 until 13).foreach(i => GvtTxn.publish(coord, Map(t -> i)))
    // floor 10: every doc the walk reads AND its fallback anchor at
    // `to`=5 are both below the floor — pre-r16 the fallback's
    // cumulative fold threw the 'vacuumed' IllegalArgumentException
    // through commitSerializedOps, failing the whole serialized commit
    // instead of burning the attempt
    GvtTxn.vacuum(coord, 10)
    // conservative contract: ≥R foreign docs landed since the base
    // listing, so the base is long stale — report raised, end the wait
    assert(GvtTxn.pinRaisedIn(coord, t, 0, 2, 5))
    assert(GvtTxn.pinRaisedIn(coord, t, 99, 2, 5),
      "even an un-raised pin reports raised when the walk range is gone")
    // a walk whose head is AT/above the floor still resolves exactly
    assert(GvtTxn.pinRaisedIn(coord, t, 10, 2, 12))
    assert(!GvtTxn.pinRaisedIn(coord, t, 12, 10, 12))
  }

  // ---- auto-compact policy -----------------------------------------

  test("compactAfterFiles bounds live file count under continuous appends") {
    val t = Staging.tempDir("r16_autocompact")
    withConf("spark.graft.gvt.compactAfterFiles" -> "4") {
      (0 until 14).foreach { i =>
        Gvt.append(spark, t,
          spark.range(i * 10L, (i + 1) * 10L).toDF("k").repartition(1),
          Seq("k"))
      }
    }
    val live = Gvt.snapshot(t).size
    assert(live < 4, s"policy must keep the live set under F (got $live)")
    assert(Gvt.latestVersion(t) > 13, "compact commits interleaved")
    assert(Gvt.read(spark, t).count() == 140, "no row lost or duplicated")
    assert(Gvt.read(spark, t).agg(sum("k")).head.getLong(0) ==
      (0L until 140L).sum)
  }

  test("auto-compact is OFF by default and gated off txn/restore commits") {
    val t = Staging.tempDir("r16_compact_gate")
    (0 until 8).foreach { i =>
      Gvt.append(spark, t,
        spark.range(i, i + 1).toDF("k").repartition(1), Seq("k"))
    }
    assert(Gvt.snapshot(t).size == 8, "no knob → no policy")
    withConf("spark.graft.gvt.compactAfterFiles" -> "2") {
      // txn-carrying append: the serialized regime owns the version
      // sequence — no surprise compact commit may land under its CAS
      Gvt.appendTxn(spark, t, spark.range(100, 101).toDF("k"), Seq("k"),
        "r16-gate")
      assert(Gvt.snapshot(t).size == 9, "txn commit must not trigger")
      assert(Gvt.latestVersion(t) == 8)
      // restore: an operator recovering history must not have the
      // policy rewrite it mid-recovery
      Gvt.restore(spark, t, 5)
      assert(Gvt.latestVersion(t) == 9, "restore committed, nothing else")
      assert(Gvt.snapshot(t).size == 6, "restored file set untouched")
    }
    // malformed knob fails BEFORE the commit links
    withConf("spark.graft.gvt.compactAfterFiles" -> "banana") {
      intercept[NumberFormatException](
        Gvt.append(spark, t, spark.range(1).toDF("k"), Seq("k")))
    }
    // F=1 would rewrite the whole small set on every append — refused
    withConf("spark.graft.gvt.compactAfterFiles" -> "1") {
      intercept[IllegalArgumentException](
        Gvt.append(spark, t, spark.range(1).toDF("k"), Seq("k")))
    }
    assert(Gvt.latestVersion(t) == 9)
  }

  test("compact failure: append survives, counter bumps, policy re-fires") {
    val t = Staging.tempDir("r16_compact_fail")
    val before = GvtMaintenance.compactSwallowed.get()
    GvtMaintenance.compactFailpoint =
      () => throw new java.io.IOException("injected compact fault")
    try {
      withConf("spark.graft.gvt.compactAfterFiles" -> "3") {
        (0 until 4).foreach { i =>
          assert(Gvt.append(spark, t,
            spark.range(i, i + 1).toDF("k").repartition(1), Seq("k")) == i)
        }
      }
    } finally GvtMaintenance.resetFailpoints()
    assert(GvtMaintenance.compactSwallowed.get() >= before + 2,
      "every crossing's failure counted")
    assert(Gvt.snapshot(t).size == 4, "no compact ran under the fault")
    // fault cleared: the next crossing compacts
    withConf("spark.graft.gvt.compactAfterFiles" -> "3") {
      Gvt.append(spark, t, spark.range(4, 5).toDF("k").repartition(1),
        Seq("k"))
    }
    assert(Gvt.snapshot(t).size < 4, "policy re-fired once the fault cleared")
    assert(Gvt.read(spark, t).count() == 5)
  }

  test("auto-compact never fires on a branch (shared data pool)") {
    val t = Staging.tempDir("r16_compact_branch")
    (0 until 3).foreach { i =>
      Gvt.append(spark, t,
        spark.range(i, i + 1).toDF("k").repartition(1), Seq("k"))
    }
    val b = Gvt.createBranch(t, "wap")
    withConf("spark.graft.gvt.compactAfterFiles" -> "2") {
      (3 until 7).foreach { i =>
        Gvt.append(spark, b,
          spark.range(i, i + 1).toDF("k").repartition(1), Seq("k"))
      }
    }
    // 3 seeded + 4 branch appends, no compact commit anywhere on the
    // branch (vacuum refuses symlinked pools; compact shares the gate)
    assert(Gvt.snapshot(b).size == 7, "branch file set untouched")
    assert(Gvt.read(spark, b).count() == 7)
  }

  // ---- DESCRIBE HISTORY --------------------------------------------

  test("history: strict ts order, txn carriage, vacuum-bounded range") {
    val t = Staging.tempDir("r16_history")
    (0 until 4).foreach { i =>
      Gvt.append(spark, t,
        spark.range(i * 10L, (i + 1) * 10L).toDF("k").repartition(1),
        Seq("k"))
    }
    Gvt.appendTxn(spark, t,
      spark.range(40, 50).toDF("k").repartition(1), Seq("k"),
      "r16-hist-token")
    val v = Gvt.compact(spark, t, smallRows = Long.MaxValue,
      targetFiles = 2, statsCols = Seq("k"))
    val h = Gvt.history(spark, t).orderBy("version").collect()
    assert(h.map(_.getInt(0)).toSeq == (0 to 5), "one row per commit")
    assert(h.map(_.getString(1)).toSeq ==
      Seq("append", "append", "append", "append", "append", "compact"))
    val ts = h.map(_.getTimestamp(2).getTime)
    assert(ts.sliding(2).forall(p => p(0) < p(1)), "ts strictly increasing")
    assert(h(4).getString(6) == "r16-hist-token", "txn token surfaces")
    assert(h.take(4).forall(_.isNullAt(6)) && h(5).isNullAt(6))
    assert(h(5).getInt(3) == 2 && h(5).getInt(4) == 5,
      "compact adds/removes counted")
    assert(h(5).getLong(5) == 50L, "rows_added from the manifest")
    // vacuum bounds the surface: pre-floor docs leave the DataFrame
    Gvt.vacuum(t, v, graceMs = 0L)
    val h2 = Gvt.history(spark, t).orderBy("version").collect()
    assert(h2.map(_.getInt(0)).toSeq == Seq(5), "only retained docs")
  }

  test("maintenance counter snapshot carries every swallow counter") {
    val snap = GvtMaintenance.snapshot
    assert(snap.keySet == Set("tableCkptSwallowed", "txnCkptSwallowed",
      "autoVacuumSwallowed", "tableVacuumSwallowed", "absorbSwallowed",
      "coordMarkSwallowed", "compactSwallowed"))
    assert(snap.values.forall(_ >= 0))
    // diffable: an injected fault moves exactly its own counter
    val t = Staging.tempDir("r16_counters")
    GvtMaintenance.compactFailpoint =
      () => throw new java.io.IOException("injected")
    try {
      spark.conf.set("spark.graft.gvt.compactAfterFiles", "2")
      try (0 until 2).foreach { i =>
        Gvt.append(spark, t,
          spark.range(i, i + 1).toDF("k").repartition(1), Seq("k"))
      } finally spark.conf.unset("spark.graft.gvt.compactAfterFiles")
    } finally GvtMaintenance.resetFailpoints()
    val after = GvtMaintenance.snapshot
    assert(after("compactSwallowed") == snap("compactSwallowed") + 1)
    assert((after - "compactSwallowed").forall { case (k, v) =>
      v == snap(k)
    }, "only the injected counter moved")
  }
}
