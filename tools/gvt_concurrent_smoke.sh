#!/usr/bin/env bash
# Cross-JVM GVT concurrency smoke: two real processes append+merge the
# same table concurrently; a third checks every commit serialized with
# no loss. Run from the repo root after `sbt compile`:
#
#   bash tools/gvt_concurrent_smoke.sh [nAppends]
#
# Uses the compiled classes directly (two `sbt` servers would serialize
# on the build lock and defeat the point).
set -euo pipefail
N="${1:-6}"
CP="target/scala-2.13/classes:/opt/spark/jars/*"
# every phase's table lives under one root (in $TMPDIR, default /tmp);
# on any exit, a phase failing under `set -e` included, writers still
# running are stopped and the root is removed
ROOT="$(mktemp -d "${TMPDIR:-/tmp}/gvt_xjvm.XXXXXX")"
trap 'kill $(jobs -p) 2>/dev/null || true; rm -rf "$ROOT"' EXIT
TABLE="$ROOT/table"
JAVA_OPTS="--add-opens=java.base/java.lang=ALL-UNNAMED \
--add-opens=java.base/java.lang.invoke=ALL-UNNAMED \
--add-opens=java.base/java.util=ALL-UNNAMED \
--add-opens=java.base/java.nio=ALL-UNNAMED \
--add-opens=java.base/sun.nio.ch=ALL-UNNAMED \
--add-opens=java.base/sun.util.calendar=ALL-UNNAMED \
--add-opens=java.base/sun.security.action=ALL-UNNAMED \
--add-opens=java.base/java.io=ALL-UNNAMED \
--add-opens=java.base/java.net=ALL-UNNAMED \
--add-opens=java.base/java.util.concurrent=ALL-UNNAMED"

echo "[smoke] table: $TABLE  appends/writer: $N"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent write "$TABLE" 0 "$N" &
P0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent write "$TABLE" 1 "$N" &
P1=$!
wait $P0; wait $P1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent check "$TABLE" 2 "$N"
echo "[smoke] append+merge PASS"

# RMW-conflict phase: merge vs delete vs DV-delete vs compact vs vacuum
# racing across two JVMs on one table; disjoint key stripes make every
# serial order the same final state, so the check is exact.
TABLE2="$ROOT/rmw"
echo "[smoke] rmw table: $TABLE2"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent seedrmw "$TABLE2"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent rmw "$TABLE2" 0 &
R0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent rmw "$TABLE2" 1 &
R1=$!
wait $R0; wait $R1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checkrmw "$TABLE2"
echo "[smoke] rmw PASS"

# Branch-WAP phase: one JVM stages and publishes an append-only branch
# while the other appends to the parent — the publish squash must
# serialize against the racing appends and rebase onto the moved head.
TABLE3="$ROOT/wap"
echo "[smoke] wap table: $TABLE3"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent seedwap "$TABLE3"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent wap "$TABLE3" 0 &
W0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent wap "$TABLE3" 1 &
W1=$!
wait $W0; wait $W1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checkwap "$TABLE3"
echo "[smoke] wap PASS"

# Cross-table txn phase: two JVMs run GvtTxn transactions over the same
# coordinator + two shared tables — the txn-doc createLink allocation
# and the per-table max-merge must serialize across processes; the
# check demands BOTH halves of every transaction at the final view.
TABLE4="$ROOT/txnbase"
echo "[smoke] txn base: $TABLE4"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txn "$TABLE4" 0 4 &
T0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txn "$TABLE4" 1 4 &
T1=$!
wait $T0; wait $T1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checktxn "$TABLE4" 2 4
echo "[smoke] txn PASS"

# Disjoint-table txn race: each writer owns its own table pair through
# the SAME coordinator — the narrowed r12 contract promises isolation
# at EVERY intermediate doc for disjoint transactions; the check walks
# every doc and demands matched tag sets per writer pair.
TABLE5="$ROOT/txnd"
echo "[smoke] txnd base: $TABLE5"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txnd "$TABLE5" 0 3 &
D0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txnd "$TABLE5" 1 3 &
D1=$!
wait $D0; wait $D1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checktxnd "$TABLE5" 2
echo "[smoke] txnd PASS"

# Cross-table WAP racing a parent writer: one JVM branches BOTH tables,
# audits, and publishes branches + one coordinator doc while the other
# JVM keeps landing plain cross-table txns on the same parents.
TABLE6="$ROOT/wapx"
echo "[smoke] wapx base: $TABLE6"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent seedwapx "$TABLE6"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent wapx "$TABLE6" &
X0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent racerx "$TABLE6" 3 &
X1=$!
wait $X0; wait $X1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checkwapx "$TABLE6" 3
echo "[smoke] wapx PASS"

# Serialized overlapping-table txn race (r13): two JVMs drive
# GvtTxn.commitSerialized over the SAME {fact, summary} pair — the
# coordinator CAS loop must deliver whole transactions at EVERY
# intermediate doc, the guarantee plain commit() does not make for
# overlapping writers.
TABLE7="$ROOT/txns"
echo "[smoke] txns base: $TABLE7"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txns "$TABLE7" 0 3 &
S0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txns "$TABLE7" 1 3 &
S1=$!
wait $S0; wait $S1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checktxns "$TABLE7" 2 3
echo "[smoke] txns PASS"

# Auto-vacuum racing serialized writers (r15): both JVMs run
# commitSerialized with the txnRetain policy ON, so coordinator
# vacuums fire concurrently with the peer's stale-walk, pins folds,
# and CAS doc reads. The check demands every RETAINED doc whole, a
# LOUD below-floor failure, and zero transactions lost to the policy.
TABLE8="$ROOT/txnv"
echo "[smoke] txnv base: $TABLE8"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txnv "$TABLE8" 0 5 &
V0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent txnv "$TABLE8" 1 5 &
V1=$!
wait $V0; wait $V1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checktxnv "$TABLE8" 2 5
echo "[smoke] txnv PASS"

# Auto-compact racing writers (r16): both JVMs append tiny files with
# compactAfterFiles ON, so policy bin-packs fire in both processes and
# race each other AND the peer's appends. The check demands zero
# loss/duplication through every racing rewrite, a bounded live file
# set, and a whole history surface.
TABLE9="$ROOT/compauto"
echo "[smoke] compauto table: $TABLE9"
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent compauto "$TABLE9" 0 12 &
C0=$!
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent compauto "$TABLE9" 1 12 &
C1=$!
wait $C0; wait $C1
java $JAVA_OPTS -cp "$CP" graft.DevGvtConcurrent checkcompauto "$TABLE9" 2 12
echo "[smoke] compauto PASS"
