package graft

import org.apache.spark.sql.SparkSession

/** The ONE place graft sessions are configured. Verify, Bench, the test
  * base, and every dev probe build through here, so no entry point can
  * drift on a conf the operators depend on (the r7 advisor found Bench
  * missing the UTC pin that the events TIMESTAMP_NTZ cast needs — a
  * class of bug this object removes).
  *
  * Every session is built with [[plans.GraftExtensions]], the same
  * functions, optimizer rules and strategy a cluster user enables with
  * `spark.sql.extensions`; `newSession()` children inherit them.
  *
  * Confs carried by every session:
  *  - `session.timeZone=UTC`: the events reader casts NTZ→Timestamp
  *    (session-tz-sensitive) and all date arithmetic must match the
  *    DuckDB oracle's naive-UTC semantics.
  *  - `legacy.parquet.nanosAsLong=true`: the events fixture has been
  *    TIMESTAMP(NANOS) in past driver regens; the flag is harmless for
  *    non-NANOS files. It lives HERE, not in the reader — a table
  *    reader silently flipping session-wide legacy conf was the r7
  *    verdict's footgun; [[Tables.apply]] now asserts instead of sets.
  *  - `shuffle.partitions` = local core count (not 200) — fixture-sized;
  *    production sizing lives in [[graft.plans.Tuning]].
  *  - v2 bucketing on: join_storage_partitioned needs it, and setting it
  *    per-key would mean keys execute under configs they weren't
  *    validated with (advisor round-4 consistent-config note).
  *  - `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl`: the `file` scheme
  *    is [[GraftLocalFileSystem]] / [[GraftLocalFs]], Hadoop's local file
  *    systems with an in-JVM `setPermission`. The stock ones fork a
  *    `chmod` process for every directory and file a write, a Staging
  *    layout, a GVT commit or a streaming checkpoint makes (the Hadoop
  *    native library is not loaded), 4–5 ms each. Hadoop caches a file
  *    system per scheme for the JVM, so the first session of a JVM
  *    decides which class every later `file:` call gets.
  */
object Sessions {

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      // the GVT SQL catalog: CREATE TABLE gvt.t / INSERT INTO gvt.t /
      // SELECT ... FROM gvt.`/abs/path` (r12)
      .config("spark.sql.catalog.gvt", "graft.sources.GvtCatalog")
      .config("spark.sql.catalog.gvt.warehouse",
        s"${System.getProperty("java.io.tmpdir")}/gvt-warehouse")
      // codegen class cache sized for the whole 304-key suite (static
      // conf, default 100 entries): with only 100, a suite-wide pass
      // evicts every earlier key's generated classes, so the r17
      // pass-separated bench reps re-Janino + re-JIT each key on BOTH
      // passes (~2x on codegen-heavy keys, measured). ~8 units/key x
      // 304 keys fits comfortably; entries are bytecode+classloader,
      // a few hundred MB ceiling against the 8 GB heap. Production
      // jobs with many distinct plans want the same.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** [[builder]] + log level. */
  def local(cpus: String, logLevel: String = "WARN"): SparkSession = {
    val s = builder(cpus).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** [[builder]] plus data-derived AQE initial shuffle width for a known
    * fixture dir ([[plans.Tuning.widthFor]]): identical to `builder` at
    * fixture SFs (the floor = core count wins), replica-sized on the
    * ×10/×100 dirs so big runs stop spilling without anyone touching a
    * knob.
    */
  def builderFor(cpus: String, sfDir: String): SparkSession.Builder = {
    val width = plans.Tuning.widthFor(sfDir, cpus.toInt)
    // initialPartitionNum alone is NOT enough: AQE's parallelism-first
    // coalescing targets total/minPartitionNum bytes per task
    // (minPartitionNum defaults to the core count), which merged the
    // ×100 replica's 1.2 GB shuffles right back to 32 ~37 MB tasks and
    // kept the spill (measured, r8). Raising minPartitionNum to the same
    // derived width makes the coalesce target total/width — tiny stages
    // still collapse (the 1 MB minPartitionSize floor wins there), big
    // ones keep their width.
    //
    // FIXTURE SCALE GETS NO OVERRIDE AT ALL: when the derived width is
    // just the core-count floor, pinning minPartitionNum to it forbids
    // AQE from coalescing tiny stages below `cores` partitions — pure
    // per-task overhead on multi-stage keys at sf0.1 (measured:
    // llm_dedup_near 1.04 → ~1.7 s in the r8 bench profile, recovered
    // by this guard). The overrides exist for replica/production dirs
    // where width > cores, which is exactly when they engage.
    val b = builder(cpus)
    if (width > cpus.toInt)
      b.config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          width.toString)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
          width.toString)
    else b
  }

  def localFor(cpus: String, sfDir: String,
      logLevel: String = "WARN"): SparkSession = {
    val s = builderFor(cpus, sfDir).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** `k=v[,k=v...]` pairs of a runtime-conf override string, such as
    * the dev probes' `SPARK_GRAFT_CONF`; a token without `=` throws
    * instead of being skipped. */
  def parseConf(kvs: String): Seq[(String, String)] =
    kvs.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => (k, v)
        case _ => throw new IllegalArgumentException(
          s"bad SPARK_GRAFT_CONF token '$kv': expected key=value")
      }
    }

  /** Set each pair of `SPARK_GRAFT_CONF` on `spark` — the dev probes'
    * conf and rule A/B hook, e.g.
    * `spark.sql.optimizer.excludedRules=graft.plans.RewriteCohortScalar`. */
  def applyEnvConf(spark: SparkSession): Unit =
    for (kvs <- sys.env.get("SPARK_GRAFT_CONF"); (k, v) <- parseConf(kvs))
      spark.conf.set(k, v)
}
