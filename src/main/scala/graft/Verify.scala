package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // shared conf set (UTC, nanosAsLong, v2 bucketing, …) lives in
    // Sessions; only the Verify-specific conf is added here:
    // write timestamps as int64 micros (not INT96) so the dumped
    // results carry the same physical type DuckDB produces
    val spark = Sessions.builderFor(cpus, sfDir)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (the driver never sets this): run just the
    // named keys for a fast local oracle loop on new operators.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(keys) => SparkEntry.queries.view.filterKeys(keys).toMap
      case None => SparkEntry.queries
    }
    // Failure honesty (round-6 lesson): a thrown key used to leave no
    // trace in outDir, so the driver's correctness JSON silently omitted
    // it and a 52-key regression looked like a smaller green run. Record
    // every failure and always write _failed.json — an empty {} is the
    // positive signal that zero keys threw.
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case scala.util.control.NonFatal(e) =>
        failed(name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    // Shared escaper (graft.Json) — Bench emits through the same one.
    def q(s: String): String = Json.str(s)
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failedJson = failed
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failed.json"), failedJson)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size}/${selected.size} keys FAILED: " +
          failed.keys.mkString(", "))
    }
    spark.stop()
    // Deliberately exit 0 even when keys failed: the driver must still
    // ingest the N-good-keys' outputs and oracle-compare them — a
    // nonzero exit risks the whole run being discarded, turning a
    // 1-key regression into a full-artifact loss (the inverse of the
    // failure-honesty goal). Loudness lives in _failed.json + the
    // stderr summary + tools/round_close.py, which DOES abort on a
    // non-empty manifest.
  }
}
