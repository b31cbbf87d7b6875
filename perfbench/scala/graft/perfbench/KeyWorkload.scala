package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection

import graft.SparkEntry

/** Declared query keys, each pass in a seeded order. Opening the inputs
  * resolves the keys in the program's registry; each key opens its
  * tables itself (`graft.Tables`), in the cold pass.
  *
  * An operation builds the key's plan (`SparkEntry.queries(k)(spark, dir)`)
  * and then executes the plan it ships (`queryExecution.toRdd`), folding
  * its rows into a fingerprint: row count plus the sum of each row's
  * UnsafeRow hash, which does not depend on row order. `count()` would
  * not do: it re-optimises with no columns referenced and can drop whole
  * branches (it drops llm_dedup_paragraph's winner election). Every
  * execution's fingerprint must equal the key's entry in `expected`.
  */
final class KeyWorkload(spark: SparkSession, data: String, keys: Seq[String],
    seed: Long, expected: Map[String, (Long, Long)], trace: Trace)
    extends Workload {

  private val fns = keys.map(k => k -> SparkEntry.queries(k)).toMap
  /** The fingerprint each key produced last. */
  val seen = mutable.LinkedHashMap.empty[String, (Long, Long)]

  val layer = "key"

  def ops(pass: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(keys).map { k =>
      Op(k, () => {
        val df = trace.span("build", layer)(fns(k)(spark, data))
        val fp = trace.span("action", layer)(KeyWorkload.fingerprint(df))
        // the key's own plan: analysed while it was built, then optimised
        // and planned by the action
        trace.recordPhases(df.queryExecution)
        seen(k) = fp
        expected.get(k) match {
          case Some(e) if e == fp => None
          case Some(e) => Some(s"(rows, hash) $fp, expected $e")
          case None => Some(s"(rows, hash) $fp, no expected fingerprint")
        }
      })
    }

  private val ngram = "llm_dedup_ngram_jaccard"

  def layers(measured: Seq[Harness.Pass]): Map[String, Double] =
    if (!keys.contains(ngram)) Map.empty
    else {
      // the PPJoin candidate stage alone, timed with the same action
      val runs = (0 until 3).map { _ =>
        val t0 = System.nanoTime()
        val n = trace.span("ngramCandidates", "llm") {
          KeyWorkload.fingerprint(graft.llm.DedupVariants.ngramCandidates(spark, data)._1)._1
        }
        (n, (System.nanoTime() - t0) / 1e6)
      }
      val candidates = runs.head._1.toDouble
      val pairs = seen(ngram)._1.toDouble
      Map("llm.candidate_ms" -> Stats.median(runs.map(_._2)),
        "llm.ngram_candidates" -> candidates,
        "llm.ngram_pairs" -> pairs,
        "llm.pair_yield" -> (if (candidates == 0) 0.0 else pairs / candidates))
    }

  /** Each key's result as parquet, with its oracle SQL, for recording
    * expected fingerprints against the DuckDB oracle. */
  def dump(dir: String): Unit = {
    for (k <- keys) fns(k)(spark, data).coalesce(1).write.parquet(s"$dir/$k")
    val sql = SparkEntry.oracleSql
    val body = keys.flatMap(k => sql.get(k).map(q => graft.Json.str(k) + ":" + graft.Json.str(q)))
    java.nio.file.Files.writeString(new File(s"$dir/oracle_sql.json").toPath,
      body.mkString("{", ",\n", "}"))
  }
}

object KeyWorkload {
  /** Execute the plan `df` ships; (row count, order-independent hash). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val project = UnsafeProjection.create(schema)
      var (n, h) = (0L, 0L)
      rows.foreach { r => n += 1; h += project(r).hashCode() }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (a, b)) => (n + a, h + b) }
  }

  /** `{"key": [rows, hash], ...}` */
  def readExpected(path: String): Map[String, (Long, Long)] = {
    val doc = new ObjectMapper().readTree(new File(path))
    val names = doc.fieldNames()
    val out = Map.newBuilder[String, (Long, Long)]
    while (names.hasNext) {
      val k = names.next()
      out += k -> ((doc.get(k).get(0).asLong, doc.get(k).get(1).asLong))
    }
    out.result()
  }
}
