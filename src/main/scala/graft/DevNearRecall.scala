package graft

import org.apache.spark.sql.functions._

/** Dev probe (not part of the declared surface): measures LSH banding
  * recall for llm_dedup_near against the EXACT jaccard>=0.5 pair set, per
  * corpus dir. Deterministic (xxhash64 seeds fixed), so "0 missed" here
  * is a stable property of the fixture, not a lucky draw — the evidence
  * needed before making llm_dedup_near oracle-able (r4 verdict item 7).
  *
  * The candidate side is the operator's OWN [[llm.Dedup.nearCandidates]]
  * stage, so this measures the shipped banding, not a re-derivation.
  * Args: corpus dirs (default: the three sf fixtures + the 10×/100×
  * replicas if staged).
  */
object DevNearRecall {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1", "/tmp/scale/x10", "/tmp/scale/x100")
        .filter(d => new java.io.File(d).isDirectory)
    val spark = Sessions.local("32", "ERROR")
    for (dir <- dirs) {
      val sets = Tables(spark, dir, "documents")
        .select(col("doc_id"), llm.Dedup.shingleSet(col("text")).as("shs"))
        .localCheckpoint()
      // exact truth: all-pairs shingle equi-join (small corpus, dev only)
      val post = sets.select(col("doc_id"), explode(col("shs")).as("sh"))
      val truth = post.select(col("sh"), col("doc_id").as("id_a"))
        .join(post.select(col("sh"), col("doc_id").as("id_b")), Seq("sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
        .join(sets.select(col("doc_id").as("id_a"), size(col("shs")).as("sz_a")), "id_a")
        .join(sets.select(col("doc_id").as("id_b"), size(col("shs")).as("sz_b")), "id_b")
        .filter(col("inter").cast("double")
          / (col("sz_a") + col("sz_b") - col("inter")) >= 0.5)
        .select("id_a", "id_b")
      val (cand, _) = llm.Dedup.nearCandidates(spark, dir)
      val nTruth = truth.count()
      val missed = truth.except(cand).count()
      println(s"RECALL $dir: truth=$nTruth missed=$missed cand=${cand.count()}")
    }
    spark.stop()
  }
}
