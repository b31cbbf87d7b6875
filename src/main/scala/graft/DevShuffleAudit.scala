package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev probe: per-key SHUFFLE-BYTE accounting via a SparkListener — the
  * "minimize shuffles" design rule, measured instead of asserted. For
  * each named key, executes the key's plan twice (staging memos and
  * codegen warm on rep 1; rep 2 is the steady-state plan) and reports
  * the second rep's shuffle write/read bytes and records.
  *
  * Execution is `queryExecution.toRdd.count()` — the COMPILED plan runs
  * whole, exactly as the key defines it. `df.count()` (the tool's form
  * through round 10) re-optimizes with zero columns referenced, and
  * Catalyst can then ELIMINATE subtrees: llm_dedup_paragraph's whole
  * winner-election branch vanished under it (left-outer join against
  * unique aggregate keys, no right columns needed for a row count), so
  * its r10 "31 KB" row measured a different plan than the key ships.
  * Most keys are unaffected (their aggregates/sorts survive a count),
  * but full-plan execution is the honest default.
  *
  * Reading the numbers: shuffle write ≈ the data volume that would
  * cross the network on a real cluster. A key whose shuffle bytes are a
  * small fraction of its input scan is exchange-efficient (map-side
  * combine, broadcast dims, digest keys); one that shuffles more than
  * it scans is re-materializing its input and needs a look.
  *
  * Usage: runMain graft.DevShuffleAudit <sfDir> <key...>
  */
object DevShuffleAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val keys = args.tail.toSeq
    val spark = Sessions.localFor("32", dir, "ERROR")
    // same conf / rule-off A-B hook as DevTime (SPARK_GRAFT_CONF)
    Sessions.applyEnvConf(spark)
    val write = new AtomicLong(0L)
    val read = new AtomicLong(0L)
    val records = new AtomicLong(0L)
    val spillMem = new AtomicLong(0L)
    val spillDisk = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          write.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          spillMem.addAndGet(m.memoryBytesSpilled)
          spillDisk.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    for (k <- keys) {
      val fn = SparkEntry.queries(k)
      fn(spark, dir).queryExecution.toRdd.count() // warm: staging, codegen
      // listener events are posted asynchronously — drain before snapshot
      Thread.sleep(800) // listener events post asynchronously (the public
                        // API has no drain hook); stages are long past
                        // done by then — dev probe, coarse is fine
      val w0 = write.get(); val r0 = read.get(); val n0 = records.get()
      val sm0 = spillMem.get(); val sd0 = spillDisk.get()
      val rows = fn(spark, dir).queryExecution.toRdd.count()
      Thread.sleep(800) // listener events post asynchronously (the public
                        // API has no drain hook); stages are long past
                        // done by then — dev probe, coarse is fine
      println(s"SHUFFLE $dir $k write_bytes=${write.get() - w0} " +
        s"read_bytes=${read.get() - r0} records=${records.get() - n0} " +
        s"spill_mem=${spillMem.get() - sm0} " +
        s"spill_disk=${spillDisk.get() - sd0} rows=$rows")
    }
    // When a PPJoin key is being audited, also emit the candidate-stage
    // volume under BOTH prefix orderings (r7 verdict #4: the df-ordered
    // path is config-gated; its candidate reduction should be a number in
    // every audit, not a one-off prose claim).
    if (keys.exists(k => k == "llm_dedup_ngram_jaccard" || k == "llm_dedup_near")) {
      for (flag <- Seq(false, true)) {
        spark.conf.set("spark.graft.ppjoin.dfOrdered", flag.toString)
        try {
          val n = llm.DedupVariants.ngramCandidates(spark, dir)._1.count()
          println(s"CAND $dir ppjoin dfOrdered=$flag pairs=$n")
        } finally spark.conf.unset("spark.graft.ppjoin.dfOrdered")
      }
    }
    spark.stop()
  }
}
