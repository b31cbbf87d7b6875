package graft

import org.apache.spark.sql.functions._

/** Dev probe: where does a micro-batch's time go? Runs the
  * multi-batch-state shape (4 files, maxFilesPerTrigger=1,
  * AvailableNow, complete mode, memory sink, tmpfs checkpoint) and
  * dumps each batch's durationMs breakdown from the progress events.
  *
  * Usage: runMain graft.DevStreamProbe <dir>
  */
object DevStreamProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localFor(cpus, dir, "ERROR")
    Sessions.applyEnvConf(spark)
    val tmpIn = graft.Staging.memoDir("graft_stream_mb", dir) { tmp =>
      Tables(spark, dir, "events").repartition(4)
        .write.mode("overwrite").parquet(tmp)
    }
    val schema = Tables(spark, dir, "events").schema
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", "4"))
    try {
      (1 to 3).foreach { rep =>
        val t0 = System.nanoTime()
        val q = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(tmpIn)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"))
          .writeStream
          .option("checkpointLocation",
            graft.Staging.fastTempDir("graft_ckpt_probe"))
          .format("memory").queryName(s"probe_$rep")
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val total = (System.nanoTime() - t0) / 1e6
        println(f"STREAMPROBE rep=$rep total=${total}%.0f ms")
        q.recentProgress.foreach { p =>
          println(s"STREAMPROBE   batch=${p.batchId} " +
            s"durations=${p.durationMs}")
        }
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    spark.stop()
  }
}
