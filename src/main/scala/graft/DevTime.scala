package graft


/** Dev probe (not part of the declared surface): times one or more
  * declared keys on a corpus dir with the bench protocol (min of 2 warm
  * reps, local[32], 32 shuffle partitions) — the single-key loop for
  * plan iteration without a full Bench run.
  *
  * Usage: runMain graft.DevTime <dir> <key> [key...]
  *
  * SPARK_GRAFT_CONF="k=v[,k=v...]" sets runtime confs before timing
  * (a token without `=` fails). The rule-off control run of a rule
  * A/B excludes one graft rule per run:
  * `SPARK_GRAFT_CONF=spark.sql.optimizer.excludedRules=graft.plans.RewriteCohortScalar`.
  */
object DevTime {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val keys = args.tail.toSeq
    val spark = Sessions.localFor("32", dir, "ERROR")
    Sessions.applyEnvConf(spark)
    for (k <- keys) {
      val fn = SparkEntry.queries(k)
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        val n = fn(spark, dir).count()
        ((System.nanoTime() - t0) / 1e9, n)
      }
      val best = times.minBy(_._1)
      println(f"TIME $dir $k min=${best._1}%.3f max=${times.map(_._1).max}%.3f rows=${best._2}")
    }
    spark.stop()
  }
}
