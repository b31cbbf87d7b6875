package graft.perfbench

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Sessions, SparkEntry}

/** Check of the timed action: on llm_dedup_paragraph the plan
  * [[KeyWorkload.fingerprint]] executes must keep more shuffle exchanges
  * than the plan `count()` executes, because `count()` re-optimises with
  * no columns referenced and drops the key's winner-election branch.
  * Prints both counts; exits 1 when the timed action does not keep more.
  *
  * Usage: PlanCheck <dataDir>
  */
object PlanCheck extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val data = args(0)
    val key = "llm_dedup_paragraph"
    val spark = Sessions.local("2")
    @volatile var counted: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") counted = qe
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    def exchanges(plan: SparkPlan): Int =
      collect(plan) { case e: ShuffleExchangeLike => e }.size
    val fn = SparkEntry.queries(key)
    val timed = fn(spark, data)
    KeyWorkload.fingerprint(timed)
    fn(spark, data).count()
    ListenerDrain(spark.sparkContext)
    val (a, c) = (exchanges(timed.queryExecution.executedPlan), exchanges(counted.executedPlan))
    println(s"$key shuffle exchanges: timed action $a, count() $c")
    spark.stop()
    if (a <= c) sys.exit(1)
  }
}
