package graft

import org.apache.spark.sql.functions._

/** Dev probe: decompose the per-action floor that ~254 sub-0.5 s keys
  * pay (r16 verdict item 5). Times, warm, at the bench's session config:
  *   - Tables.apply construction alone (relation resolve + footer read)
  *   - a 1-row local-relation count (pure action/scheduling floor)
  *   - a single-stage parquet count (scan floor)
  *   - a two-stage aggregate (adds one AQE shuffle stage)
  *   - a pinned 32-wide repartition count (task-dispatch cost of the
  *     explicit exchanges many llm keys pin)
  *
  * Usage: runMain graft.DevFloor <dir> [iters]
  */
object DevFloor {
  def main(args: Array[String]): Unit = {
    val dir = args.head
    val iters = if (args.length > 1) args(1).toInt else 20
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.localFor(cpus, dir, "ERROR")
    def time(label: String)(body: => Unit): Unit = {
      body // warm
      val t0 = System.nanoTime()
      (1 to iters).foreach(_ => body)
      val per = (System.nanoTime() - t0) / 1e6 / iters
      println(f"FLOOR $label%-28s ${per}%9.2f ms/op x$iters")
    }
    time("tables_apply") { Tables(spark, dir, "orders") }
    time("tables_apply_events") { Tables(spark, dir, "events") }
    val one = spark.range(1)
    time("local_count") { one.count() }
    time("range_agg_count") {
      spark.range(1000).groupBy((col("id") % 7).as("k")).count().count()
    }
    time("parquet_count") { Tables(spark, dir, "orders").count() }
    time("parquet_agg") {
      Tables(spark, dir, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1))).count()
    }
    time("parquet_pinned_repart") {
      Tables(spark, dir, "documents")
        .repartition(cpus.toInt, col("doc_id")).count()
    }
    time("parquet_agg_noaqe_cache") {
      Tables(spark, dir, "orders").groupBy("o_orderkey")
        .agg(count(lit(1))).count()
    }
    // A/B: graft optimizer rules off (Spark's excludedRules switch)
    val excluded = "spark.sql.optimizer.excludedRules"
    val graftRules = plans.GraftExtensions.rules.map(_.ruleName)
    spark.conf.set(excluded, graftRules.mkString(","))
    time("norules_local_count") { one.count() }
    time("norules_parquet_agg") {
      Tables(spark, dir, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1))).count()
    }
    spark.conf.unset(excluded)
    // A/B: AQE off (diagnostic only — not a shippable global config)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    time("noaqe_local_count") { one.count() }
    time("noaqe_parquet_agg") {
      Tables(spark, dir, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1))).count()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    // A/B: memoized relation (constructed once, counted many times)
    val memo = Tables(spark, dir, "orders")
    time("memo_parquet_agg") {
      memo.groupBy("o_orderstatus").agg(count(lit(1))).count()
    }
    // A/B: explicit schema per call (skip footer inference, fresh
    // attribute ids each call)
    val sch = memo.schema
    time("schema_tables_apply") {
      spark.read.schema(sch).parquet(s"$dir/orders.parquet")
    }
    time("schema_parquet_agg") {
      spark.read.schema(sch).parquet(s"$dir/orders.parquet")
        .groupBy("o_orderstatus").agg(count(lit(1))).count()
    }
    // per-rule attribution of the graft rules' cost
    for (r <- graftRules) {
      spark.conf.set(excluded, r)
      time(s"minus_${r.split("\\.").last}") {
        Tables(spark, dir, "orders").groupBy("o_orderstatus")
          .agg(count(lit(1))).count()
      }
    }
    spark.conf.unset(excluded)
    time("all_rules_again") {
      Tables(spark, dir, "orders").groupBy("o_orderstatus")
        .agg(count(lit(1))).count()
    }
    spark.stop()
  }
}
