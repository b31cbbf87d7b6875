package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Guards the round-7 events-reader fix: the driver regenerated the
  * fixtures mid-round-6 and events.ts changed physical type from
  * TIMESTAMP(NANOS) to TIMESTAMP(MICROS), which the old hard-wired
  * ns→µs truncation turned into an analysis error on all 52
  * events-dependent keys. Tables.apply now branches on the type Spark
  * infers from the footer; these tests stage an events.parquet in each
  * layout Spark can WRITE (NTZ micros — the current fixture layout —
  * and classic TimestampType) and assert the reader returns the same
  * instants as TimestampType either way. The legacy NANOS-as-long path
  * can't be produced by a Spark writer (Spark never writes
  * TIMESTAMP(NANOS)), so it is covered by the live fixtures' history
  * rather than a staged file.
  */
class TablesLayoutSpec extends GraftSuite {

  private def stage(writeNtz: Boolean): String = {
    val dir = Files.createTempDirectory("tables-layout").toString
    val base = Tables(spark, sf0001, "events").limit(100)
      .select(col("event_id"), col("ts"))
    val out =
      if (writeNtz) base.withColumn("ts", col("ts").cast("timestamp_ntz"))
      else base
    out.write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("events reader: TIMESTAMP_NTZ layout (current fixtures) → " +
      "TimestampType, instants preserved") {
    val dir = stage(writeNtz = true)
    val got = Tables(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val reference = Tables(spark, sf0001, "events").limit(100)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val staged = got.select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(staged.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(staged).count() == 0)
  }

  test("events reader: TimestampType layout → passthrough, instants preserved") {
    val dir = stage(writeNtz = false)
    val got = Tables(spark, dir, "events")
    assert(got.schema("ts").dataType == TimestampType)
    val reference = Tables(spark, sf0001, "events").limit(100)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val staged = got.select(col("event_id"), unix_micros(col("ts")).as("us"))
    assert(staged.exceptAll(reference).count() == 0)
    assert(reference.exceptAll(staged).count() == 0)
  }

  test("a table dir rewritten with a new column in the same JVM reads the new schema") {
    val dir = Files.createTempDirectory("tables-rewrite").toString
    val path = s"$dir/t.parquet"
    spark.range(5).toDF("a").write.parquet(path)
    assert(Tables(spark, dir, "t").columns.toSeq == Seq("a"))
    spark.range(5).withColumn("b", col("id") * 2).toDF("a", "b")
      .write.mode("overwrite").parquet(path)
    val t = Tables(spark, dir, "t")
    assert(t.columns.toSeq == Seq("a", "b"))
    assert(t.orderBy("a").collect().map(r => r.getLong(1)).toSeq == Seq(0L, 2L, 4L, 6L, 8L))
  }
}
