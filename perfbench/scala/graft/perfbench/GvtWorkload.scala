package graft.perfbench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Gvt

/** One writer on one GVT table. Each pass creates a fresh table under
  * `root` and runs the seeded operation sequence of `gvt_plan.json`:
  * a load, a merge, an update and a DV delete, each followed by a latest,
  * time-travel or pruned read, then compact, vacuum, a manifest read and a
  * final latest read. Opening the inputs reads the source table's schema.
  *
  * A read's fingerprint (row count and order-independent row hash, taken
  * by the key workload's action) must equal the one of the same sequence
  * replayed with plain DataFrame operations; the replay runs after the
  * pass, outside its timing and counters. A write must land the next
  * version, or none when it changes nothing.
  */
final class GvtWorkload(spark: SparkSession, data: String, root: String,
    traced: Boolean) extends Workload {
  import GvtWorkload.Step

  val layer = "gvt"

  private val plan: Seq[Step] = {
    val doc = new ObjectMapper().readTree(new File(s"$data/gvt_plan.json"))
    (0 until doc.size).map { i =>
      val n = doc.get(i)
      val args = Seq("batch", "lo", "hi", "back").filter(n.has)
        .map(f => f -> n.get(f).asLong).toMap
      Step(n.get("op").asText, args)
    }
  }

  private val stats = Seq("l_id")
  private val lineitem = spark.read.parquet(s"$data/lineitem.parquet")
  private def batch(s: Step): DataFrame = lineitem.filter(col("l_id") % 10 === s.args("batch"))
  private def range(s: Step): Column = col("l_id").between(s.args("lo"), s.args("hi"))
  // upsert source: the range's rows of batch 0 (loaded first) and of
  // batch 9 (never appended), with a changed quantity
  private def mergeSource(s: Step): DataFrame =
    lineitem.filter(range(s) && (col("l_id") % 10).isin(0, 9))
      .withColumn("l_quantity", col("l_quantity") + 1)
  private val bumped = col("l_discount") + lit(0.01)

  // The replay: the table after each step of the plan as a plain
  // DataFrame (index -1: the empty table `create` commits).
  private lazy val replay: IndexedSeq[DataFrame] =
    plan.scanLeft(lineitem.limit(0)) { (t, s) =>
      s.op match {
        case "append" => t.unionByName(batch(s))
        case "merge" =>
          val src = mergeSource(s)
          t.join(src.select("l_id"), Seq("l_id"), "left_anti").unionByName(src)
        case "delete_dv" => t.filter(!range(s))
        case "update" =>
          t.withColumn("l_discount", when(range(s), bumped).otherwise(col("l_discount")))
        case _ => t
      }
    }.toIndexedSeq
  private def after(step: Int): DataFrame = replay(step + 1)

  // reads and replay states both in the input's column order, so equal
  // contents give equal fingerprints
  private val columns = lineitem.columns.map(col).toIndexedSeq
  private def fingerprint(df: DataFrame): (Long, Long) =
    KeyWorkload.fingerprint(df.select(columns: _*))
  private val expected = mutable.Map.empty[(Int, Option[Step]), (Long, Long)]
  // this pass's reads: (fingerprint, plan step whose table state it
  // read, range of a pruned read), checked in endPass
  private val reads = mutable.ArrayBuffer.empty[((Long, Long), Int, Option[Step])]

  // traced figures per pass
  private val prunedRatio = mutable.ArrayBuffer.empty[Double]
  private val storage = mutable.ArrayBuffer.empty[Map[String, Double]]

  def ops(pass: Int): Seq[Op] = {
    val dir = s"$root/pass-$pass"
    // the table's version, the plan step each version holds, and the
    // last write step (a write that changes nothing lands no version;
    // the reads after it still compare against the replay)
    var version = 0
    val stepOf = mutable.Map(0 -> -1)
    var lastWrite = -1
    def write(name: String, step: Int)(body: => Int): Op = Op(name, () => {
      val v = body
      lastWrite = step
      if (v == version + 1) stepOf(v) = step
      val failure =
        if (v == version || v == version + 1) None
        else Some(s"landed v$v on v$version")
      version = v
      failure
    })
    def read(name: String)(asOfNow: => Option[Int]): Op = Op(name, () => {
      val asOf = asOfNow
      reads += ((fingerprint(Gvt.read(spark, dir, asOf)), asOf.fold(lastWrite)(stepOf), None))
      None
    })

    Op("create", () => { Gvt.create(spark, dir, lineitem.schema, stats); None }) +:
      plan.zipWithIndex.map { case (s, i) =>
        s.op match {
          case "append" => write("append", i)(Gvt.append(spark, dir, batch(s), stats))
          case "merge" => write("merge", i)(Gvt.merge(spark, dir, mergeSource(s), "l_id", stats))
          case "delete_dv" => write("delete_dv", i)(Gvt.deleteWhereDV(spark, dir, range(s)))
          case "update" =>
            write("update", i)(Gvt.updateWhere(spark, dir, range(s), Seq("l_discount" -> bumped), stats))
          case "compact" => write("compact", i)(Gvt.compact(spark, dir, Long.MaxValue, 1, stats))
          case "vacuum" => Op("vacuum", () => { Gvt.vacuum(dir, version, graceMs = 0L); None },
            // traced only, untimed: a file walk of what the pass wrote,
            // before vacuum reclaims any of it
            if (!traced) None
            else Some(() => vacuumed = Some((writtenLayers(dir), lastWrite))))
          case "snapshot" => Op("snapshot", () => { Gvt.snapshot(dir); None })
          case "read_latest" => read("read_latest")(None)
          case "time_travel" => read("time_travel")(Some(math.max(1, version - s.args("back").toInt)))
          case "pruned_read" => Op("pruned_read", () => {
            val (df, scanned, total) =
              Gvt.readPruned(spark, dir, "l_id", s.args("lo").toDouble, s.args("hi").toDouble)
            reads += ((fingerprint(df), lastWrite, Some(s)))
            prunedRatio += scanned.toDouble / total
            None
          })
        }
      }
  }

  // a traced pass's figures before vacuum, and the last write step before it
  private var vacuumed: Option[(Map[String, Double], Int)] = None

  /** Checks the pass's reads against the replay and takes the storage
    * figures; runs after the pass's counters are read, so the replay's
    * and the plain copy's Spark jobs are not counted. */
  override def endPass(pass: Int): Seq[String] = {
    val dir = s"$root/pass-$pass"
    val failures = reads.toSeq.flatMap { case (have, step, pruned) =>
      val want = expected.getOrElseUpdate((step, pruned), fingerprint(
        pruned.fold(after(step))(s => after(step).filter(range(s)))))
      if (have == want) None
      else Some(s"read (rows, hash) $have, replay after step $step $want")
    }
    reads.clear()
    for ((written, step) <- vacuumed) storage += written ++ storedLayers(dir, after(step))
    vacuumed = None
    Files.deleteTree(new File(dir))
    failures
  }

  /** Everything the pass wrote, before vacuum reclaims any of it. */
  private def writtenLayers(dir: String): Map[String, Double] = {
    val data = Files.walk(new File(s"$dir/data"))
    Map("gvt.bytes_written_mb" -> data.map(_.length).sum / 1e6,
      "gvt.data_files_written" -> data.count(f => f.getName.endsWith(".parquet") &&
        !f.getParentFile.getName.startsWith("dv")).toDouble)
  }

  /** What vacuum keeps, against the live rows written once as plain
    * parquet. */
  private def storedLayers(dir: String, live: DataFrame): Map[String, Double] = {
    val plain = s"$root/plain"
    live.write.mode("overwrite").parquet(plain)
    val user = Files.walk(new File(plain)).filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Map("gvt.log_docs" -> Files.walk(new File(s"$dir/${Gvt.LogDir}")).size.toDouble,
      "gvt.live_bytes_mb" -> Gvt.snapshot(dir).map(_.bytes).sum / 1e6,
      "gvt.stored_bytes_per_user_byte" ->
        Files.walk(new File(dir)).map(_.length).sum.toDouble / user)
  }

  def layers(measured: Seq[Harness.Pass]): Map[String, Double] = {
    val callMs = measured.flatMap(_.ops).groupBy(_._1).map { case (n, s) => n -> s.map(_._2) }
    def med(name: String) = Stats.median(callMs.getOrElse(name, Nil))
    val kinds = Map("commit" -> Seq("append", "merge", "delete_dv", "update", "compact", "vacuum"),
      "read" -> Seq("snapshot", "read_latest", "time_travel", "pruned_read"))
    val perCall = kinds.values.flatten.map(n => s"gvt.${n}_ms" -> med(n)).toMap
    val pooled = kinds.map { case (k, names) =>
      s"gvt.${k}_p50_ms" -> Stats.median(names.flatMap(callMs.getOrElse(_, Nil)))
    }
    val stored = storage.headOption.map(_.keys).getOrElse(Nil)
      .map(k => k -> Stats.median(storage.map(_(k)).toSeq)).toMap
    perCall ++ pooled ++ stored +
      ("gvt.files_scanned_ratio" -> Stats.median(prunedRatio.toSeq))
  }
}

object GvtWorkload {
  private final case class Step(op: String, args: Map[String, Long])
}
