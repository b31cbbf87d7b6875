package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One operation of a pass: `run` calls into the program and returns a
  * failure when the result it checked on the spot was wrong. `prepare`
  * is the benchmark's own work before it, kept out of the operation's
  * and the pass's timing. */
final case class Op(name: String, run: () => Option[String],
    prepare: Option[() => Unit] = None)

trait Workload {
  /** The layer its operations' spans are recorded under. */
  def layer: String
  /** The operations of pass `pass` (pass 0 is the cold pass). */
  def ops(pass: Int): Seq[Op]
  /** Runs after the pass is timed and its counters are read: checks kept
    * out of the timed pass. Returns their failures. */
  def endPass(pass: Int): Seq[String] = Nil
  /** Workload-specific per-layer metrics of a traced run. */
  def layers(measured: Seq[Harness.Pass]): Map[String, Double]
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

object Files {
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
  def walk(f: File): Seq[File] =
    Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
      .flatMap(c => if (c.isDirectory) walk(c) else Seq(c))
}

/** The benchmark's JVM. It times the launch until the workload is ready
  * (`Sessions.local` returned and the inputs are open), then runs the
  * workload as a closed loop with one client (each operation starts when
  * the previous one returns): a cold pass, `warmup` warm-up passes and
  * `measured` measured passes, a count fixed by its caller and never by
  * how fast the passes run. It writes `result.json` (and, traced,
  * `spans.jsonl`) for `perfbench/run.py`.
  *
  * Arguments are `name=value` pairs: workload, seed, warmup, measured,
  * trace (0|1), data (input
  * dir), out (result dir), cores, run (the run's id); for query_mix also
  * keys (comma list), expected (fingerprint file) and optionally dump (a
  * dir to write every key's result to after the passes, for recording
  * fingerprints against the oracle).
  */
object Harness {
  final case class Pass(wallS: Double, jitMs: Long, gcMs: Long, classes: Long,
      ops: Seq[(String, Double)], counts: Map[String, Double])

  private val mx = ManagementFactory.getRuntimeMXBean
  private def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  private def classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount

  def main(args: Array[String]): Unit = {
    val mainUs = Trace.nowUs()
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val (workload, seed) = (opt("workload"), opt("seed").toLong)
    val traced = opt("trace") == "1"
    val (data, out, cores) = (opt("data"), opt("out"), opt("cores"))

    val sessionUs = Trace.nowUs()
    val spark = Sessions.local(cores)
    val inputsUs = Trace.nowUs()
    val trace = new Trace(spark, traced)
    val keyWorkload =
      if (workload == "gvt_commit_mix") None
      else Some(new KeyWorkload(spark, data, opt("keys").split(",").toSeq, seed,
        KeyWorkload.readExpected(opt("expected")), trace))
    val w: Workload = keyWorkload.getOrElse(new GvtWorkload(spark, data, s"$out/gvt", traced))
    val readyUs = Trace.nowUs()
    val startUs = mx.getStartTime * 1000
    val setup = Map(
      "setup_s" -> (readyUs - startUs) / 1e6,
      "jvm_s" -> (mainUs - startUs) / 1e6,
      "session_s" -> (inputsUs - sessionUs) / 1e6,
      "inputs_s" -> (readyUs - inputsUs) / 1e6,
      "classes_loaded" -> classes.toDouble)
    trace.record("jvm", "setup", startUs, mainUs)
    trace.record("session", "setup", sessionUs, inputsUs)
    trace.record("inputs", "setup", inputsUs, readyUs)

    val (warmup, measuredN) = (opt("warmup").toInt, opt("measured").toInt)
    val machine = new MachineLoad
    val passes = ArrayBuffer.empty[Pass]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0
    var staging = Map.empty[String, Double]
    for (i <- 0 until 1 + warmup + measuredN) {
      val before = trace.counters()
      val (jit0, gc0, cls0) = (jitMs, gcMs, classes)
      val ops = ArrayBuffer.empty[(String, Double)]
      var untimedUs = 0L
      val passUs = Trace.nowUs()
      trace.span(s"pass $i", "pass") {
        for (op <- w.ops(i)) {
          attempted += 1
          for (prepare <- op.prepare) {
            val p0 = Trace.nowUs()
            trace.span(s"prepare ${op.name}", "check")(prepare())
            untimedUs += Trace.nowUs() - p0
          }
          val t0 = System.nanoTime()
          try trace.span(op.name, w.layer)(op.run()).foreach(f => failures += s"pass $i ${op.name}: $f")
          catch { case NonFatal(e) => failures += s"pass $i ${op.name}: $e" }
          ops += ((op.name, (System.nanoTime() - t0) / 1e6))
        }
      }
      val wallS = (Trace.nowUs() - passUs - untimedUs) / 1e6
      val (jit, gc, cls) = (jitMs - jit0, gcMs - gc0, classes - cls0)
      val after = trace.counters()
      val counts = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0L)).toDouble }
        .withDefaultValue(0.0)
      failures ++= trace.span(s"check $i", "check")(w.endPass(i)).map(f => s"pass $i $f")
      passes += Pass(wallS, jit, gc, cls, ops.toSeq, counts)
      if (i == 0 && traced) staging = stagingLayers()
    }
    val load = machine.shares()
    val measured = passes.takeRight(measuredN).toSeq

    for (k <- keyWorkload; dir <- opt.get("dump")) k.dump(dir)
    val layers = if (!traced) Map.empty[String, Double] else {
      // before the spans are read: the workload's figures record spans too
      val late = w.layers(measured) ++ memoryLayers(spark)
      val spans = { trace.counters(); trace.spans() }
      writeSpans(s"$out/spans.jsonl", opt("run"), spans)
      val self = spanLayers(spans)
      val perPass = measured.indices.map { j =>
        val i = passes.size - measuredN + j
        passLayers(measured(j), cores.toInt) ++ self.getOrElse(s"pass $i", Map.empty)
      }
      val cold = passes.head.counts
      perPass.head.keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)))).toMap ++
        staging ++ late ++ Map(
          "codegen.cold_compiles" -> cold("compiles"),
          "codegen.cold_compile_ms" -> cold("compile_ms"),
          "codegen.warm_compiles" -> Stats.median(measured.map(_.counts("compiles"))))
    }
    val context = Map(
      "local" -> s"local[$cores]",
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "external_cpu_share" -> f"${load._1}%.4f",
      "iowait_share" -> f"${load._2}%.4f")
    val fingerprints = keyWorkload.map(_.seen.toMap).getOrElse(Map.empty)
      .map { case (k, (n, h)) => k -> Seq(n, h) }
    write(s"$out/result.json", json(Map(
      "setup" -> setup,
      "passes" -> passes.map(p => Map("wall_s" -> p.wallS, "jit_ms" -> p.jitMs,
        "gc_ms" -> p.gcMs, "classes_loaded" -> p.classes,
        "ops" -> p.ops.map { case (n, ms) => Seq(n, ms) })).toSeq,
      "warmup" -> warmup, "measured" -> measuredN,
      "attempted" -> attempted,
      "failures" -> failures.toSeq,
      "rss_peak_mb" -> rssPeakMb(),
      "layers" -> layers,
      "context" -> context,
      "spark_conf" -> spark.conf.getAll,
      "fingerprints" -> fingerprints)))
    spark.stop()
  }

  private def passLayers(p: Pass, cores: Int): Map[String, Double] = {
    val d = p.counts
    Map(
      "tables.files_discovered" -> d("files_discovered"),
      "plans.analysis_ms" -> d("analysis_ms"),
      "plans.optimization_ms" -> d("optimization_ms"),
      "plans.planning_ms" -> d("planning_ms"),
      "plans.graft_rule_ms" -> d("graft_rule_ns") / 1e6,
      "plans.graft_rule_effective_ratio" ->
        (if (d("graft_rule_calls") == 0) 0.0 else d("graft_rule_effective") / d("graft_rule_calls")),
      "plans.actions" -> d("actions"),
      "exec.jobs" -> d("jobs"),
      "exec.stages" -> d("stages"),
      "exec.tasks" -> d("tasks"),
      "exec.task_run_ms" -> d("task_run_ms"),
      "exec.task_cpu_ms" -> d("task_cpu_ns") / 1e6,
      "exec.slot_busy_ratio" -> d("task_run_ms") / (p.wallS * 1e3 * cores),
      "exec.scan_mb" -> d("scan_bytes") / 1e6,
      "exec.shuffle_write_mb" -> d("shuffle_write_bytes") / 1e6,
      "exec.shuffle_read_mb" -> d("shuffle_read_bytes") / 1e6,
      "exec.spill_mb" -> d("spill_bytes") / 1e6)
  }

  /** Per pass span (by name), figures derived from its subtree: the key
    * build and action times, key time covered by no job or planning
    * phase, and GVT call time outside any Spark job. A span's self time
    * is its duration minus the part its children cover. */
  private def spanLayers(spans: Seq[Span]): Map[String, Map[String, Double]] = {
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    def subtree(s: Span): Seq[Span] = s +: children(s.id).flatMap(subtree)
    spans.filter(_.layer == "pass").map { p =>
      val all = subtree(p)
      def sum(pick: Span => Boolean)(ms: Span => Double) = all.filter(pick).map(ms).sum
      p.name -> Map(
        "keys.build_ms" -> sum(s => s.layer == "key" && s.name == "build")(_.ms),
        "keys.action_ms" -> sum(s => s.layer == "key" && s.name == "action")(_.ms),
        "keys.unattributed_ms" -> sum(_.layer == "key")(s => Trace.selfMs(s, children(s.id))),
        "gvt.outside_jobs_ms" -> sum(_.layer == "gvt")(s =>
          Trace.selfMs(s, children(s.id).filter(_.layer == "exec.job"))))
    }.toMap
  }

  /** What the cold pass left in the temp dir (graft.Staging dirs and the
    * warehouses live there; the JVM's perf data does not count). */
  private def stagingLayers(): Map[String, Double] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val dirs = Option(tmp.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(d => d.isDirectory && !d.getName.startsWith("hsperfdata_"))
    Map("staging.dirs" -> dirs.size.toDouble,
      "staging.bytes_mb" -> dirs.flatMap(Files.walk).map(_.length).sum / 1e6)
  }

  private def memoryLayers(spark: SparkSession): Map[String, Double] = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    Map("mem.storage_used_mb" -> used / 1e6,
      "mem.persisted_rdds" -> sc.getPersistentRDDs.size.toDouble,
      "mem.heap_used_mb" -> heap / 1e6)
  }

  private def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def writeSpans(path: String, run: String, spans: Seq[Span]): Unit =
    write(path, spans.sortBy(_.start).map(s => json(Map("run" -> run, "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> s.start, "end_us" -> s.end))).mkString("", "\n", "\n"))

  private def write(path: String, body: String): Unit =
    java.nio.file.Files.writeString(new File(path).toPath, body)

  /** Maps, sequences, strings and numbers as JSON. */
  def json(v: Any): String = v match {
    case m: Map[_, _] => m.toSeq.map { case (k, x) => (k.toString, x) }.sortBy(_._1)
      .map { case (k, x) => graft.Json.str(k) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(json).mkString("[", ",", "]")
    case s: String => graft.Json.str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }
}

/** Share of the machine's CPU used by other processes, and the iowait
  * share, over the passes, from /proc/stat as graft.Bench computes them:
  * busy jiffies (user..steal without idle and iowait) minus this
  * process's CPU time, over wall time times cores. */
final class MachineLoad {
  private def read(): (Long, Long, Long) = {
    val cols = scala.io.Source.fromFile("/proc/stat").getLines().next()
      .trim.split("\\s+").drop(1).map(_.toLong)
    val busy = cols.take(8).zipWithIndex.collect { case (v, i) if i != 3 && i != 4 => v }.sum
    val self = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
    (busy, self, cols(4))
  }
  private val (busy0, self0, io0) = read()
  private val wall0 = System.nanoTime()

  def shares(): (Double, Double) = {
    val (busy, self, io) = read()
    val capacity = (System.nanoTime() - wall0) / 1e9 * Runtime.getRuntime.availableProcessors()
    (math.max(0.0, ((busy - busy0) / 100.0 - (self - self0) / 1e9) / capacity),
      math.max(0.0, (io - io0) / 100.0 / capacity))
  }
}
