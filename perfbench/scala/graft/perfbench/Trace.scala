package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: one call into a layer, a Spark job or stage, or a planning
  * phase. Times are epoch microseconds; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    start: Long, end: Long) {
  def ms: Double = (end - start) / 1e3
}

/** The traced run's observers, all on Spark's public hooks: a
  * SparkListener for jobs, stages and task metrics, a
  * QueryExecutionListener for every SQL execution's planning phases and
  * rule statistics, and the static codegen and catalog metric sources.
  *
  * [[span]] records a call into a layer, made on the one client thread.
  * The call's span id rides the thread's Spark local properties, so the
  * job events the call causes name it as their parent; a stage's parent
  * is its job, and a planning phase's is the innermost call running at
  * its midpoint. Spans stay in memory until [[spans]] is read at exit.
  *
  * With `enabled` false nothing is registered and [[span]] only runs its
  * body: the untraced run pays nothing for tracing.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  // cumulative counts by name; per-pass figures are the difference of
  // two [[counters]] snapshots
  private val count = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val ids = new AtomicLong()
  private val recorded = ArrayBuffer.empty[Span]
  private val jobOpen = mutable.Map.empty[Int, (Long, Long, Long)] // job -> (span, parent, start ms)
  private val stageJobSpan = mutable.Map.empty[Int, Long]
  private var stack = List.empty[Long]

  private def add(s: Span): Unit = synchronized { recorded += s }

  /** Run `body` as a call into `layer`, recorded as a span. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(Trace.SpanProperty, id.toString)
      val t0 = Trace.nowUs()
      try body
      finally {
        add(Span(id, parent, name, layer, t0, Trace.nowUs()))
        stack = stack.tail
        sc.setLocalProperty(Trace.SpanProperty, stack.headOption.map(_.toString).orNull)
      }
    }

  /** Record a span whose times were taken before tracing started. */
  def record(name: String, layer: String, startUs: Long, endUs: Long): Unit =
    if (enabled) add(Span(ids.incrementAndGet(), 0L, name, layer, startUs, endUs))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      val id = ids.incrementAndGet()
      jobOpen(e.jobId) = (id, parent, e.time)
      e.stageIds.foreach(s => stageJobSpan.getOrElseUpdate(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      count("jobs") += 1
      for ((id, parent, t0) <- jobOpen.remove(e.jobId))
        recorded += Span(id, parent, s"job ${e.jobId}", "exec.job", t0 * 1000, e.time * 1000)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        count("stages") += 1
        val info = e.stageInfo
        for (t0 <- info.submissionTime; t1 <- info.completionTime)
          recorded += Span(ids.incrementAndGet(), stageJobSpan.getOrElse(info.stageId, 0L),
            s"stage ${info.stageId}", "exec.stage", t0 * 1000, t1 * 1000)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      count("tasks") += 1
      val m = e.taskMetrics
      if (m != null) {
        count("task_run_ms") += m.executorRunTime
        count("task_cpu_ns") += m.executorCpuTime
        count("scan_bytes") += m.inputMetrics.bytesRead
        count("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        count("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        count("spill_bytes") += m.diskBytesSpilled
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = executed(qe)
  }

  /** A query run by a Dataset action: one the program ran while it
    * built a plan or, for GVT, inside a call. */
  private def executed(qe: QueryExecution): Unit = synchronized {
    count("actions") += 1
    recordPhases(qe)
  }

  /** Planning phases and graft-rule statistics of one query; also for the
    * key's own plan, which its timed action runs without a Dataset action. */
  def recordPhases(qe: QueryExecution): Unit = if (enabled) synchronized {
    def add(phase: String): Long = qe.tracker.phases.get(phase).map { p =>
      recorded += Span(ids.incrementAndGet(), 0L, phase, s"plans.$phase",
        p.startTimeMs * 1000, p.endTimeMs * 1000)
      p.durationMs
    }.getOrElse(0L)
    for (phase <- Seq("analysis", "optimization", "planning"))
      count(s"${phase}_ms") += add(phase)
    for ((rule, s) <- qe.tracker.rules if rule.startsWith("graft.")) {
      count("graft_rule_ns") += s.totalTimeNs
      count("graft_rule_calls") += s.numInvocations
      count("graft_rule_effective") += s.numEffectiveInvocations
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Cumulative counts once every posted event has been handled.
    * `compile_ms` sums the codegen timer's reservoir, which is exact
    * while the JVM has made fewer than 1,028 compilations. */
  def counters(): Map[String, Long] = {
    if (enabled) ListenerDrain(spark.sparkContext)
    synchronized {
      count.toMap ++ Map(
        "compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        "compile_ms" -> CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum,
        "files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount)
    }
  }

  /** Every span, with planning phases parented to the innermost call
    * running at their midpoint. Call after a final [[counters]]. */
  def spans(): Seq[Span] = synchronized {
    val calls = recorded.filter(s => !s.layer.startsWith("plans.") && !s.layer.startsWith("exec."))
    recorded.map { s =>
      if (s.parent != 0 || !s.layer.startsWith("plans.")) s
      else {
        val mid = (s.start + s.end) / 2
        val around = calls.filter(c => c.start <= mid && mid <= c.end)
        if (around.isEmpty) s else s.copy(parent = around.maxBy(_.start).id)
      }
    }.toSeq
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  private val anchorUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs(): Long = anchorUs + System.nanoTime() / 1000

  /** Milliseconds of `s` not covered by the intervals of `children`. */
  def selfMs(s: Span, children: Seq[Span]): Double = {
    var covered = 0L
    var cur = s.start
    for (c <- children.map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      val a = math.max(c._1, cur)
      if (c._2 > a) { covered += c._2 - a; cur = c._2 }
    }
    (s.end - s.start - covered) / 1e3
  }
}
