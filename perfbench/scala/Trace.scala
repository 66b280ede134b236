package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogEvent
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. Times are epoch milliseconds; `parent` is the id of
  * the enclosing span (-1 for an op's root span). */
final case class Span(id: Int, op: Int, name: String, layer: String,
    start: Long, end: Long, parent: Int)

/** Wall-clock boundaries of one op, taken by the runner around the graft
  * call: `built` is when the call returned its frame, `end` when forcing
  * the frame finished. */
final case class OpClock(op: Int, name: String, start: Long, built: Long, end: Long)

/** Per-layer trace of graft calls, measured from outside graft through
  * Spark's public listeners: `SparkListener` (jobs, stages, tasks, catalog
  * and AQE events), `QueryExecutionListener` (Dataset actions inside the
  * call, with their planning trackers), the forced frame's own
  * `QueryExecution.tracker`, `RuleExecutor`'s global rule timer and the
  * codegen compile counters. Events are buffered in memory and assigned to
  * the op that was running when they arrived; the bus is drained after
  * every op, outside the op's timed region. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val events = new ConcurrentLinkedQueue[AnyRef]()
  private final case class QeDone(qe: QueryExecution)

  override def onJobStart(e: SparkListenerJobStart): Unit = events.add(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = events.add(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = events.add(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(e)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: ExternalCatalogEvent | _: SparkListenerSQLAdaptiveExecutionUpdate => events.add(e)
    case _ =>
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    events.add(QeDone(qe))
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    events.add(QeDone(qe))

  val spans = mutable.ArrayBuffer.empty[Span]
  private var compileNs0 = 0L
  private var compiles0 = 0L
  private var ruleNs0 = 0L

  def attach(): Unit = { sc.addSparkListener(this); spark.listenerManager.register(this) }
  def detach(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
    events.clear()
  }

  /** Called just before an op starts. */
  def begin(): Unit = {
    PerfbenchBus.drain(sc)
    events.clear()
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    ruleNs0 = RuleExecutor.getCurrentMetrics().time
  }

  /** Called after the op's frame was forced; returns the op's counters. */
  def end(clock: OpClock, forced: Option[QueryExecution]): Map[String, Double] = {
    val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
    val compiles = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble
    val ruleMs = (RuleExecutor.getCurrentMetrics().time - ruleNs0) / 1e6
    PerfbenchBus.drain(sc)
    val evs = events.asScala.toVector
    events.clear()
    val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = c(k) += v

    def newSpan(name: String, layer: String, s: Long, e: Long, parent: Int): Int = {
      val id = spans.size
      spans += Span(id, clock.op, name, layer, s, math.max(s, e), parent)
      id
    }
    val root = newSpan(clock.name, "graft", clock.start, clock.end, -1)
    val build = newSpan("graft.build", "graft", clock.start, clock.built, root)
    val force = newSpan("graft.force", "graft", clock.built, clock.end, root)
    def driverParent(t: Long): Int = if (t < clock.built) build else force

    // planning: every QueryExecution the op ran (its Dataset actions plus
    // the forced frame), with the tracker's phases and rule timings
    val qes = evs.collect { case QeDone(qe) => qe } ++ forced.toSeq
    add("plan.actions", qes.size.toDouble)
    qes.foreach { qe =>
      qe.tracker.phases.foreach { case (phase, p) =>
        add("plan.phase_ms", p.durationMs.toDouble)
        newSpan(s"plan.$phase", "plan", p.startTimeMs, p.endTimeMs, driverParent(p.startTimeMs))
      }
      qe.tracker.rules.foreach { case (rule, r) =>
        if (rule.startsWith("graft.")) add("plan.graft_rule_ms", r.totalTimeNs / 1e6)
      }
    }
    add("plan.rule_ms", ruleMs)
    add("codegen.compiles", compiles)
    add("codegen.compile_ms", compileMs)

    // scheduler: job and stage spans, task census
    val jobStart = evs.collect { case e: SparkListenerJobStart => e.jobId -> e }.toMap
    val jobEnd = evs.collect { case e: SparkListenerJobEnd => e.jobId -> e.time }.toMap
    val stageJob = jobStart.values.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap
    val jobSpan = mutable.Map.empty[Int, Int]
    val jobIntervals = jobStart.values.toSeq.sortBy(_.time).map { j =>
      val e = jobEnd.getOrElse(j.jobId, clock.end)
      jobSpan(j.jobId) = newSpan(s"job.${j.jobId}", "sched", j.time, e, driverParent(j.time))
      (j.time, e)
    }
    add("sched.jobs", jobStart.size.toDouble)
    add("sched.job_ms", jobIntervals.map { case (s, e) => (e - s).toDouble }.sum)
    add("sched.driver_gap_ms",
      math.max(0.0, (clock.end - clock.start) - Tracer.unionMs(jobIntervals)))
    val stageSubmit = mutable.Map.empty[Int, Long]
    evs.foreach {
      case e: SparkListenerStageCompleted =>
        val si = e.stageInfo
        add("sched.stages", 1)
        val s = si.submissionTime.getOrElse(clock.start)
        stageSubmit(si.stageId) = s
        newSpan(s"stage.${si.stageId}", "stage", s, si.completionTime.getOrElse(clock.end),
          stageJob.get(si.stageId).flatMap(jobSpan.get).getOrElse(force))
      case _ =>
    }
    var peakTaskMem = 0L
    evs.foreach {
      case t: SparkListenerTaskEnd =>
        add("sched.tasks", 1)
        if (!t.taskInfo.successful) add("sched.tasks_failed", 1)
        stageSubmit.get(t.stageId).foreach(s =>
          add("sched.task_queue_ms", math.max(0L, t.taskInfo.launchTime - s).toDouble))
        val m = t.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          peakTaskMem = math.max(peakTaskMem, m.peakExecutionMemory)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
          add("spill.mem_bytes", m.memoryBytesSpilled.toDouble)
          add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
          add("io.input_bytes", m.inputMetrics.bytesRead.toDouble)
          add("io.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      case _: ExternalCatalogEvent => add("catalog.events", 1)
      case _: SparkListenerSQLAdaptiveExecutionUpdate => add("plan.aqe_updates", 1)
      case _ =>
    }
    c("exec.peak_task_mem_mb") = peakTaskMem / 1048576.0
    c("graft.wall_ms") = (clock.end - clock.start).toDouble
    c("graft.build_ms") = (clock.built - clock.start).toDouble
    c("graft.force_ms") = (clock.end - clock.built).toDouble
    c.toMap
  }
}

object Tracer {
  /** Length of the union of [start, end) intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val cover = kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a }
        (s.end - s.start) - unionMs(cover)
      }.sum
    }
  }
}
