package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span recorded in the benchmark's own code around one call into a
  * layer. Times are wall-clock milliseconds, the clock Spark stamps its
  * listener events with, so jobs and tasks can be attributed by window.
  */
final case class Span(name: String, op: Int, startMs: Long, endMs: Long) {
  def contains(t: Long): Boolean = t >= startMs && t <= endMs
  def ms: Long = endMs - startMs
}

/** One benchmark op as the trace sees it. */
final case class OpWindow(index: Int, startMs: Long, endMs: Long, wallMs: Double)

/** Spans kept in memory and read at the end of the run. With tracing
  * off nothing is recorded.
  */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = System.currentTimeMillis()
      try body
      finally spans += Span(name, op, t0, System.currentTimeMillis())
    }
}

object EventLog {
  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int], callSite: String) {
    @volatile var endMs: Long = -1L
  }
  final case class Task(
      stageId: Int,
      runMs: Long,
      cpuNs: Long,
      gcMs: Long,
      shuffleRead: Long,
      shuffleWrite: Long,
      spill: Long,
      input: Long,
      csvRows: Long
  )
  final case class Qe(phases: Map[String, (Long, Long)], ruleRuns: Long, effectiveRuleRuns: Long)
}

/** Jobs, stages, tasks and query executions as Spark reports them. */
final class EventLog extends SparkListener with QueryExecutionListener {
  import EventLog._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val qes = new ConcurrentLinkedQueue[Qe]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  /** Accumulator ids of the row counts of every CSV file scan planned. */
  private val csvScanRows = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def noteCsvScans(p: SparkPlanInfo): Unit = {
    if (p.nodeName.toLowerCase.startsWith("scan csv"))
      p.metrics.filter(_.name == "number of output rows").foreach(m => csvScanRows.add(m.accumulatorId))
    p.children.foreach(noteCsvScans)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart          => noteCsvScans(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => noteCsvScans(u.sparkPlanInfo)
    case _                                          =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // a stage's details is the long form of the call site that launched it
    val j = Job(e.jobId, e.time, e.stageIds, e.stageInfos.map(_.details).mkString("\n"))
    jobById.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(
        Task(
          e.stageId,
          m.executorRunTime,
          m.executorCpuTime,
          m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead,
          e.taskInfo.accumulables.filter(a => csvScanRows.contains(a.id)).flatMap(_.update).collect {
            case n: java.lang.Number => n.longValue
          }.sum
        )
      )
  }

  private def record(qe: QueryExecution): Unit = {
    val t = qe.tracker
    val rules = t.rules.values
    qes.add(
      Qe(
        t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) },
        rules.map(_.numInvocations).sum,
        rules.map(_.numEffectiveInvocations).sum
      )
    )
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Counts Spark's "replaced a previously registered function" warnings. */
final class ReregistrationCounter
    extends AbstractAppender("perfbench-reregistrations", null, null, true, Property.EMPTY_ARRAY) {
  val count = new AtomicLong()
  override def append(event: LogEvent): Unit =
    if (event.getMessage.getFormattedMessage.contains("replaced a previously registered function"))
      count.incrementAndGet()
}

object ReregistrationCounter {
  def install(): ReregistrationCounter = {
    val app = new ReregistrationCounter
    app.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    ctx.getConfiguration.getRootLogger.addAppender(app, Level.WARN, null)
    ctx.updateLoggers()
    app
  }
}

/** Attributes the event log to op windows and folds it into the
  * per-layer metrics, each a mean per op.
  */
object Layers {
  /** Spans that build a DataFrame before any action runs. */
  val ConstructSpans = Set("queries.construct", "jobs.update_build")
  private val Mb = 1e6

  def install(spark: SparkSession): EventLog = {
    val log = new EventLog
    spark.sparkContext.addSparkListener(log)
    spark.listenerManager.register(log)
    log
  }

  /** Rows CSV file scans returned to jobs that started in a window. */
  def csvRowsIn(log: EventLog, startMs: Long, endMs: Long): Long = {
    val stages = log.jobs.asScala.filter(j => j.startMs >= startMs && j.startMs <= endMs).flatMap(_.stageIds).toSet
    log.tasks.asScala.filter(t => stages(t.stageId)).map(_.csvRows).sum
  }

  def perOp(log: EventLog, tracer: Tracer, ops: Seq[OpWindow], cores: Int): Map[String, Double] = {
    val jobs = log.jobs.asScala.toSeq
    val stageJob = jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val tasksByJob = log.tasks.asScala.toSeq.groupBy(t => stageJob.get(t.stageId).map(_.id).getOrElse(-1))
    val stagesByJob = log.stagesDone.asScala.toSeq.groupBy(s => stageJob.get(s).map(_.id).getOrElse(-1))
    val qes = log.qes.asScala.toSeq
    val rows = ops.map { op =>
      val in = (t: Long) => t >= op.startMs && t <= op.endMs
      val construct = tracer.spans.filter(s => s.op == op.index && ConstructSpans(s.name))
      val inConstruct = (t: Long) => construct.exists(_.contains(t))
      val opJobs = jobs.filter(j => in(j.startMs))
      val (cJobs, xJobs) = opJobs.partition(j => inConstruct(j.startMs))
      def tasksOf(js: Seq[EventLog.Job]) = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val cTasks = tasksOf(cJobs)
      val xTasks = tasksOf(xJobs)
      val execMs = unionMs(xJobs.map(j => (j.startMs, if (j.endMs < 0) op.endMs else j.endMs)))
      val opQes = qes.filter(q => q.phases.get("analysis").orElse(q.phases.values.headOption).exists(p => in(p._1)))
      def phaseMs(name: String) = opQes.flatMap(_.phases.get(name)).map(p => (p._2 - p._1).toDouble).sum
      val catalystOutsideConstruct = opQes
        .flatMap(_.phases.filter { case (k, _) => k != "parsing" }.values)
        .filterNot(p => inConstruct(p._1))
        .map(p => (p._2 - p._1).toDouble)
        .sum
      val constructMs = construct.map(_.ms.toDouble).sum
      val allRunMs = (cTasks ++ xTasks).map(_.runMs).sum.toDouble
      Map(
        "tables.schema_jobs" -> opJobs.count(_.callSite.contains("graft.tables.TestTables")).toDouble,
        "queries.construct_ms" -> constructMs,
        "queries.construct_jobs" -> cJobs.size.toDouble,
        "queries.construct_task_s" -> cTasks.map(_.runMs).sum / 1e3,
        "catalyst.analysis_ms" -> phaseMs("analysis"),
        "catalyst.optimization_ms" -> phaseMs("optimization"),
        "catalyst.planning_ms" -> phaseMs("planning"),
        "catalyst.rule_runs" -> opQes.map(_.ruleRuns).sum.toDouble,
        "catalyst.effective_rule_runs" -> opQes.map(_.effectiveRuleRuns).sum.toDouble,
        "exec.ms" -> execMs,
        "exec.jobs" -> xJobs.size.toDouble,
        "exec.stages" -> xJobs.map(j => stagesByJob.getOrElse(j.id, Nil).size).sum.toDouble,
        "exec.tasks" -> xTasks.size.toDouble,
        "exec.task_cpu_s" -> xTasks.map(_.cpuNs).sum / 1e9,
        "exec.task_run_s" -> xTasks.map(_.runMs).sum / 1e3,
        "exec.gc_ms" -> xTasks.map(_.gcMs).sum.toDouble,
        "exec.busy_frac" -> (if (op.wallMs > 0) allRunMs / (op.wallMs * cores) else 0.0),
        "exec.shuffle_read_mb" -> xTasks.map(_.shuffleRead).sum / Mb,
        "exec.shuffle_write_mb" -> xTasks.map(_.shuffleWrite).sum / Mb,
        "exec.spill_mb" -> xTasks.map(_.spill).sum / Mb,
        "exec.input_mb" -> xTasks.map(_.input).sum / Mb,
        "driver.other_ms" -> (op.wallMs - constructMs - execMs - catalystOutsideConstruct),
        "trace.op_wall_ms" -> op.wallMs
      )
    }
    val opIds = ops.map(_.index).toSet
    val spanMeans = SpanMetrics.map { case (span, metric) =>
      metric -> tracer.spans.filter(s => s.name == span && opIds(s.op)).map(_.ms.toDouble).sum / ops.size
    }
    val keys = rows.headOption.map(_.keys).getOrElse(Nil)
    keys.map(k => k -> rows.map(_(k)).sum / rows.size).toMap ++ spanMeans
  }

  /** Spans reported directly as a mean time per op. */
  val SpanMetrics: Map[String, String] = Map(
    "jobs.update_build" -> "jobs.update_build_ms",
    "jobs.store_write" -> "jobs.store_write_ms",
    "jobs.daily_write" -> "jobs.daily_write_ms",
    "operators.doy_refresh" -> "operators.doy_refresh_ms",
    "streaming.drain" -> "streaming.drain_ms"
  )

  /** Length of the union of closed intervals, in ms. */
  private def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}
