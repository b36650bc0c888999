package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanosecond resolution, so the
  * harness's own timings line up with Spark's listener timestamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A stretch of one operation timed by the harness around a library call:
  * `build` (a query builder, a stream start) or `execute` / `stream.L`. */
final case class Part(name: String, layer: String, start: Double, end: Double)

/** One streaming micro-batch, from its `StreamingQueryProgress`. */
final case class MicroBatch(
    layer: String,
    start: Double,
    durations: Map[String, Long],
    inputRows: Long,
    stateBytes: Long,
    droppedByWatermark: Long) {
  def triggerMs: Long = durations.getOrElse("triggerExecution", 0L)
}

/** One timed operation: a query execution or a stream drain. */
final case class Op(
    name: String,
    group: String,
    kind: String,
    start: Double,
    end: Double,
    error: Option[String],
    parts: Seq[Part],
    batches: Seq[MicroBatch] = Nil,
    phases: Seq[(String, Double, Double)] = Nil) {
  def seconds: Double = (end - start) / 1e3
}

final case class Span(
    id: Int,
    parent: Int,
    trace: String,
    name: String,
    layer: String,
    start: Double,
    end: Double,
    attrs: Map[String, Double]) {
  def toMap: Map[String, Any] = Map("id" -> id, "parent" -> parent,
    "trace" -> trace, "name" -> name, "layer" -> layer, "start_ms" -> start,
    "end_ms" -> end, "attrs" -> attrs)
}

/** The traced run's instruments, all outside the library: a SparkListener
  * (jobs, stages and their task metrics), a QueryExecutionListener
  * (Catalyst phases from `qe.tracker`), and a log appender on Spark's
  * `CodeGenerator` (compile times and compile failures). Events are kept in
  * memory and attributed to operations by the operation's time window —
  * the load is one client, so windows never overlap. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val codegen = new ConcurrentLinkedQueue[CodegenRec]()
  private val actions = new ConcurrentLinkedQueue[ActionRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      jobs.put(e.jobId, JobRec(e.jobId, e.time.toDouble, Double.NaN, name))
      ()
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time.toDouble))
      ()
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val metrics =
        if (m == null) Map.empty[String, Double]
        else Map(
          "task_ms" -> m.executorRunTime.toDouble,
          "cpu_ms" -> m.executorCpuTime / 1e6,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "scan_mb" -> m.inputMetrics.bytesRead / MB,
          "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / MB,
          "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / MB,
          "spill_mb" -> (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      stages.add(StageRec(s.stageId, stageJob.getOrDefault(s.stageId, -1), s.name,
        s.submissionTime.getOrElse(0L).toDouble,
        s.completionTime.getOrElse(0L).toDouble, s.numTasks, metrics))
      ()
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      ph.foreach { case (p, s) =>
        phases.add(PhaseRec(p, s.startTimeMs.toDouble, s.endTimeMs.toDouble))
      }
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      actions.add(ActionRec(start.toDouble, outputRows(qe.executedPlan).getOrElse(0L).toDouble))
      ()
    }
  }

  private val codegenAppender =
    new AbstractAppender("perfbench-codegen", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val t = e.getTimeMillis.toDouble
        if (e.getLevel.isMoreSpecificThan(Level.ERROR))
          codegen.add(CodegenRec(t, failure = true, 0.0))
        else CompiledIn.findFirstMatchIn(e.getMessage.getFormattedMessage)
          .foreach(m => codegen.add(CodegenRec(t, failure = false, m.group(1).toDouble)))
      }
    }

  /** Route `CodeGenerator`'s INFO and ERROR events to the appender only. */
  def installCodegenAppender(): Unit = {
    codegenAppender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val logger = new LoggerConfig(CodegenLogger, Level.INFO, false)
    logger.addAppender(codegenAppender, Level.INFO, null)
    ctx.getConfiguration.addLogger(CodegenLogger, logger)
    ctx.updateLoggers()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBridge.waitForListeners(spark.sparkContext)

  /** The layer record of one operation, and its spans: the operation, the
    * harness's parts and micro-batches, Catalyst phases, jobs and stages,
    * each under the innermost span whose window holds its start. */
  def analyse(op: Op, nextId: () => Int): (Map[String, Double], Seq[Span]) = {
    def within(t: Double, s: Double, e: Double) = t >= s - Slack && t <= e + Slack
    val wall = op.end - op.start
    val opJobs = jobs.values.asScala.filter(j => within(j.start, op.start, op.end))
      .toSeq.sortBy(_.start)
    def jobEnd(j: JobRec) = if (j.end.isNaN) op.end else j.end
    val (sourceJobs, otherJobs) = opJobs.partition(_.name.contains(SourcesCallSite))
    val buildParts = op.parts.filter(_.layer == "build")
    val buildJobs = otherJobs.filter(j =>
      buildParts.exists(p => within(j.start, p.start, p.end)))
    val jobIds = opJobs.map(_.id).toSet
    val opStages = stages.asScala.filter(s => jobIds(s.job)).toSeq
    val opPhases = phases.asScala.filter(p => within(p.start, op.start, op.end)).toSeq ++
      op.phases.map { case (p, s, e) => PhaseRec(p, s, e) }
    val lastAction = actions.asScala.filter(x => within(x.start, op.start, op.end))
      .maxByOption(_.start)
    val opCodegen = codegen.asScala.filter(c => within(c.time, op.start, op.end)).toSeq
    val sourcesMs = sourceJobs.map(j => jobEnd(j) - j.start).sum
    val busy = union(opJobs.map(j =>
      (math.max(j.start, op.start), math.min(jobEnd(j), op.end))))
    def stageSum(k: String) = opStages.map(_.metrics.getOrElse(k, 0.0)).sum
    def phaseSum(p: String) = opPhases.filter(_.phase == p).map(x => x.end - x.start).sum
    val taskMs = stageSum("task_ms")
    val record = Map(
      "wall_ms" -> wall,
      "sources.load_ms" -> sourcesMs,
      "sources.load_jobs" -> sourceJobs.size.toDouble,
      "build.ms" -> math.max(0.0, buildParts.map(p => p.end - p.start).sum - sourcesMs),
      "build.jobs" -> buildJobs.size.toDouble,
      "catalyst.analysis_ms" -> phaseSum("analysis"),
      "catalyst.optimization_ms" -> phaseSum("optimization"),
      "catalyst.planning_ms" -> phaseSum("planning"),
      "exec.jobs" -> opJobs.size.toDouble,
      "exec.stages" -> opStages.size.toDouble,
      "exec.tasks" -> opStages.map(_.tasks).sum.toDouble,
      "exec.sched_gap_ms" -> math.max(0.0, wall - busy),
      "exec.util" -> (if (wall > 0) taskMs / (wall * cores) else 0.0),
      "exec.task_ms" -> taskMs,
      "exec.cpu_ms" -> stageSum("cpu_ms"),
      "exec.gc_ms" -> stageSum("gc_ms"),
      "exec.scan_mb" -> stageSum("scan_mb"),
      "exec.shuffle_write_mb" -> stageSum("shuffle_write_mb"),
      "exec.shuffle_read_mb" -> stageSum("shuffle_read_mb"),
      "exec.spill_mb" -> stageSum("spill_mb"),
      "exec.rows_out" -> lastAction.map(_.rows).getOrElse(0.0),
      "functions.codegen_failures" -> opCodegen.count(_.failure).toDouble,
      "functions.codegen_compile_ms" -> opCodegen.map(_.ms).sum)

    val spans = ArrayBuffer.empty[Span]
    val rootId = nextId()
    spans += Span(rootId, -1, op.group, op.name, op.kind, op.start, op.end,
      Map("failed" -> (if (op.error.isDefined) 1.0 else 0.0)))
    // Containers: the harness's parts and micro-batches (largest first, so
    // a part always exists before anything nested in it is placed).
    val containers = ArrayBuffer((rootId, op.start, op.end))
    val nested = op.parts.map(p => (p.name, p.layer, p.start, p.end, Map.empty[String, Double])) ++
      op.batches.map(b => (s"${b.layer} batch", s"stream.${b.layer}.batch", b.start,
        b.start + b.triggerMs, Map("input_rows" -> b.inputRows.toDouble)))
    def parentOf(t: Double): Int =
      containers.filter(c => within(t, c._2, c._3)).minBy(c => c._3 - c._2)._1
    nested.sortBy(n => -(n._4 - n._3)).foreach { case (name, layer, s, e, attrs) =>
      val id = nextId()
      spans += Span(id, parentOf(s), op.group, name, layer, s, e, attrs)
      containers += ((id, s, e))
    }
    opPhases.foreach(p => spans += Span(nextId(), parentOf(p.start), op.group,
      p.phase, "catalyst", p.start, p.end, Map.empty))
    opCodegen.filter(_.failure).foreach(c => spans += Span(nextId(), parentOf(c.time),
      op.group, "codegen failure", "functions", c.time, c.time, Map.empty))
    val jobSpan = opJobs.map { j =>
      val layer =
        if (sourceJobs.contains(j)) "sources" else if (buildJobs.contains(j)) "build" else "exec"
      val id = nextId()
      spans += Span(id, parentOf(j.start), op.group, s"job ${j.id}: ${j.name}",
        s"$layer.job", j.start, jobEnd(j), Map.empty)
      j.id -> id
    }.toMap
    opStages.foreach(s => spans += Span(nextId(), jobSpan(s.job), op.group,
      s"stage ${s.id}: ${s.name}", "exec.stage", s.start, s.end,
      s.metrics + ("tasks" -> s.tasks.toDouble)))
    (record, spans.toSeq)
  }

  /** Drop recorded events; called between passes to bound memory. */
  def clear(): Unit = {
    jobs.clear(); stageJob.clear(); stages.clear(); phases.clear(); codegen.clear()
    actions.clear()
  }
}

object Tracer {
  private final case class JobRec(id: Int, start: Double, end: Double, name: String)
  private final case class StageRec(id: Int, job: Int, name: String,
      start: Double, end: Double, tasks: Int, metrics: Map[String, Double])
  private final case class PhaseRec(phase: String, start: Double, end: Double)
  private final case class CodegenRec(time: Double, failure: Boolean, ms: Double)
  private final case class ActionRec(start: Double, rows: Double)

  /** Rows out of the topmost operator of a physical plan that counts its
    * output rows. */
  def outputRows(plan: SparkPlan): Option[Long] = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec => outputRows(q.plan)
    case p => p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.iterator.map(outputRows).collectFirst { case Some(n) => n })
  }

  val MB: Double = 1024.0 * 1024.0
  /** Clock granularity of listener timestamps. */
  val Slack: Double = 1.0
  /** Short call site of the schema-inference job `Tables.load` runs. */
  val SourcesCallSite = " at Tables.scala:"
  val CodegenLogger = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val CompiledIn = """Code generated in ([0-9.]+) ms""".r

  /** Length of the union of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }
}
