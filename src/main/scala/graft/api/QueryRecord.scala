package graft.api

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Where one query's time went, as one flat record (`graft.Graft.record`).
  *
  * Fields, named as perfbench names its per-layer metrics:
  *   - `wall_ms`; `build.ms` and `build.jobs`, the DataFrame construction
  *     and the Spark jobs it ran eagerly;
  *   - `catalyst.{analysis,optimization,planning}_ms`, summed over every
  *     SQL execution of the query; analysis adds the built frame's own,
  *     which runs eagerly while the frame is built and reaches no
  *     listener (unless the action executes that very frame);
  *   - `exec.{jobs,stages,tasks}` and `exec.{task,cpu,gc}_ms`, over every
  *     job of the query, build jobs included;
  *   - `exec.{scan,shuffle_read,shuffle_write,spill}_mb` (MiB);
  *   - `exec.rows_out`, the rows the final execution produced;
  *   - `exec.util`, task time over wall time times the context's cores.
  *
  * The query runs under a job group of its own; the group is the key.
  * Jobs carry it as a property, and SQL executions name it at their start,
  * so the phases that arrive with an execution's end find their record by
  * execution id. The last root execution of the group is the final action:
  * its jobs are not build jobs, and its plan gives the rows out. Jobs of a
  * stream that a builder drains run under the stream's own group and are
  * not in the record; their time is in `build.ms`.
  *
  * One listener per SparkContext, added on the first measurement. It keeps
  * events only for groups in flight, and a measurement waits for the
  * listener bus to drain before it reads them, so a stage that completes
  * just before the action returns is still counted, and never by the next
  * query.
  *
  * `graft.tools.FaultInject` keeps its own listener: its landed rule needs
  * task failures and executor removals across the whole application, not
  * per query.
  */
final case class QueryRecord(
    name: String,
    fields: ListMap[String, Double],
    stageIds: Seq[Int],
    error: Option[String]) {
  def apply(field: String): Double = fields(field)

  def toJson: String = {
    def str(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val fs = fields.map { case (k, v) =>
      str(k) + ":" + (if (v == math.rint(v)) v.toLong.toString else f"$v%.3f")
    }
    val err = error.map(e => str("error") + ":" + str(e))
    ((str("name") + ":" + str(name)) +: (fs.toSeq ++ err)).mkString("{", ",", "}")
  }
}

object QueryRecord {
  private val MB = 1024.0 * 1024.0
  private val nextGroup = new AtomicLong()
  private val listeners = new ConcurrentHashMap[SparkContext, Listener]()

  /** The contexts a measurement has added the listener to. */
  def installed: Set[SparkContext] = listeners.keySet.asScala.toSet

  /** Build a frame and run `act` on it as one measured query. Never
    * throws for the query's own failure: the record then carries the
    * error, and the result is None. */
  def measure[A](spark: SparkSession, name: String)(build: => DataFrame)(
      act: DataFrame => A): (QueryRecord, Option[A]) = {
    val sc = spark.sparkContext
    val listener = listeners.computeIfAbsent(sc, { c =>
      val l = new Listener
      c.addSparkListener(l)
      l
    })
    val group = s"graft-record-${nextGroup.incrementAndGet()}"
    val acc = listener.open(group)
    val outer = (sc.getLocalProperty("spark.jobGroup.id"),
      sc.getLocalProperty("spark.job.description"))
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    var built = t0
    var frame: Option[QueryExecution] = None
    val outcome =
      try {
        val df = build
        built = System.nanoTime()
        frame = Some(df.queryExecution)
        Right(act(df))
      } catch {
        case e: Throwable if NonFatal(e) || e.isInstanceOf[StackOverflowError] => Left(e)
      } finally {
        if (outer._1 == null) sc.clearJobGroup() else sc.setJobGroup(outer._1, outer._2)
      }
    val end = System.nanoTime()
    GraftSqlBridge.waitForListeners(sc)
    listener.close(group)

    val finalRoot = if (built == t0) Long.MinValue else acc.lastRoot
    val stages = acc.stages.asScala.toSeq
    def sum(f: StageRec => Double) = stages.map(f).sum
    val wall = (end - t0) / 1e6
    val taskMs = sum(_.taskMs)
    val builtAnalysisMs = frame.filterNot(acc.executed.contains)
      .flatMap(_.tracker.phases.get("analysis"))
      .fold(0.0)(p => (p.endTimeMs - p.startTimeMs).toDouble)
    val fields = ListMap(
      "wall_ms" -> wall,
      "build.ms" -> (built - t0) / 1e6,
      "build.jobs" -> acc.jobRoots.asScala.count(_ != finalRoot).toDouble,
      "catalyst.analysis_ms" -> (acc.phaseMs("analysis") + builtAnalysisMs),
      "catalyst.optimization_ms" -> acc.phaseMs("optimization"),
      "catalyst.planning_ms" -> acc.phaseMs("planning"),
      "exec.jobs" -> acc.jobRoots.size.toDouble,
      "exec.stages" -> stages.size.toDouble,
      "exec.tasks" -> sum(_.tasks),
      "exec.task_ms" -> taskMs,
      "exec.cpu_ms" -> sum(_.cpuMs),
      "exec.gc_ms" -> sum(_.gcMs),
      "exec.scan_mb" -> sum(_.scanMb),
      "exec.shuffle_read_mb" -> sum(_.shuffleReadMb),
      "exec.shuffle_write_mb" -> sum(_.shuffleWriteMb),
      "exec.spill_mb" -> sum(_.spillMb),
      "exec.rows_out" -> acc.rowsOut.getOrDefault(finalRoot, 0L).toDouble,
      "exec.util" -> (if (wall > 0) taskMs / (wall * sc.defaultParallelism) else 0.0))
    val error = outcome.left.toOption.map(e => Option(e.getMessage).getOrElse(e.getClass.getName))
    (QueryRecord(name, fields, stages.map(_.id), error), outcome.toOption)
  }

  private final case class StageRec(id: Int, tasks: Double, taskMs: Double, cpuMs: Double,
      gcMs: Double, scanMb: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
      spillMb: Double)

  /** What one in-flight group has seen. Written by the listener bus thread;
    * read by the measuring thread after the bus has drained. */
  private final class Acc {
    val jobRoots = new ConcurrentLinkedQueue[Long]()
    val stageIds = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[StageRec]()
    val executions = new ConcurrentLinkedQueue[Long]()
    val phases = new ConcurrentHashMap[String, java.lang.Double]()
    val rowsOut = new ConcurrentHashMap[Long, Long]()
    val executed = ConcurrentHashMap.newKeySet[QueryExecution]()
    @volatile var lastRoot = -1L
    def phaseMs(p: String): Double = phases.getOrDefault(p, 0.0)
  }

  private final class Listener extends SparkListener {
    private val groups = new ConcurrentHashMap[String, Acc]()
    private val byStage = new ConcurrentHashMap[Int, Acc]()
    private val byExecution = new ConcurrentHashMap[Long, Acc]()

    def open(group: String): Acc = { val a = new Acc; groups.put(group, a); a }

    def close(group: String): Unit = {
      val a = groups.remove(group)
      a.stageIds.forEach(s => byStage.remove(s, a))
      a.executions.forEach(e => byExecution.remove(e, a))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => Option(groups.get(g))).foreach { a =>
          val p = e.properties
          val root = Option(p.getProperty("spark.sql.execution.root.id"))
            .orElse(Option(p.getProperty("spark.sql.execution.id")))
          a.jobRoots.add(root.fold(-1L)(_.toLong))
          e.stageIds.foreach { s => a.stageIds.add(s); byStage.put(s, a) }
        }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      Option(byStage.get(s.stageId)).filter(_ => m != null).foreach(_.stages.add(StageRec(
        s.stageId, s.numTasks, m.executorRunTime, m.executorCpuTime / 1e6, m.jvmGCTime,
        m.inputMetrics.bytesRead / MB, m.shuffleReadMetrics.totalBytesRead / MB,
        m.shuffleWriteMetrics.bytesWritten / MB,
        (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)))
    }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart =>
        e.jobGroupId.flatMap(g => Option(groups.get(g))).foreach { a =>
          a.executions.add(e.executionId)
          byExecution.put(e.executionId, a)
          if (e.rootExecutionId.forall(_ == e.executionId))
            a.lastRoot = math.max(a.lastRoot, e.executionId)
        }
      // The execution's QueryExecution, the one Spark hands a session's
      // QueryExecutionListener too; that callback does not say which
      // execution it is (`qe.id` is not the execution id).
      case e: SparkListenerSQLExecutionEnd =>
        Option(byExecution.get(e.executionId)).zip(GraftSqlBridge.queryExecution(e)).foreach {
          case (a, qe) =>
            a.executed.add(qe)
            qe.tracker.phases.foreach { case (p, s) =>
              a.phases.merge(p, (s.endTimeMs - s.startTimeMs).toDouble, (x, y) => x + y)
            }
            scala.util.Try(outputRows(qe.executedPlan)).toOption.flatten
              .foreach(n => a.rowsOut.put(e.executionId, n))
        }
      case _ =>
    }
  }

  /** Rows out of the topmost operator of a physical plan that counts its
    * output rows. */
  private def outputRows(plan: SparkPlan): Option[Long] = plan match {
    case a: AdaptiveSparkPlanExec => outputRows(a.executedPlan)
    case q: QueryStageExec => outputRows(q.plan)
    case p => p.metrics.get("numOutputRows").map(_.value)
      .orElse(p.children.iterator.map(outputRows).collectFirst { case Some(n) => n })
  }
}
