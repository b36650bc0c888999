package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Per-stage attribution for one or more named queries — the measurement
  * step of the optimization loop (guide §1: decide whether time goes to
  * shuffle read, compute, scheduling, or spill BEFORE changing anything).
  *
  * Runs each query `reps` times (first run untimed warm-up: JIT, codegen,
  * file-listing all land there) with the noop sink, and prints, for the
  * LAST run, one line per stage: wall span, summed task time, input bytes/
  * rows, shuffle read/write bytes, spill, task count, and the first line
  * of the stage's name (operator anchor).
  *
  * Usage: sbt "runMain graft.tools.StageProfile <sfDir> <reps> <query...>"
  */
object StageProfile {
  final case class StageRow(
      id: Int, name: String, tasks: Int, wallMs: Long, taskMs: Long,
      inBytes: Long, inRows: Long, srBytes: Long, swBytes: Long,
      spillMem: Long, spillDisk: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StageProfile <sfDir> <reps> <query...>")
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession("graft-stage-profile")
    spark.sparkContext.setLogLevel("ERROR")

    val stages = mutable.LinkedHashMap.empty[Int, StageRow]
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        if (!collecting) return
        val si = e.stageInfo
        val m = si.taskMetrics
        if (m == null) return
        val wall = (for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s).getOrElse(0L)
        stages(si.stageId) = StageRow(
          si.stageId, si.name.linesIterator.next(), si.numTasks, wall,
          m.executorRunTime, m.inputMetrics.bytesRead,
          m.inputMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled,
          m.diskBytesSpilled, m.jvmGCTime)
      }
    })

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    def clean(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      scala.util.Try(
        org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    }

    names.foreach { q =>
      // warm-up + (reps-1) timed discards, then the profiled run
      (1 until reps).foreach { _ => run(q); clean() }
      stages.clear(); collecting = true
      System.gc()
      val t0 = System.nanoTime()
      run(q)
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      clean()
      println(f"=== $q total=$wall%.3f s  stages=${stages.size}")
      println("  stage tasks  wall_ms  task_ms    in_MB    in_rows    sr_MB    sw_MB  spill_MB  gc_ms  name")
      stages.values.toSeq.sortBy(-_.wallMs).foreach { r =>
        println(f"  ${r.id}%5d ${r.tasks}%5d ${r.wallMs}%8d ${r.taskMs}%8d " +
          f"${r.inBytes / 1e6}%8.1f ${r.inRows}%10d ${r.srBytes / 1e6}%8.2f " +
          f"${r.swBytes / 1e6}%8.2f ${(r.spillMem + r.spillDisk) / 1e6}%9.1f " +
          f"${r.gcMs}%6d  ${r.name.take(70)}")
      }
      val sumWall = stages.values.map(_.wallMs).sum
      println(f"  [stage wall sum ${sumWall / 1e3}%.3f s vs total $wall%.3f s — " +
        "gap = driver/planning/codegen/scheduling]")
    }
    spark.stop()
  }
}
