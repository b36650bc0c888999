package graft.tools

import graft.functions.Hll
import graft.streaming.DistinctStream

import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import scala.sys.process._

/** Executor-loss injection on the STREAMING HLL maintainer: the events
  * corpus drains through DistinctStream in waves under local-cluster while
  * `kill -9` lands on executor JVMs mid-drain, and the sink's register
  * table must STILL equal the batch sketch exactly, with every rise
  * emitted exactly once — the flatMapGroupsWithState monotone-rise
  * exactly-once claim under real executor death (state-store recovery +
  * sink commit log doing the work DistinctStreamSpec exercises only via
  * restarts).
  *
  * Usage:
  *   spark-submit --master local-cluster[2,8,8192] \
  *     --conf spark.executor.memory=6g \
  *     --class graft.tools.FaultInjectHll <jar> <sfDir> [workDir]
  */
object FaultInjectHll {
  private def executorPids(): Set[Int] =
    ExecutorKill.executorPidsForThisApp()

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val base = if (args.length > 1) args(1) else "/tmp/graft_fault_hll"
    val spark = graft.GraftSession("graft-fault-hll")
    spark.sparkContext.setLogLevel("WARN")
    val landing = s"$base/landing"
    val out = s"$base/out"
    val cp = s"$base/cp"

    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select(col("event_type"), col("user_id"), col("event_id")).cache()

    @volatile var kills = 0
    @volatile var taskFailures = 0
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.reason != org.apache.spark.Success) taskFailures += 1
      })
    val killer = new Thread(() => {
      var fired = 0
      val deadline = System.nanoTime() + 180L * 1000000000L
      while (fired < 2 && System.nanoTime() < deadline) {
        if (spark.streams.active.nonEmpty) {
          executorPids().headOption.foreach { pid =>
            Seq("kill", "-9", pid.toString).!
            fired += 1; kills += 1
          }
          Thread.sleep(6000)
        } else Thread.sleep(50)
      }
    })
    killer.setDaemon(true)
    killer.start()

    (0 to 2).foreach { wave =>
      ev.filter(pmod(col("event_id"), lit(3)) === wave)
        .select("event_type", "user_id")
        .coalesce(4).write.mode("append").parquet(landing)
      DistinctStream.runAvailableNow(spark, landing, out, cp,
        maxFilesPerTrigger = 1)
    }
    killer.join(1000)

    // Batch sketch over the same corpus.
    val batch = ev
      .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
      .select(col("event_type"), expr(Hll.regExpr).as("reg"),
        expr(Hll.rhoExpr).cast("int").as("rho"))
      .groupBy("event_type", "reg").agg(max("rho").as("mrho")).cache()
    val streamed = DistinctStream.registerTable(spark, out).cache()
    val nStream = streamed.count()
    val nBatch = batch.count()
    val mismatch = streamed.join(batch, Seq("event_type", "reg"), "full_outer")
      .filter(streamed("mrho").isNull || batch("mrho").isNull ||
        streamed("mrho") =!= batch("mrho")).count()
    // Exactly-once rises: raw sink has no duplicate (key, value) rows.
    val raw = spark.read.parquet(out)
    val dup = raw.count() - raw.distinct().count()
    val ok = mismatch == 0 && nStream == nBatch && dup == 0
    val row =
      s"""{"registers":$nStream,"batch_registers":$nBatch,"mismatch":$mismatch,"duplicate_rises":$dup,"match":$ok,"kills":$kills,"task_failures":$taskFailures}"""
    println(row)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_FAULT_OUT", "FAULTS_HLL.json")
    Files.writeString(Paths.get(outFile), row + "\n")
    spark.stop()
    if (!ok || kills == 0) sys.exit(1)
  }
}
