package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

/** Spill-under-memory-pressure probe: the "degrades to disk, not to OOM"
  * claim, exercised instead of asserted.
  *
  * At 100 TB a shuffle partition WILL exceed execution memory somewhere —
  * the design answer is Spark's external sort/aggregate/join paths, which
  * spill to disk and keep going. This main runs named queries inside a
  * memory-starved multi-process master (`spark-submit --master
  * local-cluster[2,C,M]` with `spark.executor.memory` far below the
  * working set) and proves, per query:
  *
  *   1. the run COMPLETES under pressure — no OOM, no lost executor;
  *   2. pressure was REAL: the stage metrics report nonzero
  *      memoryBytesSpilled/diskBytesSpilled (otherwise the probe reports
  *      NO_SPILL so a vacuous pass cannot masquerade as evidence);
  *   3. the result is BIT-IDENTICAL to the roomy-memory run of the same
  *      query ([[FaultInject.digest]], order-independent) — the spill path
  *      changes operator internals, never semantics.
  *
  * The harness runs this twice (tight and roomy executor memory) and
  * diffs the hashes; each invocation emits one JSON line per query plus a
  * summary map to SPARK_GRAFT_SPILL_OUT.
  *
  * Usage:
  *   spark-submit --master local-cluster[2,4,1500] \
  *     --conf spark.executor.memory=1200m \
  *     --class graft.tools.SpillProbe <jar> <sfDir> <query> [query ...]
  *
  * Like the query scenarios of [[FaultInject]] (`ts_drawdown`,
  * `llm_dedup_minhash`), intentionally NOT a ScalaTest: local-cluster needs
  * a packaged jar on the executor classpath.
  */
object SpillProbe {
  private val memSpilled = new AtomicLong(0L)
  private val diskSpilled = new AtomicLong(0L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = args.drop(1).toSeq
    val out = sys.env.getOrElse("SPARK_GRAFT_SPILL_OUT", "/tmp/spill_probe.json")
    val spark = GraftSession.builder("graft-spill-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          memSpilled.addAndGet(m.memoryBytesSpilled)
          diskSpilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })
    val results = queries.map { name =>
      // Per-query metrics are deltas against a pre-query baseline (never a
      // reset: listener events from the PREVIOUS query that straggle in
      // past its drain window land before this baseline is taken, instead
      // of being credited to this query).
      val (mem0, disk0) = (memSpilled.get, diskSpilled.get)
      val t0 = System.nanoTime()
      val attempt =
        try Right(FaultInject.digest(SparkEntry.queries(name)(spark, sfDir)))
        catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val sec = (System.nanoTime() - t0) / 1e9
      // Listener events trail task completion; wait until the counters are
      // stable for two consecutive polls (up to 20 s) rather than trusting
      // one fixed sleep under a deliberately-starved cluster.
      var (pm, pd) = (-1L, -1L)
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 20000) {
        Thread.sleep(500); waited += 500
        val (m, dd) = (memSpilled.get, diskSpilled.get)
        if (m == pm && dd == pd) stable += 1 else { stable = 0; pm = m; pd = dd }
      }
      val (mem, disk) = (memSpilled.get - mem0, diskSpilled.get - disk0)
      val line = attempt match {
        case Right(FaultInject.Digest(hash, rows)) =>
          f"""{"query":"$name","ok":true,"rows":$rows,"hash":"$hash","sec":$sec%.2f,""" +
            s""""memory_spilled_bytes":$mem,"disk_spilled_bytes":$disk,""" +
            s""""spilled":${disk > 0 || mem > 0}}"""
        case Left(err) =>
          s"""{"query":"$name","ok":false,"error":${jsonStr(err)}}"""
      }
      println(s"[spill] $line")
      line
    }
    Files.writeString(Paths.get(out), results.mkString("[", ",\n", "]"))
    spark.stop()
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
