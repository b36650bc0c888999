package graft.tools

import graft.{Graft, GraftSession}
import graft.api.QueryRecord

import java.nio.file.{Files, Paths}

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
  *   2. pressure was REAL: the query's [[QueryRecord]] reports nonzero
  *      `exec.spill_mb` (otherwise `spilled` is false, so a vacuous pass
  *      cannot masquerade as evidence);
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
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = args.drop(1).toSeq
    val out = sys.env.getOrElse("SPARK_GRAFT_SPILL_OUT", "/tmp/spill_probe.json")
    val spark = GraftSession.builder("graft-spill-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val results = queries.map { name =>
      val (rec, digest) = QueryRecord.measure(spark, name)(Graft.query(spark, sfDir, name))(
        FaultInject.digest)
      val spillMb = rec("exec.spill_mb")
      val line = digest match {
        case Some(FaultInject.Digest(hash, rows)) =>
          f"""{"query":"$name","ok":true,"rows":$rows,"hash":"$hash","sec":${rec("wall_ms") / 1e3}%.2f,""" +
            f""""spill_mb":$spillMb%.1f,"spilled":${spillMb > 0}}"""
        case None =>
          s"""{"query":"$name","ok":false,"error":${jsonStr(rec.error.getOrElse(""))}}"""
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
