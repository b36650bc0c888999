package graft.api

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Reliable checkpoints for the iterative operators (label propagation,
  * graph loops, k-means rounds, PCA deflation): directory resolution, and
  * [[materialize]], a checkpoint that also reports a count.
  *
  * Reliable checkpoints only deliver their executor-loss guarantee if the
  * directory is visible to every executor. Resolution order therefore
  * prefers configured shared storage and falls back to a driver-local temp
  * dir ONLY where that is correct (local mode):
  *   1. an explicit `spark.checkpoint.dir` — the operator's own knob;
  *   2. `<spark.sql.warehouse.dir>/graft-checkpoints` — the warehouse is
  *      shared storage on any real deployment, and
  *      `spark.cleaner.referenceTracking.cleanCheckpoints` (set by
  *      [[graft.GraftSession]]) reclaims the files once their RDDs are GC'd;
  *   3. a JVM temp dir — local-mode-only fallback: a driver-local path is
  *      NOT executor-visible on a cluster, so this branch is taken only
  *      when neither location is configured.
  */
object Checkpoints {
  def ensureDir(s: SparkSession): Unit = {
    val sc = s.sparkContext
    if (sc.getCheckpointDir.isEmpty) {
      val dir = sc.getConf.getOption("spark.checkpoint.dir")
        .orElse(Option(s.conf.get("spark.sql.warehouse.dir", null))
          .filter(_.nonEmpty).map(w => s"$w/graft-checkpoints"))
        .getOrElse(java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
      sc.setCheckpointDir(dir)
    }
  }

  /** Eager reliable checkpoint of `df` plus one number about it, from the
    * SAME job: `measure` (an aggregate over `df`'s columns, default the row
    * count) rides the write as an unnamed [[Observation]], so no second
    * action re-reads the checkpoint to size a loop or test convergence,
    * and concurrent callers never share a metric name. */
  def materialize(df: DataFrame, measure: Column = count(lit(1))): (DataFrame, Long) = {
    ensureDir(df.sparkSession)
    val observed = new Observation()
    val out = df.observe(observed, measure.as("m")).checkpoint(eager = true)
    (out, observed.get("m").asInstanceOf[Long])
  }
}
