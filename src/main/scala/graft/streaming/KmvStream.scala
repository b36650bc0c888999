package graft.streaming

import graft.operators.KmvSketch

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Incremental KMV-sketch maintenance — the [[CdfStream]] treatment for
  * [[graft.operators.KmvSketch]]: each micro-batch contributes its own
  * per-group bottom-k delta (≤ k hashes per group per batch), and the
  * accumulated sketch is ONE re-aggregation over the tiny persisted
  * state — never a re-scan of ingested rows. Because a KMV sketch is a
  * pure function of the hash SET and merge keeps the k smallest, the
  * union of batch deltas re-sketched equals the batch sketch of
  * everything ingested bit-for-bit (spec-pinned across waves and a
  * checkpoint resume; `rel_kmv_stream` hash-checks the estimates against
  * the SAME DuckDB oracle as the batch spelling).
  *
  * Replayed batches overwrite their own `batch=<id>` subdir — exactly-once
  * without a transaction log, the [[CurateStream]] discipline. State
  * volume is O(batches × groups × k) longs, compactable like any
  * maintained table (re-sketch into one batch). At 100 TB this is the
  * running distinct/overlap monitor: each ingest slice pays one pass over
  * ITS rows, and the corpus-level estimate folds kilobytes. */
object KmvStream {

  /** Landing schema: (g, h) — group key and the portable 63-bit hash
    * ([[KmvSketch.hashExpr]]). */
  val obsSchema: StructType = StructType(Seq(
    StructField("g", StringType),
    StructField("h", LongType)))

  /** One micro-batch's delta: the batch's own per-group bottom-k. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String): Unit = {
    val sk = udaf(KmvSketch.agg)
    batch.groupBy(col("g")).agg(sk(col("h")).as("s"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/batch=$batchId")
  }

  /** Drain everything currently in `landingDir`; restarts resume from the
    * checkpoint, and a replayed batch overwrites its own delta. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      stateDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
      Drain.files(s, obsSchema, landingDir, maxFilesPerTrigger), checkpointDir)(
      applyBatch(_, _, stateDir))))

  /** The accumulated per-group sketch: explode the batch deltas and
    * re-aggregate — the aggregation IS the merge, so this equals the
    * batch sketch of every ingested row exactly. */
  def sketches(spark: SparkSession, stateDir: String): DataFrame = {
    val sk = udaf(KmvSketch.agg)
    spark.read.parquet(stateDir)
      .select(col("g"), explode(col("s")).as("h"))
      .groupBy(col("g")).agg(sk(col("h")).as("s"))
  }
}
