package graft.streaming

import graft.operators.CdfSketch

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Incremental CDF-sketch maintenance — the [[DistinctStream]] treatment
  * for [[graft.operators.CdfSketch]]: each micro-batch contributes its
  * per-(group, bucket) count DELTA; the accumulated sketch is one SUM
  * over the tiny persisted state, never a re-scan of ingested rows.
  *
  * Counts are additive (the sketch's merge IS element-wise sum), so the
  * per-batch delta needs no read-modify-write of prior state — each batch
  * writes its own `batch=<id>` subdir (a replayed batch overwrites its
  * own output: exactly-once without a transaction log, the
  * [[CurateStream]] discipline), and [[sketchTable]] SUM-folds the deltas.
  * State volume is O(batches × groups × 513) rows of three columns,
  * compacted the same way any maintained table is; the full drain's
  * accumulated sketch equals the BATCH sketch of everything ingested
  * exactly (CdfSketchSpec pins it across waves and a restart; the
  * `rel_cdf_stream` oracle re-derives the quantile estimates from it
  * bit-for-bit against DuckDB).
  *
  * The domain (lo, w) must be fixed across batches — analytic bounds, or
  * the one-time global min/max of a reference corpus (the same contract
  * as the aggregator itself). */
object CdfStream {

  /** Landing schema: (g, v) observation rows. */
  val obsSchema: StructType = StructType(Seq(
    StructField("g", StringType),
    StructField("v", DoubleType)))

  /** One micro-batch's sketch delta: per-(g, bucket) counts. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      lo: Double, w: Double): Unit = {
    batch
      .withColumn("bkt", floor((col("v") - lit(lo)) / lit(w)).cast("long"))
      .groupBy(col("g"), col("bkt"))
      .agg(count(lit(1)).as("cnt"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/batch=$batchId")
  }

  /** Drain everything currently in `landingDir`; restarts resume from the
    * checkpoint, and a replayed batch overwrites its own delta. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      stateDir: String, checkpointDir: String, lo: Double, w: Double,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
      Drain.files(s, obsSchema, landingDir, maxFilesPerTrigger), checkpointDir)(
      applyBatch(_, _, stateDir, lo, w))))

  /** The accumulated sketch: per-(g, bucket) total counts. */
  def sketchTable(spark: SparkSession, stateDir: String): DataFrame =
    spark.read.parquet(stateDir)
      .groupBy(col("g"), col("bkt"))
      .agg(sum(col("cnt")).as("cnt"))

  /** Quantile estimates from the accumulated sketch — the identical
    * cum-window arithmetic of the `rel_cdf_sketch` spelling, ridden over
    * the ≤513-rows-per-group bucket table. */
  def estimates(spark: SparkSession, stateDir: String, lo: Double,
      w: Double, qs: Seq[(String, Double)]): DataFrame = {
    val hist = sketchTable(spark, stateDir)
    val ord = Window.partitionBy(col("g")).orderBy(col("bkt"))
    val cum = hist
      .withColumn("cum", sum(col("cnt")).over(ord))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("g"))))
    def estOf(q: Double) = {
      val k = ceil(lit(q) * col("n"))
      max(when(col("cum") >= k && (col("cum") - col("cnt")) < k,
        lit(lo) + lit(w) * (col("bkt").cast("double") +
          (k - (col("cum") - col("cnt"))).cast("double") /
            col("cnt").cast("double"))))
    }
    val aggs = max(col("n")).as("n") +:
      qs.map { case (name, q) => estOf(q).as(name) }
    cum.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
  }

  /** The sketch as the aggregator's 513-slot array form — for direct
    * equality checks against [[CdfSketch.agg]] output. */
  def sketchArrays(spark: SparkSession, stateDir: String): DataFrame =
    sketchTable(spark, stateDir)
      .groupBy(col("g"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("bkt"), col("cnt")))),
        array_repeat(lit(0L), CdfSketch.slots),
        (acc, e) => {
          val idx = e.getField("bkt").cast("int")
          zip_with(acc, sequence(lit(0), lit(CdfSketch.buckets)),
            (a, i) => when(i === idx, a + e.getField("cnt")).otherwise(a))
        }).as("sketch"))
}
