package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Budget-capped streaming admission — the incremental form of
  * `llm_source_cap`: admit documents per source until that source's token
  * quota is spent, across micro-batches, exactly once.
  *
  * The operational problem: a training-mix spec says "at most N tokens of
  * source X", but the corpus arrives incrementally — admission must
  * remember how much of each source's budget earlier batches spent,
  * survive crashes without double-counting, and stay deterministic under
  * replay.
  *
  * Mechanics (checkpointed foreachBatch, the CurateStream state
  * discipline):
  *   1. prior spend per source = sum over `sums/batch=<id'>` dirs with
  *      id' < the current batch — derived ONLY from earlier batches, so a
  *      REPLAYED batch recomputes the identical admission decision and
  *      overwrites its own output instead of double-appending;
  *   2. within the batch, documents order deterministically per source by
  *      (id-keyed md5 hash, doc_id) — arrival order inside a micro-batch
  *      is not reproducible, the hash order is (stable across
  *      partitionings and reruns; re-keying doc_ids re-orders) — and a
  *      per-source running cumsum admits the prefix that fits
  *      `cap − prior`;
  *   3. admitted rows land under `admitted/batch=<id>`, the batch's
  *      per-source token spend under `sums/batch=<id>`.
  *
  * Scale posture: per-batch work is one window over the BATCH (not the
  * corpus) plus a broadcast of |sources| running totals; the persisted
  * state is |sources| rows per batch. Nothing rereads admitted text.
  */
object QuotaStream {

  /** Landing schema: one row per document. */
  val docSchema: StructType = StructType.fromDDL("doc_id LONG, text STRING, source STRING")

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  /** Prior per-source spend from batches strictly before `batchId`. */
  def priorSpend(spark: SparkSession, stateDir: String, batchId: Long): DataFrame = {
    import spark.implicits._
    val dir = s"$stateDir/sums"
    if (!exists(spark, dir))
      return Seq.empty[(String, Long)].toDF("source", "spent")
    spark.read.option("basePath", dir).parquet(dir)
      .filter(col("batch") < batchId)
      .groupBy(col("source")).agg(sum(col("tokens")).as("spent"))
  }

  /** Apply one micro-batch: deterministic prefix admission under the
    * remaining per-source budget, idempotent under replay. Public so a
    * daily batch orchestrator can drive the identical logic. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      capPerSource: Long): Unit = {
    val spark = batch.sparkSession
    val prior = priorSpend(spark, stateDir, batchId)
    val w = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val admitted = batch
      .withColumn("n_tokens",
        size(split(lower(col("text")), "\\s+")).cast("long"))
      .withColumn("h", expr("md5_long(concat('quota:', CAST(doc_id AS STRING)))"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .join(broadcast(prior), Seq("source"), "left")
      .withColumn("spent", coalesce(col("spent"), lit(0L)))
      .filter(col("spent") + col("cum") <= capPerSource)
      .select(col("doc_id"), col("source"), col("n_tokens"), col("cum"))
    // Overwrite-own-subdir = exactly-once under foreachBatch replay.
    admitted.write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/admitted/batch=$batchId")
    admitted.groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tokens"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$stateDir/sums/batch=$batchId")
  }

  /** All admitted documents so far. Both branches return the same
    * 4-column schema: the populated read drops the `batch` partition
    * column so callers never see a schema that depends on runtime state. */
  def admitted(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val dir = s"$stateDir/admitted"
    if (!exists(spark, dir))
      Seq.empty[(Long, String, Long, Long)]
        .toDF("doc_id", "source", "n_tokens", "cum")
    else spark.read.option("basePath", dir).parquet(dir)
      .select("doc_id", "source", "n_tokens", "cum")
  }

  /** Drain the parquet document files under `landingDir` through the
    * admission; restarts resume from the checkpoint. */
  def runAvailableNow(spark: SparkSession, landingDir: String, stateDir: String,
      checkpoint: String, capPerSource: Long,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
      Drain.files(s, docSchema, landingDir, maxFilesPerTrigger), checkpoint)(
      applyBatch(_, _, stateDir, capPerSource))))
}
