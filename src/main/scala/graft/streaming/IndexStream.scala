package graft.streaming

import graft.llm.{VectorIndex, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Streaming maintenance of the persisted IVF-PQ vector index
  * ([[graft.llm.VectorIndex]]) — the [[CurateStream]] discipline applied
  * to embeddings: vectors land continuously, each micro-batch encodes
  * ONLY the increment against the frozen index parameters, and the index
  * stays queryable throughout.
  *
  * Per micro-batch (checkpointed foreachBatch):
  *   - batch 0 bootstraps: centroids (capped [[graft.llm.Quantizer]]
  *     sizing) + PQ codebook are
  *     derived from the first batch and FROZEN — the build corpus defines
  *     the geometry, exactly like training any ANN index; periodic
  *     re-builds re-balance (a re-build is just a new index dir);
  *   - every batch (including a replayed batch 0 — build is a
  *     deterministic function of its input) writes its codes under
  *     `codes/batch=<id>` in overwrite mode, so a post-crash replay
  *     overwrites its own output: exactly-once state without a
  *     transaction log;
  *   - per-batch work is ONE broadcast map pass over the increment
  *     (assign cell + encode 8 nibbles); the accumulated index is never
  *     re-read, re-shuffled, or re-encoded.
  *
  * `IndexStreamSpec` pins the invariant: after any sequence of waves,
  * restarts, and replays, the accumulated codes table EQUALS
  * [[VectorIndex.assignCodes]] of everything ingested against the frozen
  * tables — so queries over the streamed index are indistinguishable from
  * queries over a batch-built one.
  */
object IndexStream {

  /** Raw landing schema for the embedding stream. */
  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Apply one micro-batch: bootstrap on first contact, append otherwise.
    * With `semanticTau` set, the raw vectors persist per cell (IVF-flat
    * lists) and each batch additionally records its incremental SemDeDup
    * pairs — exact-cosine ≥ tau against the PRIOR batches' cell-mates and
    * within itself ([[VectorIndex.semanticPairs]]) — under
    * `pairs/batch=<id>` (overwrite → replay-idempotent). Accumulated pairs
    * ≡ one batch pair scan, so [[survivors]] is arrival-order-independent.
    * Public so a daily batch orchestrator can drive the identical logic. */
  def applyBatch(batch: DataFrame, batchId: Long, indexDir: String,
      semanticTau: Option[Double] = None): Unit = {
    val spark = batch.sparkSession
    val vecs = batch.select(col("vec_id"),
      VectorOps.asDouble("embedding").as("ve"))
    if (vecs.isEmpty) return
    val store = semanticTau.isDefined
    if (!exists(spark, s"$indexDir/centroids")) {
      // First contact: freeze geometry from this batch, encode it as its
      // own batch dir (not batch 0 unconditionally — a replay must
      // overwrite the SAME dir it wrote before the crash).
      VectorIndex.build(spark, vecs, indexDir, storeVectors = store)
      if (batchId != 0L) {
        // build() wrote state under batch=0; move it to this batch's id so
        // the replay contract stays per-batch. (Only reachable when the
        // index dir was created mid-stream, e.g. first non-empty batch.)
        val fs = new org.apache.hadoop.fs.Path(indexDir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        Seq("codes", "lists").foreach { t =>
          val src = new org.apache.hadoop.fs.Path(s"$indexDir/$t/batch=0")
          if (fs.exists(src))
            fs.rename(src,
              new org.apache.hadoop.fs.Path(s"$indexDir/$t/batch=$batchId"))
        }
      }
    } else {
      VectorIndex.append(spark, vecs, indexDir, batchId, storeVectors = store)
    }
    semanticTau.foreach { tau =>
      // This batch's own assignment (just written) vs strictly-prior
      // batches — the `belowBatch` cut keeps a post-crash replay's pair
      // set identical to the original attempt's.
      val mine = spark.read.parquet(s"$indexDir/lists/batch=$batchId")
      val prior = VectorIndex.lists(spark, indexDir, belowBatch = Some(batchId))
      VectorIndex.semanticPairs(mine, prior, tau)
        .coalesce(1) // pair sets are tiny; also guarantees a schema-bearing
                     // file lands even for a zero-pair batch
        .write.mode("overwrite").parquet(s"$indexDir/pairs/batch=$batchId")
    }
  }

  /** SemDeDup survivors over everything ingested: drop the GREATER id of
    * every accumulated ≥-tau same-cell pair (the batch `llm_dedup_semantic`
    * rule), one anti-join. */
  def survivors(spark: SparkSession, indexDir: String): DataFrame = {
    val ids = VectorIndex.codes(spark, indexDir).select("vec_id")
    if (!exists(spark, s"$indexDir/pairs")) ids
    else ids.join(
      spark.read.parquet(s"$indexDir/pairs")
        .select(col("vec_b").as("vec_id")).distinct(),
      Seq("vec_id"), "left_anti")
  }

  /** Drain everything currently in `landingDir` into the index (one
    * wave); restarts resume from the checkpoint. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      indexDir: String, checkpointDir: String,
      maxFilesPerTrigger: Int = 10,
      semanticTau: Option[Double] = None): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
      Drain.files(s, vecSchema, landingDir, maxFilesPerTrigger), checkpointDir)(
      applyBatch(_, _, indexDir, semanticTau))))
}
