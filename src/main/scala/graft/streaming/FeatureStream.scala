package graft.streaming

import graft.llm.{MmFeatures, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Streaming maintenance of the decoded image-feature table — the
  * [[IndexStream]]/[[CurateStream]] discipline applied to the decode
  * fleet: assets land continuously, each micro-batch decodes ONLY its
  * increment through the real codec, and the accumulated
  * [[graft.llm.MmFeatures]] table stays queryable throughout (phash /
  * near-dup / gate all plan against it, never against payloads).
  *
  * Per micro-batch (checkpointed foreachBatch):
  *   - the batch names the newly-landed asset ids; payloads materialize
  *     per id ([[Multimodal.assetsFromIds]] — in a real pipeline the
  *     batch carries the bytes) and decode in one shuffle-free map pass;
  *   - features write under `batch=<epochId>` in overwrite mode, so a
  *     post-crash replay overwrites its OWN output — exactly-once
  *     without a transaction log, the CurateStream batch-id-overwrite
  *     contract;
  *   - earlier batches are never read, re-decoded, or rewritten: decode
  *     work per trigger is proportional to the increment, the property
  *     that makes a 100 TB decode fleet affordable (the corpus is
  *     decoded once EVER, not once per day).
  *
  * `FeatureStreamSpec` pins the invariant: after any sequence of waves,
  * restarts, and replays, the accumulated feature table EQUALS a fresh
  * batch decode of everything ingested — so downstream image queries are
  * indistinguishable from running against a batch-built feature table.
  */
object FeatureStream {

  /** Raw landing schema: one row per newly-landed asset id. */
  val idSchema: StructType = StructType(Seq(StructField("doc_id", LongType)))

  /** Decode one increment and persist its features (replay-idempotent —
    * overwrite of the batch's own partition dir only). */
  def applyBatch(batch: DataFrame, batchId: Long, featuresDir: String): Unit = {
    import batch.sparkSession.implicits._
    MmFeatures.appendBatch(featuresDir, batchId,
      Multimodal.assetsFromIds(batch.select(col("doc_id")).as[Long]))
  }

  /** Drain everything currently in `landing` (AvailableNow), maintaining
    * the feature table under `featuresDir` with checkpointed progress in
    * `cp` — restarts resume from the last committed batch. */
  def runAvailableNow(
      spark: SparkSession,
      landing: String,
      featuresDir: String,
      cp: String,
      maxFilesPerTrigger: Int = 1): Unit =
    Drain(spark, Seq(landing))(s => Seq(Drain.eachBatch(
      Drain.files(s, idSchema, landing, maxFilesPerTrigger), cp)(applyBatch(_, _, featuresDir))))
}
