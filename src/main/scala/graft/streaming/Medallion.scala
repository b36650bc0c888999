package graft.streaming

import graft.pipeline.ActivityPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, to_date}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{DateType, StructField, StructType}

/** The streaming medallion pipeline: raw CSV → bronze (valid + quarantine)
  * → silver (watermarked dedup + enrichment) → gold (complete-mode analog).
  *
  * Spark-first re-expression of the reference's four streaming queries:
  *   - bronze ingest (`01_bronze_layer_ingestion.py:13-84`): core
  *     incremental file source with the declared RAW_SCHEMA (authoritative —
  *     no inference) and `maxFilesPerTrigger` backpressure (S1/T8); the
  *     quality gate/quarantine split shares [[ActivityPipeline]] with the
  *     batch oracle queries; two checkpointed exactly-once parquet append
  *     sinks (S4/S5/T7 — the file sink's `_spark_metadata` commit log is the
  *     Delta-less exactly-once mechanism, and downstream reads go through it).
  *   - silver (`02_silver_layer_processing.py:11-37`): streaming read of the
  *     bronze *sink* (append-only contract, S3), watermark + stateful dedup
  *     via [[DeterministicDedup]] (T1/T2 — the state eviction of
  *     `dropDuplicatesWithinWatermark`, which matches the reference's
  *     *intent*, with a deterministic survivor; plain `dropDuplicates` on a
  *     non-time key never evicts and grows without bound), broadcast-join geo
  *     enrichment (U1 rewrite), checkpointed append sink (S6).
  *   - gold (`03_gold_layer_aggregation.py:11-42`): the reference's plan is
  *     un-runnable as a streaming query (SURVEY §2.5 bug #2 — window +
  *     second aggregation over a streaming aggregate), so the engine uses
  *     `foreachBatch`: per trigger, recompute the declared gold aggregate
  *     from the silver table as a *batch* plan and atomically overwrite the
  *     gold table (S7 complete-mode analog). At 100 TB the recompute becomes
  *     an incremental merge keyed by (user, region); at the reference's
  *     declared 1–10 GB/day scale a per-trigger recompute of the two-shuffle
  *     aggregate is the simpler correct choice.
  *
  * All four queries default to the reference's 1-minute processing-time
  * trigger (T5); tests pass `Trigger.AvailableNow`.
  */
object Medallion {

  final case class Dirs(base: String) {
    val raw = s"$base/raw"
    val bronze = s"$base/bronze"
    val quarantine = s"$base/quarantine"
    val silver = s"$base/silver"
    val gold = s"$base/gold"
    def checkpoint(layer: String) = s"$base/checkpoints/$layer"
  }

  val defaultTrigger: Trigger = Trigger.ProcessingTime("1 minute")

  /** Bronze and silver are partitioned by event date — at 100 TB this is
    * what keeps downstream scans prunable (dynamic partition pruning) and
    * file listings bounded; the partition column rides along in the layer
    * schema on read. */
  private def dated(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("event_date", DateType))

  /** Bronze: incremental CSV scan → gate → two append sinks.
    *
    * The valid/quarantine split is two streaming queries over the same
    * logical source (each scans the input independently), mirroring the
    * reference. The single-scan alternatives both give up the file sink's
    * commit-log exactly-once contract: one query can only have one file
    * sink, so a unified write needs either foreachBatch (manual idempotence,
    * readers can observe in-progress files) or a dq_valid partition column
    * (downstream would tail a partition subtree without the root metadata
    * log). The gate is cheap map work, so paying the second scan to keep
    * both sinks transactional is the right trade at any scale — the scans
    * are bounded by maxFilesPerTrigger either way. */
  def startBronze(
      spark: SparkSession,
      dirs: Dirs,
      trigger: Trigger = defaultTrigger,
      maxFilesPerTrigger: Int = 10,
      maxBytesPerTrigger: Long = 10L * 1024 * 1024 * 1024): (StreamingQuery, StreamingQuery) = {
    // One code path for S1/T8 parity: the byte-capped DSv2 source carries
    // BOTH Auto Loader admission caps on the same stream — ≤10 files AND
    // ≤10 GB per trigger, exactly `01_bronze_layer_ingestion.py:17-18` —
    // where the built-in file source only has the files cap.
    val raw = spark.readStream
      .format(classOf[graft.sources.ByteCappedFileSource].getName)
      .schema(ActivityPipeline.RawSchema)
      .option("header", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("maxBytesPerTrigger", maxBytesPerTrigger)
      .option("path", dirs.raw)
      .load()
    val parsed = ActivityPipeline.parseRaw(raw)
    val valid = ActivityPipeline.bronzeValid(parsed)
      .withColumn("event_date", to_date(col("timestamp")))
      // Business-level gate counter riding the plan (Dataset.observe):
      // surfaces per-batch pass counts through the progress listener
      // (Metrics.observedSnapshot) with zero extra passes over the data.
      .observe("bronze_gate", count(lit(1)).as("rows_passed"))
      .writeStream
      .format("parquet")
      .outputMode("append")
      .partitionBy("event_date")
      .option("checkpointLocation", dirs.checkpoint("bronze_valid"))
      .trigger(trigger)
      .start(dirs.bronze)
    val quarantine = ActivityPipeline.bronzeQuarantine(parsed)
      .writeStream
      .format("parquet")
      .outputMode("append")
      .option("checkpointLocation", dirs.checkpoint("bronze_quarantine"))
      .trigger(trigger)
      .start(dirs.quarantine)
    (valid, quarantine)
  }

  /** Tail admission cap: bronze's cap bounds what enters the lake per
    * trigger, but a backlog (bronze ran alone for a while, or a restart)
    * would otherwise flow into ONE unbounded downstream micro-batch — the
    * tails need the same admission posture as the head. The default is
    * deliberately roomy: bronze emits one file per (task × event-date) per
    * batch, so a normal head batch lands a few hundred tail files — those
    * should still drain in ONE tail batch (watermark semantics across an
    * artificially split batch drop late rows a single batch would keep);
    * the cap exists to bound the pathological backlog, not routine flow. */
  val defaultTailMaxFilesPerTrigger = 1000

  /** Silver: bronze tail → watermarked stateful dedup → enrichment → sink. */
  def startSilver(
      spark: SparkSession,
      dirs: Dirs,
      trigger: Trigger = defaultTrigger,
      watermark: String = "2 hours",
      maxFilesPerTrigger: Int = defaultTailMaxFilesPerTrigger): StreamingQuery = {
    val bronze = spark.readStream
      .schema(dated(ActivityPipeline.ParsedSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dirs.bronze)
    val watermarked = bronze
      .drop("event_date") // re-derived below; dedup state keys stay minimal
      .withWatermark("timestamp", watermark)
    // Deterministic survivor: executor-loss fault injection caught
    // dropDuplicatesWithinWatermark's arbitrary-first-arrival rule emitting
    // different silver content across two drains of the same input (see
    // DeterministicDedup's scaladoc).
    ActivityPipeline.enrich(DeterministicDedup.dedup(watermarked, watermark).toDF())
      .withColumn("event_date", to_date(col("timestamp")))
      .writeStream
      .format("parquet")
      .outputMode("append")
      .partitionBy("event_date")
      .option("checkpointLocation", dirs.checkpoint("silver"))
      .trigger(trigger)
      .start(dirs.silver)
  }

  /** Gold: silver tail → foreachBatch complete-mode overwrite. */
  def startGold(
      spark: SparkSession,
      dirs: Dirs,
      trigger: Trigger = defaultTrigger,
      maxFilesPerTrigger: Int = defaultTailMaxFilesPerTrigger): StreamingQuery = {
    val silver = spark.readStream
      .schema(dated(ActivityPipeline.SilverSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dirs.silver)
    silver.writeStream
      .foreachBatch { (_: DataFrame, _: Long) =>
        // Batch read goes through the sink's _spark_metadata log, so only
        // committed files are visible; overwrite keeps the write idempotent
        // across retries (exactly-once complete-mode analog).
        val full = spark.read
          .schema(dated(ActivityPipeline.SilverSchema)).parquet(dirs.silver)
        ActivityPipeline.gold(full)
          .write.mode("overwrite").parquet(dirs.gold)
        ()
      }
      .option("checkpointLocation", dirs.checkpoint("gold"))
      .trigger(trigger)
      .start()
  }

  /** Gold, the 100 TB shape: instead of re-aggregating the whole silver
    * table per trigger, maintain the per-(user, region) partial sums as a
    * compact state table and merge only each micro-batch's increment into
    * it — work per trigger scales with the increment, state scales with
    * |users × regions|, not with history.
    *
    * Exactly-once: state versions are keyed by micro-batch id. A retried
    * batch re-reads the newest version strictly older than itself and
    * overwrites its own version — idempotent; the final gold overwrite is
    * likewise idempotent.
    */
  def startGoldIncremental(
      spark: SparkSession,
      dirs: Dirs,
      trigger: Trigger = defaultTrigger,
      maxFilesPerTrigger: Int = defaultTailMaxFilesPerTrigger): StreamingQuery = {
    val silver = spark.readStream
      .schema(dated(ActivityPipeline.SilverSchema))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dirs.silver)
    val stateBase = s"${dirs.base}/gold_state"
    silver.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val conf = spark.sparkContext.hadoopConfiguration
        val basePath = new org.apache.hadoop.fs.Path(stateBase)
        val fs = basePath.getFileSystem(conf)
        val versions: Seq[Long] =
          if (!fs.exists(basePath)) Seq.empty
          else fs.listStatus(basePath).toSeq
            .map(_.getPath.getName).filter(_.startsWith("v"))
            .map(_.drop(1).toLong).filter(_ < batchId).sorted
        val inc = ActivityPipeline.byRegion(batch)
        val merged = versions.lastOption match {
          case Some(v) =>
            spark.read.parquet(s"$stateBase/v$v")
              .unionByName(inc)
              .groupBy(col("user_id"), col("geo_region"))
              .agg(org.apache.spark.sql.functions.sum(col("wt")).as("wt"))
          case None => inc
        }
        merged.write.mode("overwrite").parquet(s"$stateBase/v$batchId")
        val state = spark.read.parquet(s"$stateBase/v$batchId")
        ActivityPipeline.goldFromByRegion(state)
          .write.mode("overwrite").parquet(dirs.gold)
        // Keep only the newest prior version for retry safety.
        versions.dropRight(1).foreach(v =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$stateBase/v$v"), true))
        ()
      }
      .option("checkpointLocation", dirs.checkpoint("gold_incremental"))
      .trigger(trigger)
      .start()
  }

  /** Drain everything currently in `dirs.raw` through all three layers with
    * `Trigger.AvailableNow`, sequentially (bronze → silver → gold), as one
    * [[Drain]] sized by the raw backlog, each layer awaited for at most
    * `timeoutMs`. Re-runnable: checkpoints make every layer pick up only
    * new input. */
  def runAvailableNow(spark: SparkSession, dirs: Dirs, timeoutMs: Long = 300000L): Unit = {
    val t = Trigger.AvailableNow()
    Drain(spark, Seq(dirs.raw), timeoutMs)(
      s => { val (valid, quarantine) = startBronze(s, dirs, t); Seq(valid, quarantine) },
      s => Seq(startSilver(s, dirs, t)),
      s => Seq(startGold(s, dirs, t)))
  }
}
