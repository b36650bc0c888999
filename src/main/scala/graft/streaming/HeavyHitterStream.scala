package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming approximate heavy hitters over an unbounded token stream —
  * "what are the trending terms in the corpus being ingested right now,"
  * in O(m) state regardless of vocabulary size.
  *
  * The sketch is Misra–Gries (the deterministic frequent-items summary;
  * SpaceSaving is its isomorphic twin), chosen because MG summaries are
  * MERGEABLE with no loss of guarantee (Agarwal et al. 2012, "Mergeable
  * Summaries"): two capacity-m summaries combine by adding counters
  * pointwise, subtracting the (m+1)-th largest combined value v from every
  * counter, and dropping non-positives — the result is a valid capacity-m
  * summary of the concatenated stream with error D = D₁ + D₂ + v. That
  * associativity is exactly what a distributed stream needs:
  *
  *   - each input partition builds its own MG summary in one pass
  *     (`mapPartitions`, O(m) memory, no shuffle of raw tokens beyond the
  *     scan itself);
  *   - the per-partition summaries (≤ m rows each) merge with the
  *     persisted summary in one tiny aggregation — per batch the merge
  *     touches O(m · partitions) rows, never the token volume;
  *   - the persisted state is m counters + two scalars (total decrement D,
  *     total token count N), full-rewritten each batch under
  *     `batch=<id>` dirs. A batch reads its PREDECESSOR's dir (id − 1) and
  *     overwrites its own, so a post-crash replay re-derives identical
  *     state instead of double-counting — the CurateStream exactly-once
  *     discipline, with the chain guaranteed unbroken because every batch
  *     writes (even when it admits zero rows).
  *
  * Guarantees carried by the state (and asserted by HeavyHitterStreamSpec
  * against exact batch recounts): for every tracked token,
  * `c(t) ≤ true(t) ≤ c(t) + D`, and `D ≤ N/(m+1)` — so any token whose
  * true count exceeds N/(m+1) is guaranteed present. [[report]] surfaces
  * tokens with `c + D ≥ φ·N` with their [lb, ub] bounds — no false
  * negatives PROVIDED φ > 1/(m+1) (below that floor eviction can beat the
  * support threshold; report rejects such φ loudly).
  *
  * 100 TB posture: raw tokens never shuffle (the scan IS the only pass);
  * sketch size is a constant independent of corpus and vocabulary; and
  * because the merge is associative, the same summaries could combine
  * tree-wise across 1000 executors — the property that makes approximate
  * aggregation scale (the SketchSpec HLL argument, applied to top-k).
  */
object HeavyHitterStream {

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** One-pass Misra–Gries over an iterator: returns (counters, decrements).
    * Counters UNDERcount: true − d ≤ c ≤ true within this stream slice. */
  def misraGries(tokens: Iterator[String], m: Int): (Map[String, Long], Long) = {
    val c = scala.collection.mutable.HashMap.empty[String, Long]
    var d = 0L
    tokens.foreach { t =>
      if (c.contains(t)) c(t) += 1
      else if (c.size < m) c(t) = 1
      else {
        // Decrement-all: one unit leaves every tracked counter AND the
        // incoming token (classic MG step).
        d += 1
        val dead = c.iterator.collect { case (k, 1) => k }.toList
        c.mapValuesInPlace((_, v) => v - 1)
        dead.foreach(c.remove)
      }
    }
    (c.toMap, d)
  }

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new org.apache.hadoop.fs.Path(dir))

  private val counterSchema = StructType(Seq(
    StructField("token", StringType), StructField("c", LongType)))
  private val metaSchema = StructType(Seq(
    StructField("d", LongType), StructField("n", LongType),
    StructField("m", LongType)))

  /** Fold one micro-batch of documents into the persisted summary.
    * Reads state `batch=<id−1>`, writes `batch=<id>` (overwrite ⇒ replay
    * is a no-op). Public so a batch orchestrator can drive it too. */
  def applyBatch(batch: DataFrame, batchId: Long, stateDir: String,
      m: Int): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    // Per-partition summaries: each partition emits ≤ m counter rows plus
    // one meta row carrying (its decrement total, its token count).
    // Cached: the summary relation is sketch-scale (≤ m+1 rows per input
    // partition), and BOTH the counter merge and the d/n meta aggregate
    // read it — without the cache the second action would re-tokenize and
    // re-sketch the whole batch (2× the token-volume scan per batch).
    val parts = batch
      .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .select("tok").as[String]
      .mapPartitions { it =>
        var n = 0L
        val counted = it.map { t => n += 1; t }
        val (c, d) = misraGries(counted, m)
        c.iterator.map { case (t, v) => (t, v, 0L, 0L) } ++
          Iterator(("", 0L, d, n))
      }
      .toDF("token", "c", "d", "n")
      .cache()
    val prevDir = s"$stateDir/summary/batch=${batchId - 1}"
    if (batchId > 0 && !exists(spark, prevDir))
      // The chain must be unbroken: a missing predecessor means lost
      // state, and silently restarting from zero would report bounds
      // that no longer hold. Fail loudly instead.
      throw new IllegalStateException(
        s"heavy-hitter state chain broken: $prevDir missing at batch $batchId")
    val (prev, prevMeta) =
      if (batchId > 0)
        (spark.read.schema(counterSchema).parquet(s"$prevDir/counters"),
          spark.read.schema(metaSchema).parquet(s"$prevDir/meta"))
      else
        (spark.createDataFrame(new java.util.ArrayList[Row](), counterSchema),
          spark.createDataFrame(new java.util.ArrayList[Row](), metaSchema))
    // Pointwise-combined counters. The relation is O(m · partitions) rows
    // — sketch-scale, not data-scale — so the single-partition rank window
    // below orders a few thousand rows at most.
    val combined = parts.filter(col("token") =!= "")
      .select("token", "c")
      .unionAll(prev)
      .groupBy("token").agg(sum("c").as("c"))
    val w = Window.orderBy(col("c").desc, col("token"))
    val ranked = combined.withColumn("r", row_number().over(w)).cache()
    try {
      prevMeta.take(1).foreach { pm =>
        require(pm.getLong(2) == m.toLong,
          s"capacity changed mid-stream: state has m=${pm.getLong(2)}, " +
            s"caller passed m=$m — bounds would silently break")
      }
      // v = (m+1)-th largest combined counter (0 when ≤ m survive): the
      // mergeable-summaries reduction subtracts v everywhere and the
      // error bound grows by exactly v.
      val v = ranked.filter(col("r") === m + 1).select("c")
        .collect().headOption.map(_.getLong(0)).getOrElse(0L)
      val newCounters = ranked
        .filter(col("c") > v)
        .select(col("token"), (col("c") - v).as("c"))
      val batchDN = parts.filter(col("token") === "")
        .agg(
          coalesce(sum("d"), lit(0L)).cast("long"),
          coalesce(sum("n"), lit(0L)).cast("long")).collect().head
      val prevDN = prevMeta.agg(
        coalesce(sum("d"), lit(0L)).cast("long"),
        coalesce(sum("n"), lit(0L)).cast("long")).collect().head
      val d = prevDN.getLong(0) + batchDN.getLong(0) + v
      val n = prevDN.getLong(1) + batchDN.getLong(1)
      val outDir = s"$stateDir/summary/batch=$batchId"
      newCounters.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/counters")
      Seq((d, n, m.toLong)).toDF("d", "n", "m").write.mode(SaveMode.Overwrite)
        .parquet(s"$outDir/meta")
    } finally { ranked.unpersist(); parts.unpersist() }
  }

  /** Heavy hitters at support φ from the latest summary: bounds are
    * [c, c + D] per reported token, and for φ > 1/(m+1) every token with
    * true count ≥ φ·N is guaranteed present (true > N/(m+1) ≥ D forces a
    * live counter, and c + D ≥ true ≥ φ·N passes the filter). Below that
    * floor a token can be legitimately evicted while still clearing φ·N —
    * no sketch of capacity m can promise otherwise — so the call REJECTS
    * φ ≤ 1/(m+1) instead of returning a silently incomplete report. */
  def report(spark: SparkSession, stateDir: String, batchId: Long,
      phi: Double): DataFrame = {
    val dir = s"$stateDir/summary/batch=$batchId"
    val meta = spark.read.schema(metaSchema).parquet(s"$dir/meta")
      .collect().head
    val (d, n) = (meta.getLong(0), meta.getLong(1))
    require(phi > 1.0 / (meta.getLong(2) + 1),
      s"support phi=$phi is below the sketch's guarantee floor " +
        s"1/(m+1)=${1.0 / (meta.getLong(2) + 1)} — results could silently " +
        "miss qualifying tokens; raise phi or rebuild with larger m")
    spark.read.schema(counterSchema).parquet(s"$dir/counters")
      .withColumn("lb", col("c"))
      .withColumn("ub", col("c") + lit(d))
      .filter(col("ub") >= lit(phi * n))
      .select(col("token"), col("lb"), col("ub"))
  }

  /** Drain everything in `landingDir` through the sketch; restarts resume
    * from the checkpoint and replayed batches rebuild identical state. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      stateDir: String, checkpointDir: String, m: Int,
      maxFilesPerTrigger: Int = 10): Unit =
    Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
      Drain.files(s, docSchema, landingDir, maxFilesPerTrigger), checkpointDir)(
      applyBatch(_, _, stateDir, m))))
}
