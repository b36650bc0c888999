package graft

import java.sql.Timestamp

import graft.pipeline.ActivityPipeline
import graft.streaming.{ActivityGenerator, DeterministicDedup, Medallion}
import org.apache.spark.sql.functions._

/** The deterministic streaming dedup (fault-injection finding, round 7):
  * `dropDuplicatesWithinWatermark` keeps an arbitrary first-arrival row per
  * key, so when the generator's birthday-colliding log_ids carry different
  * payloads, two drains of the SAME input could emit different silver
  * content (caught live under executor kill by the `medallion` scenario of
  * tools/FaultInject).
  * DeterministicDedup pins the survivor to the batch analog's keep rule.
  */
class DeterministicDedupSpec extends SparkSpec {

  test("watermark delay strings parse to milliseconds") {
    assert(DeterministicDedup.delayToMs("2 hours") === 7200000L)
    assert(DeterministicDedup.delayToMs("1 day") === 86400000L)
    assert(DeterministicDedup.delayToMs("30 minutes") === 1800000L)
    assert(DeterministicDedup.delayToMs("45 seconds") === 45000L)
    intercept[IllegalArgumentException](DeterministicDedup.delayToMs("soon"))
  }

  test("keep rule is the batch analog's total order") {
    def row(ts: String, u: String, ip: String, w: Double) =
      DeterministicDedup.ParsedActivity("log_1", u, Timestamp.valueOf(ts), ip, w)
    val early = row("2024-01-01 10:00:00", "user_b", "10.0.0.9", 50)
    val late = row("2024-01-01 11:00:00", "user_a", "10.0.0.1", 1)
    assert(DeterministicDedup.keep(early, late) === early) // timestamp first
    assert(DeterministicDedup.keep(late, early) === early) // symmetric
    val tie = row("2024-01-01 10:00:00", "user_a", "10.0.0.9", 50)
    assert(DeterministicDedup.keep(early, tie) === tie) // then user_id
  }

  /** Same input, two independent medallion trees: silver must be
    * bit-identical between them AND equal to the batch analog's
    * enrich∘dedup recompute over bronze. The generator injects same-key
    * different-payload duplicates (it copies only the log_id), so this
    * fails against dropDuplicatesWithinWatermark whenever arrival order
    * flips — with the deterministic operator it must never fail.
    */
  test("silver content is a pure function of the input") {
    def digest(dir: String): (java.math.BigDecimal, Long) = {
      val df = spark.read.parquet(dir)
      val cols = df.columns.sorted.map(c => col(c).cast("string"))
      val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
        .agg(sum(col("h")), count(lit(1))).collect()(0)
      (r.getDecimal(0), r.getLong(1))
    }
    val a = Medallion.Dirs(tempDir("det_dedup_a"))
    val b = Medallion.Dirs(tempDir("det_dedup_b"))
    ActivityGenerator.generate(a.raw, numFiles = 3, rowsPerFile = 1200, seed = 11L)
    ActivityGenerator.generate(b.raw, numFiles = 3, rowsPerFile = 1200, seed = 11L)
    Medallion.runAvailableNow(spark, a)
    Medallion.runAvailableNow(spark, b)

    assert(digest(a.silver) === digest(b.silver))

    // Single-drain inputs land in one micro-batch, so the streaming
    // first-batch-min coincides with the batch analog's global min:
    // silver == enrich(dedup(bronze)) bit-for-bit, survivor included.
    val bronze = spark.read.parquet(a.bronze).drop("event_date")
    val recomputed = ActivityPipeline
      .enrich(ActivityPipeline.dedup(bronze))
      .withColumn("event_date", to_date(col("timestamp")))
    val silver = spark.read.parquet(a.silver)
      .select(recomputed.columns.map(col): _*)
    assert(silver.exceptAll(recomputed).count() === 0L)
    assert(recomputed.exceptAll(silver).count() === 0L)
  }
}
