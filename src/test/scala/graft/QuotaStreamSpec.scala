package graft

import graft.streaming.QuotaStream
import org.apache.spark.sql.functions._

/** Budget-capped streaming admission: per-source quotas hold across
  * micro-batches, admission is a deterministic prefix, and a replayed
  * batch neither double-admits nor double-counts spend. */
class QuotaStreamSpec extends SparkSpec {

  private val cap = 400L

  private def wave(landing: String, n: Int, offset: Int): Unit = {
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      val id = (offset + i).toLong
      val src = if (id % 2 == 0) "web" else "code"
      // ~21 tokens per doc -> ~10 docs of one source fill a 400-token cap.
      (id, s"doc $id " + Seq.fill(19)(s"w$id").mkString(" "), src)
    }.toDF("doc_id", "text", "source")
      .coalesce(1).write.mode("append").parquet(landing)
  }

  test("per-source quotas hold across waves; replay is idempotent") {
    val landing = tempDir("quota-landing")
    val state = tempDir("quota-state")
    val ckpt = tempDir("quota-ckpt")

    wave(landing, 12, 0)
    QuotaStream.runAvailableNow(spark, landing, state, ckpt, cap)
    val after1 = QuotaStream.admitted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after1.nonEmpty, "first wave admitted nothing")

    wave(landing, 30, 100)
    QuotaStream.runAvailableNow(spark, landing, state, ckpt, cap)
    val admitted = QuotaStream.admitted(spark, state).cache()

    // 1. Quotas hold: no source exceeds its cap.
    val spend = admitted.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(spend.nonEmpty)
    spend.foreach { case (src, t) =>
      assert(t <= cap, s"source $src overspent: $t > $cap")
    }
    // 2. The cap binds (enough input arrived to exhaust both budgets).
    spend.foreach { case (src, t) =>
      assert(t > cap - 25, s"source $src left budget unspent: $t")
    }
    // 3. Admission is append-only: wave-1 decisions survive wave 2.
    val now = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after1.subsetOf(now), "later batch retroactively evicted docs")

    // 4. Replaying the LAST batch (crash-before-commit) reproduces the
    //    identical admitted set and spend: state derives only from
    //    earlier batches, and the batch overwrites its own subdirs.
    // Partition-dir inference may type `batch` as int — normalize.
    val batchIds = spark.read.option("basePath", s"$state/sums")
      .parquet(s"$state/sums").select(col("batch").cast("long")).distinct()
      .collect().map(_.getLong(0)).sorted
    val last = batchIds.max
    val s2 = spark
    import s2.implicits._
    val replay = spark.read.parquet(landing)
      .filter($"doc_id" >= 100) // wave-2 files = the last batch's input
    QuotaStream.applyBatch(replay, last, state, cap)
    val afterReplay = QuotaStream.admitted(spark, state)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(afterReplay === now, "replayed batch changed the admitted set")
    admitted.unpersist()
  }
}
