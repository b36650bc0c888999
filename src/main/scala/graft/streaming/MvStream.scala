package graft.streaming

import graft.plans.MaterializedView
import graft.plans.MaterializedView.MvDef

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Streamed materialized-view maintenance — the [[CdfStream]] /
  * [[FeatureStream]] treatment for [[graft.plans.MaterializedView]]:
  * each micro-batch of fact rows contributes ONE partial rollup
  * (`batch=<streaming batch id>` — a replayed batch overwrites its own
  * output, exactly-once without a transaction log), and the rewrite
  * rule's re-aggregation over batches makes the accumulated MV current
  * the moment the drain finishes.
  *
  * This closes the maintenance loop at 100 TB: the fact table is an
  * unbounded landing zone, the MV maintainer runs AvailableNow on a
  * schedule (or continuously), per-run cost is proportional to NEW
  * files only (the checkpoint skips everything already rolled up), and
  * dashboard aggregates never rescan the fact — the
  * [[graft.plans.RewriteToMv]] fingerprint flips them from direct plan
  * to MV-served the moment [[runAvailableNow]] adopts the drained
  * snapshot. Files that land DURING a drain stay outside the adopted
  * fingerprint, so queries in that window fall back to the (correct,
  * slower) direct plan rather than an MV that never saw them.
  */
object MvStream {

  /** Drain everything currently under `landingDir` into `dfn`'s rollup
    * and register the MV for automatic rewrite over exactly the files
    * the drain covered. Restarts resume from the checkpoint: only new
    * files are rolled up, replayed batches overwrite their own
    * `batch=` dir.
    *
    * The adopted fingerprint must be EXACTLY the drained file set. A
    * pre-drain snapshot alone cannot guarantee that: a file landing
    * between the snapshot and the stream's own start listing IS drained
    * yet absent from the digest — covered-but-unfingerprinted, which a
    * later appendDelta caller could double-count. So each drain is
    * BRACKETED by listings (the stream's frozen start listing sits
    * between them): when both agree, the bracket is the frozen set and
    * the adoption is exact; when they differ, another drain runs — the
    * checkpoint makes re-drains incremental, covering precisely the
    * stragglers — until one drain is bracketed by identical listings.
    * Refuses loudly (nothing adopted; queries keep the direct plan) if
    * the landing zone churns through every attempt. */
  def runAvailableNow(spark: SparkSession, landingDir: String,
      schema: StructType, dfn: MvDef, checkpointDir: String,
      maxFilesPerTrigger: Int = 10, maxDrains: Int = 5): Unit = {
    def attempt(n: Int): Unit = {
      val snap = MaterializedView.snapshot(spark, landingDir)
      Drain(spark, Seq(landingDir))(s => Seq(Drain.eachBatch(
        Drain.files(s, schema, landingDir, maxFilesPerTrigger), checkpointDir)(
        MaterializedView.streamBatch(_, dfn, _))))
      if (MaterializedView.snapshot(spark, landingDir).matches(snap))
        MaterializedView.adopt(spark, landingDir, dfn, snap)
      else {
        require(n + 1 < maxDrains,
          s"$landingDir gained files during every one of $maxDrains " +
            "drain attempts — nothing adopted (queries keep the direct " +
            "plan); run the maintainer again during a quieter window")
        attempt(n + 1)
      }
    }
    attempt(0)
  }
}
