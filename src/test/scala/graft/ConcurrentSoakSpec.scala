package graft

import graft.streaming.Drain
import graft.tools.ConcurrentSoak

/** Concurrent-execution contract (mini form of the ConcurrentSoak
  * artifact run): the medallion streams drain WHILE batch queries — and a
  * second checkpointed streaming query — execute in the same session, and
  * the end state must be bit-identical to a sequential run over the same
  * raw files. Guards the drain's two cross-talk rules: a batch-side drain
  * never stops the state-store machinery under a live stream, and no
  * drain changes the width a concurrent batch query plans at or leaves
  * the session at a drain's width. */
class ConcurrentSoakSpec extends SparkSpec {

  test("medallion + concurrent batch/stream mix ends bit-identical to sequential") {
    val width = spark.sessionState.conf.numShufflePartitions
    val keys = Drain.widthKeys.map(k => k -> spark.conf.getOption(k)).toMap
    val r = ConcurrentSoak.run(spark, sfDir, tempDir("consoak"), waves = 2,
      mix = Seq("rel_q1_pricing_summary", "rel_hll_stream"))
    assert(r.goldEqual, "gold diverged under concurrency")
    assert(r.silverEqual, "silver diverged under concurrency")
    assert(r.quarantineEqual, "quarantine diverged under concurrency")
    assert(r.queriesRun >= 1, "no batch query overlapped the stream")
    assert(r.conQueryWidths.size == r.queriesRun)
    assert(r.conQueryWidths.forall(_ == width),
      s"a concurrent batch query started at a drain's width: ${r.conQueryWidths}")
    assert(r.widthKeysAfter == keys, "the run left the session at another width")
  }
}
