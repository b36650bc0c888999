package graft.api

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle/state width for the streaming drains
  * (optimization-guide §2.2 "fewer, larger reduce partitions" + §5 state
  * sizing).
  *
  * The problem, measured at sf0.1 (round 15, per-stage profile; re-measure
  * with `graft.Bench <query>`, whose record has the stage counts): a stateful
  * micro-batch opens one state store PER shuffle partition, and the
  * per-store constant (RocksDB instance open, changelog commit, snapshot
  * bookkeeping) dominates when state is small — the medallion silver
  * dedup stage was 4.3 s of wall for 2 000 rows at the session's 32
  * partitions (128 s of task time, almost all store lifecycle) and 1.7 s
  * at 8. AQE cannot coalesce a streaming stateful exchange, so the static
  * width IS the state-store count — it must follow the data, not the core
  * count.
  *
  * The width is therefore derived from the bytes waiting under the
  * stream's input paths: one partition per [[targetBytesPerPartition]]
  * (the shuffle-partition sizing rule of guide §2.2, scaled to the
  * admission cap these drains use), floored at 1 and capped at the
  * session's configured shuffle width — so a 100 TB backlog still fans
  * out to the deployment's full width while a kilobyte fixture drain pays
  * for exactly one store. Every stream drain starts at this width on a
  * fork of the caller's session ([[graft.streaming.Drain]]).
  *
  * Spark pins a stateful query's width into its checkpoint
  * (OffsetSeqMetadata), so later waves of the same drain keep wave 1's
  * store count regardless of how the landing dir has grown — the
  * derivation only decides the FIRST run.
  */
object StreamWidth {

  /** Target bytes of admitted input per shuffle/state partition. */
  val targetBytesPerPartition: Long = 32L * 1024 * 1024

  /** Width for a drain whose input lives under `paths` (missing paths
    * count zero bytes). */
  def forInput(spark: SparkSession, paths: String*): Int = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = paths.map { p =>
      val path = new org.apache.hadoop.fs.Path(p)
      val fs = path.getFileSystem(conf)
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    }.sum
    val want = (bytes + targetBytesPerPartition - 1) / targetBytesPerPartition
    math.max(1L, math.min(want,
      spark.sessionState.conf.numShufflePartitions.toLong)).toInt
  }

  /** Width for an iterate-a-join loop whose per-round state is a
    * MATERIALIZED frame of `rows` rows (label propagation, Bellman-Ford,
    * peeling): one partition per `rowsPerPartition`, floored at 1 and
    * capped at the session width — a 25-node trade graph pays one
    * partition per round while a billion-edge pair set still fans out to
    * the deployment's configured width. */
  def forRows(spark: SparkSession, rows: Long,
      rowsPerPartition: Long = 500000L): Int =
    math.max(1L, math.min(rows / rowsPerPartition + 1L,
      spark.sessionState.conf.numShufflePartitions.toLong)).toInt

  /** Run `body` with `spark.sql.shuffle.partitions = n`, restoring the
    * previous value afterwards. AQE's `initialPartitionNum` is pinned to
    * the same value — the session sets it explicitly, and it, not the
    * static width, seeds every adaptive shuffle. NOTE: the width applies
    * to plans EXECUTED inside `body` (checkpoints, counts); a lazily
    * returned frame plans under the restored session conf.
    *
    * This sets the SHARED session's conf, so a query planned concurrently
    * on another thread plans at `n` too. Streams no longer use it: a drain
    * sets its width on a fork ([[graft.streaming.Drain]]). Its callers are
    * the five iterate-a-join loops (`Graph` ×4, `Dedup.labels`) and the
    * perfbench stream probe. */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    // (A measured-and-reverted variant also disabled whole-stage codegen
    // for width-1 loop bodies — per-round compile vs interpreted execution
    // came out a wash at sf0.1, so the simple form stays.)
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    val olds = keys.map(k => k -> spark.conf.getOption(k))
    keys.foreach(k => spark.conf.set(k, n.toString))
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
