package graft.api

import org.apache.spark.sql.DataFrame

/** Scale-adaptive input widening for CPU-heavy per-row derivations
  * (optimization-guide §2.5 "input skew": one huge unsplittable file — or,
  * equally, a SMALL single-row-group parquet file — repartition immediately
  * after the read).
  *
  * The problem, measured at sf0.1 (round 14, per-stage profile; re-measure
  * with `graft.Bench <query>`, whose record has the task counts): every fixture
  * table is one parquet row group, so any scan yields 1–3 real tasks no
  * matter how many cores the session has. Downstream map work that is
  * CPU-bound per row (MD5 grids, shingling, MinHash, BPE apply, vector
  * math) then runs effectively single-threaded until the first exchange —
  * e.g. the rel_cms_freq grid build was 2.3 s of a 2.7 s query on one task
  * with 31 cores idle.
  *
  * The fix must not be a fixed repartition: at 100 TB the same scan has
  * thousands of splits and a blanket shuffle of the fact table would be a
  * pure regression. So the widening is derived from input size: repartition
  * round-robin to the session's default parallelism ONLY when even the
  * finest split size Spark would use (`spark.sql.files.openCostInBytes`,
  * the open-cost floor under which splits never go) cannot yield that many
  * scan splits. Above the threshold the input is returned unchanged — no
  * shuffle node is inserted at all, so cluster-scale plans are untouched.
  *
  * Apply it to the NARROW projection that feeds the heavy derivation (the
  * shuffle then moves only the needed columns — guide §2.3 "project before
  * the exchange"). Round-robin repartition keeps Spark's
  * sort-before-repartition retry determinism (SPARK-23207); every caller
  * below feeds order-insensitive aggregations, so results are unchanged on
  * any partitioning (and every touched query re-verified against the
  * DuckDB oracle).
  */
object Fanout {

  /** `df`, repartitioned to the session default parallelism iff its
    * estimated input size cannot split that wide at the open-cost floor.
    * Round-robin spread (pays Spark's retry-determinism pre-sort,
    * SPARK-23207 — fine for the small corpora this fires on). */
  def widen(df: DataFrame): DataFrame =
    if (shouldWiden(df)) df.repartition(cores(df)) else df

  /** As [[widen]], but hash-partitioned on `keys` — no pre-sort, and
    * deterministic under retries because the keys are real columns. Use
    * for larger narrow inputs (e.g. a 600k-row fact projection) with a
    * high-cardinality key (≥ 20–100× the partition count — guide §2.5's
    * synthetic-key collision warning). */
  def widenBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    if (shouldWiden(df)) df.repartition(cores(df), keys: _*) else df

  private def cores(df: DataFrame): Int =
    df.sparkSession.sparkContext.defaultParallelism

  private def shouldWiden(df: DataFrame): Boolean = {
    val s = df.sparkSession
    val openCost = s.sessionState.conf.filesOpenCostInBytes
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes < BigInt(cores(df).toLong * openCost)
  }
}
