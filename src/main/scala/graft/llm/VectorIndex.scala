package graft.llm

import graft.sources.Parquet
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ vector index: build once, append increments, query many.
  *
  * `llm_knn_ivf` / `llm_knn_pq` recompute their cells and codes on every
  * query — fine for a one-shot audit, wrong for the operational case where
  * the corpus is ingested continuously and queried constantly. This is the
  * band-index discipline from incremental dedup ([[Dedup.incrementPairs]])
  * applied to vectors:
  *
  *   - '''build''' derives the IVF centroids (capped [[Quantizer]] sizing,
  *     the `llm_knn_ivf` discipline) and the PQ codebook (16 codewords × 8
  *     subspaces, the `llm_knn_pq` bootstrap) from the build corpus, then
  *     persists three tables under the index dir: `centroids`, `codebook`,
  *     and `codes` (vec_id, cell, 8-nibble code).
  *   - '''append''' assigns NEW vectors against the FROZEN centroids +
  *     codebook — one shuffle-free map pass against two broadcast single
  *     rows; the raw text/vector data is never re-scanned. Each increment
  *     writes its own `batch=<id>` subdir in overwrite mode, so a crashed
  *     or replayed append overwrites its own output — idempotent without a
  *     transaction log (the CurateStream state discipline).
  *   - '''query''' probes the `nprobe` nearest cells and ADC-ranks the
  *     codes in those cells: the query-time scan touches ~nprobe/nlist of
  *     the CODES table (8 small ints per vector, never the raw vectors) —
  *     at 100 TB the raw corpus is not read at all once indexed.
  *
  * Freezing the parameters is what makes appends O(increment): the
  * documented trade is that centroids/codebook reflect the BUILD corpus
  * (periodic re-build re-balances, exactly like re-training any ANN
  * index); `VectorIndexSpec` pins append ≡ assign-everything-with-frozen-
  * params, so drift is a re-balance concern, never a correctness one.
  *
  * Determinism: assignment and encoding reuse the exact fold programs of
  * `llm_knn_ivf` / `llm_knn_pq` (cosine cell argmax ties → smaller
  * cent_id; L2 codeword argmin ties → smaller codeword id; left-to-right
  * folds), so the `llm_knn_ivfpq` oracle rebuilds the same index state in
  * SQL and hash-checks query results bit-for-bit.
  */
object VectorIndex {

  /** Frozen sizing derived from the build corpus count (mirrored by the
    * oracle from the same count). */
  final case class Params(centroidMod: Long, codebookMod: Long)

  def paramsFor(n: Long): Params = Params(
    centroidMod = Quantizer.centroidModFor(n),
    codebookMod = math.max(1L, n / 16))

  private def centroidsOf(corpus: DataFrame, p: Params): DataFrame =
    corpus.filter(col("vec_id") % p.centroidMod === 0)
      .select(col("vec_id").as("cent_id"), col("ve").as("vc"))

  private def codebookOf(corpus: DataFrame, p: Params): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    corpus.filter(col("vec_id") % p.codebookMod === 0)
      .withColumn("c", row_number().over(w) - 1)
      .filter(col("c") < 16)
      .select(col("c"), col("ve").as("vc"))
  }

  /** One map pass: (vec_id, cell, code) against broadcast centroids +
    * codebook — the shared assignment program of build and append (public
    * so the spec can pin append ≡ assign-everything-at-once). */
  def assignCodes(
      vecs: DataFrame, centroids: DataFrame, codebook: DataFrame): DataFrame = {
    val cbArr = codebook.agg(
      sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
    // Cell via the shared two-level walk (the Quantizer structure is
    // derived from the frozen centroid table alone, so appends reproduce
    // build's assignment exactly); code via the strict-min codeword fold.
    // Native codegen encode (round 15, guide §4) — see Knn.pqTopK.
    Quantizer.assign(vecs, Quantizer.quantizer(centroids))
      .withColumnRenamed("cent_id", "cell")
      .crossJoin(broadcast(cbArr))
      .withColumn("code", expr("pq_encode(ve, cb)"))
      .select(col("vec_id"), col("cell"), col("code"))
  }

  /** Build the index from scratch: freeze params from this corpus, persist
    * centroids/codebook, encode the corpus as batch 0. With `storeVectors`
    * the raw vectors are also persisted per cell (IVF-flat `lists`) so
    * exact-cosine operations — rescoring, semantic dedup — can run against
    * the index without the original corpus. */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
      storeVectors: Boolean = false): Params = {
    val p = paramsFor(corpus.count())
    val cents = centroidsOf(corpus, p)
    val cb = codebookOf(corpus, p)
    cents.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    cb.coalesce(1).write.mode("overwrite").parquet(s"$indexDir/codebook")
    append(spark, corpus, indexDir, batchId = 0L, storeVectors = storeVectors)
    p
  }

  /** Encode an increment against the frozen index parameters. Idempotent
    * per batchId: a replay overwrites its own `batch=` dir only. */
  def append(spark: SparkSession, vecs: DataFrame, indexDir: String, batchId: Long,
      storeVectors: Boolean = false): Unit = {
    val cents = Parquet.open(spark, s"$indexDir/centroids")
    val cb = Parquet.open(spark, s"$indexDir/codebook")
    if (!storeVectors) {
      assignCodes(vecs, cents, cb)
        .write.mode("overwrite").parquet(s"$indexDir/codes/batch=$batchId")
    } else {
      // One assignment, two projections (codes + IVF-flat lists); the
      // increment is micro-batch-bounded, so materializing it once is
      // cheaper than re-running the broadcast fold per write.
      val assigned = Quantizer.assign(vecs, Quantizer.quantizer(cents))
        .select(col("vec_id"), col("cent_id").as("cell"), col("ve"))
        .persist()
      try {
        assigned.select(col("vec_id"), col("cell"), col("ve"))
          .write.mode("overwrite").parquet(s"$indexDir/lists/batch=$batchId")
        val cbArr = cb.agg(
          sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
        assigned.crossJoin(broadcast(cbArr))
          .withColumn("code", expr("pq_encode(ve, cb)"))
          .select(col("vec_id"), col("cell"), col("code"))
          .write.mode("overwrite").parquet(s"$indexDir/codes/batch=$batchId")
      } finally assigned.unpersist()
    }
  }

  /** The persisted (vec_id, cell, code) table across all appended batches. */
  def codes(spark: SparkSession, indexDir: String): DataFrame =
    Parquet.open(spark, s"$indexDir/codes").drop("batch")

  /** The persisted IVF-flat (vec_id, cell, ve) table (storeVectors mode).
    * `belowBatch` restricts to batches strictly before an id — the replay-
    * stable "prior state" view an incremental batch joins against. */
  def lists(spark: SparkSession, indexDir: String,
      belowBatch: Option[Long] = None): DataFrame = {
    val raw = Parquet.open(spark, s"$indexDir/lists")
    belowBatch.fold(raw)(b => raw.filter(col("batch") < b)).drop("batch")
  }

  /** Incremental SemDeDup pair scan: exact-cosine ≥ tau pairs between a
    * bounded increment and the indexed cell-mates, plus within-increment
    * pairs — never index×index. Because cell assignment is a pure
    * per-vector function of the FROZEN centroids, accumulated increment
    * pairs ≡ one batch pair scan of everything ingested (the
    * [[Dedup.incrementPairs]] invariant, for embeddings), so survivors
    * computed from accumulated pairs are arrival-order-independent.
    * Pairs are normalized (vec_a < vec_b); the increment side broadcasts. */
  def semanticPairs(incr: DataFrame, index: DataFrame, tau: Double): DataFrame = {
    val a = incr.select(col("cell"), col("vec_id").as("ia"), col("ve").as("va"))
    val vsIndex = broadcast(a)
      .join(index.select(col("cell"), col("vec_id").as("ib"), col("ve").as("vb")),
        "cell")
      .filter(col("ia") =!= col("ib"))
    val withinIncr = a
      .join(incr.select(col("cell"), col("vec_id").as("ib"), col("ve").as("vb")),
        "cell")
      .filter(col("ia") < col("ib"))
    vsIndex.unionByName(withinIncr)
      .withColumn("cosine", VectorOps.cosine("va", "vb"))
      .filter(col("cosine") >= tau)
      .select(least(col("ia"), col("ib")).as("vec_a"),
        greatest(col("ia"), col("ib")).as("vec_b"), col("cosine"))
      .distinct()
  }

  /** Index health report: per cell, the member count and the mean PQ
    * quantization error — each vector's ADC distance to its OWN code,
    * Σ_s ‖v_s − codeword(code_s)‖², which is exactly the reconstruction
    * error the asymmetric distance adds to every query. Rising error on
    * newly appended batches is the staleness signal that schedules a
    * re-build (frozen geometry drifting from the data), the same way a
    * B-tree fill factor schedules a reindex. One map pass over the
    * vectors (the assignment program already computes the distances) +
    * one |cells|-row aggregate; means in exact DECIMAL so the report is
    * partitioning-independent. */
  def health(vecs: DataFrame, centroids: DataFrame, codebook: DataFrame): DataFrame = {
    val cbArr = codebook.agg(
      sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
    // One map pass: cell + code + reconstruction error together (the
    // assignment program with `ve` kept in flight — no re-join shuffle).
    // Native codegen reconstruction error (round 15): err =
    // Σ_s min-codeword subspace L2 — the chosen codeword's distance IS
    // the fold's minimum, so pq_recon_err computes the identical value
    // without materializing the code (PqOpsSpec pins it).
    Quantizer.assign(vecs, Quantizer.quantizer(centroids))
      .withColumnRenamed("cent_id", "cell")
      .crossJoin(broadcast(cbArr))
      .withColumn("err", expr("pq_recon_err(ve, cb)"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        graft.api.Exact.dsum(col("err")).as("sum_err"))
      .withColumn("mean_err", col("sum_err") / col("n"))
      .select(col("cell"), col("n"), col("mean_err"))
  }

  /** ANN query: probe the `nprobe` cells nearest each query vector, then
    * ADC-rank the probed cells' CODES (raw vectors never read). Output
    * (query_id, neighbor_id, adc, rank), self-matches excluded. */
  def query(
      spark: SparkSession,
      indexDir: String,
      queries: DataFrame,
      k: Int,
      nprobe: Int): DataFrame = {
    val cents = Parquet.open(spark, s"$indexDir/centroids")
    val cb = Parquet.open(spark, s"$indexDir/codebook")
    val cbArr = cb.agg(sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
    val q = queries.select(col("vec_id").as("query_id"), col("ve").as("vq"))
    // Probe: queries are small by contract → walk the same two-level
    // quantizer as assignment (a co-located vector's cell is always
    // probeable), top-nprobe fine cells within the query's coarse cell.
    val probes = Quantizer.probes(q, Quantizer.quantizer(cents), nprobe)
      .withColumnRenamed("cent_id", "cell")
    // Probe side is |queries|·nprobe rows behind a window — explicit
    // broadcast (the llm_knn_ivf estimate lesson) so the codes table
    // streams map-only. ADC scores via per-query distance tables
    // ([[Knn.pqDistTables]]): 8 lookups + adds per candidate.
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id"))
    val dtabs = Knn.pqDistTables(queries, cbArr)
    broadcast(probes.join(dtabs, "query_id").select("query_id", "cell", "dtab"))
      .join(codes(spark, indexDir), "cell")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", Knn.adcExpr)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }
}
