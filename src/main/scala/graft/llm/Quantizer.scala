package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level IVF quantizer — the O(N) centroid-assignment shape shared by
  * every IVF-family operator (`llm_knn_ivf`, `llm_knn_ivfpq`,
  * `llm_embed_outliers`, `llm_index_health`, [[VectorIndex]]).
  *
  * Round 8 measured the previous flat assignment (nlist ≈ ⌈√N⌉ centroids,
  * every vector scored against all of them) superlinear at every scale
  * decade — N·√N cosine work is N^1.5 BY CONSTRUCTION, 122 s at the sf30
  * point. The fix is structural, not tuned:
  *
  *   - '''nlist is a fixed deployment constant''' ([[nlistCap]] = 64 at
  *     test scale; a 100 TB deployment raises it — 65 536 centroids × 64
  *     dims × 8 B ≈ 32 MB still broadcasts — without changing the shape).
  *     The ⌈√N⌉ floor applies only to corpora smaller than nlist² so tiny
  *     fixtures don't get more centroids than vectors.
  *   - '''assignment is two-level''' (the coarse-quantizer discipline of
  *     hierarchical IVF indexes — Babenko & Lempitsky's inverted
  *     multi-index shape, simplified to one residual-free refinement):
  *     the ⌈√nlist⌉ coarse centroids are every
  *     ⌈√nlist⌉-th fine centroid in cent_id order; a vector picks its
  *     nearest coarse cell, then refines over only that cell's fine
  *     centroids. Per-vector work is √nlist + ~√nlist cosines — CONSTANT
  *     in N once the cap binds — so assignment is O(N) end to end, and
  *     the probe join still shuffles nothing but (cell id).
  *
  * Every choice is deterministic and mirrored bit-for-bit by the DuckDB
  * oracles ([[cellsSql]]): uniform vec_id-modulus sampling for fine
  * centroids, rank-modulus sampling for coarse, cosine argmax with ties to
  * the smallest id at both levels (a strict `>` fold over an id-sorted
  * array ≡ `ORDER BY sim DESC, id`), and coarse centroids mapping to their
  * own group so no group is ever empty.
  */
object Quantizer {

  /** Fixed centroid-count cap — the memory-chosen deployment constant that
    * makes assignment O(N). */
  val nlistCap = 64L

  def nlistFor(n: Long): Long =
    math.min(math.max(2L, math.ceil(math.sqrt(n.toDouble)).toLong), nlistCap)

  /** Fine-centroid sampling modulus for a corpus of `n` vectors. */
  def centroidModFor(n: Long): Long = math.max(1L, n / nlistFor(n))

  /** The strict-max fold over an id-sorted (id, vec) array: scores each
    * entry ONCE (HOF lambdas are not CSE'd), keeps the first maximum —
    * ties resolve to the smallest id, matching `ORDER BY sim DESC, id`. */
  private def argmaxFold(arr: String, idField: String, vecField: String,
      ve: String): String = s"""
    aggregate(
      transform($arr, c -> named_struct('cid', c.$idField,
                                        'sim', vec_cosine($ve, c.$vecField))),
      named_struct('cid', CAST(-1 AS BIGINT), 'sim', CAST(-2.0 AS DOUBLE)),
      (acc, s) -> CASE WHEN s.sim > acc.sim THEN s ELSE acc END)"""

  /** Build the single-row broadcastable quantizer from a fine-centroid
    * table (cent_id, vc):
    *   - `coarse`: cent_id-sorted array of the coarse subset — every g-th
    *     fine centroid by rank, g = ⌈√|cents|⌉ (derived from the centroid
    *     table alone, so a frozen persisted index needs no extra params);
    *   - `groups`: map coarse id → cent_id-sorted array of the fine
    *     centroids assigned to it (coarse members map to themselves;
    *     others to their nearest coarse centroid, ties to smaller id).
    *
    * All windows run over ≤ nlist rows — single-partition by design. */
  def quantizer(cents: DataFrame): DataFrame = {
    val wAll = Window.partitionBy(lit(1))
    val ranked = cents
      .withColumn("rk", row_number().over(Window.orderBy("cent_id")) - 1)
      .withColumn("g",
        greatest(lit(1L), ceil(sqrt(count(lit(1)).over(wAll))).cast("long")))
      .withColumn("is_coarse", col("rk") % col("g") === 0)
    val coarseArr = ranked.filter(col("is_coarse"))
      .select(col("cent_id").as("gid"), col("vc").as("gv"))
      .agg(sort_array(collect_list(struct(col("gid"), col("gv")))).as("coarse"))
    val fgrp = ranked.crossJoin(broadcast(coarseArr))
      .withColumn("grp", when(col("is_coarse"), col("cent_id"))
        .otherwise(expr(argmaxFold("coarse", "gid", "gv", "vc") + ".cid")))
      .select(col("grp"), col("cent_id"), col("vc"))
    fgrp.groupBy("grp")
      .agg(sort_array(collect_list(struct(col("cent_id"), col("vc")))).as("members"))
      .agg(map_from_entries(sort_array(collect_list(
        struct(col("grp"), col("members"))))).as("groups"))
      .crossJoin(coarseArr)
      .select(col("coarse"), col("groups"))
  }

  /** Assign each row of `vecs` (must carry `ve`) to its two-level cell.
    * Adds `cent_id` and `cent_cosine`; one shuffle-free map pass against
    * the broadcast quantizer row. */
  def assign(vecs: DataFrame, quant: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(quant))
      .withColumn("gid", expr(argmaxFold("coarse", "gid", "gv", "ve") + ".cid"))
      .withColumn("best",
        expr(argmaxFold("element_at(groups, gid)", "cent_id", "vc", "ve")))
      .withColumn("cent_id", col("best.cid"))
      .withColumn("cent_cosine", col("best.sim"))
      .drop("coarse", "groups", "gid", "best")

  /** How many coarse cells a query walks before ranking fine probes — a
    * corpus vector near a coarse boundary can be quantized into the
    * "other" cell, so probing one coarse cell measurably loses recall
    * (0.94 vs the 0.95 KnnSpec gate on the planted corpus); two restores
    * it. The multi-coarse probe is the standard IMI discipline. */
  val coarseProbe = 2

  /** Probe: the `nprobe` nearest fine centroids within each query's
    * [[coarseProbe]] nearest coarse cells — the probe side walks the same
    * quantizer as assignment, so a co-located vector's cell is always
    * probeable. Queries must carry (query_id, vq); output
    * (query_id, vq, cent_id). */
  def probes(queries: DataFrame, quant: DataFrame, nprobe: Int): DataFrame = {
    val wG = Window.partitionBy("query_id")
      .orderBy(col("gsim").desc, col("gid"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("sim").desc, col("cent_id"))
    queries.crossJoin(broadcast(quant))
      .select(col("query_id"), col("vq"), col("groups"),
        explode(col("coarse")).as("c"))
      .withColumn("gid", col("c.gid"))
      .withColumn("gsim", expr("vec_cosine(vq, c.gv)"))
      .withColumn("gr", row_number().over(wG))
      .filter(col("gr") <= coarseProbe)
      .select(col("query_id"), col("vq"),
        explode(expr("element_at(groups, gid)")).as("f"))
      .withColumn("cent_id", col("f.cent_id"))
      .withColumn("sim", expr("vec_cosine(vq, f.vc)"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nprobe)
      .select(col("query_id"), col("vq"), col("cent_id"))
  }

  // -------------------------------------------------------------------
  // DuckDB oracle mirrors. `cos(a, b)` must be the engine-congruent cosine
  // SQL (Knn.cosSql). The fragments assume a prior CTE `base(vec_id, ve)`.
  // -------------------------------------------------------------------

  /** CTE chain `nl, sm, cents, gp, crs, fgrp` — the quantizer structure. */
  def quantizerSql(cos: (String, String) => String,
      base: String = "base"): String = s"""
    nl AS (
      SELECT least(greatest(2, CAST(ceil(sqrt(count(*))) AS BIGINT)), $nlistCap)
               AS nlist,
             count(*) AS n
      FROM $base),
    sm AS (SELECT greatest(1, n // nlist) AS m FROM nl),
    cents AS (
      SELECT vec_id AS cent_id, ve AS vc
      FROM $base WHERE vec_id % (SELECT m FROM sm) = 0),
    gp AS (SELECT greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS g
           FROM cents),
    crs AS (
      SELECT cent_id AS gid, vc AS gv FROM (
        SELECT cent_id, vc, row_number() OVER (ORDER BY cent_id) - 1 AS rk
        FROM cents)
      WHERE rk % (SELECT g FROM gp) = 0),
    fgrp AS (
      SELECT cent_id, vc, cent_id AS grp
      FROM cents WHERE cent_id IN (SELECT gid FROM crs)
      UNION ALL
      SELECT cent_id, vc, gid AS grp FROM (
        SELECT f.cent_id, f.vc, c.gid,
               row_number() OVER (PARTITION BY f.cent_id
                                  ORDER BY ${cos("f.vc", "c.gv")} DESC,
                                           c.gid) AS r
        FROM cents f, crs c
        WHERE f.cent_id NOT IN (SELECT gid FROM crs))
      WHERE r = 1)"""

  /** CTE chain `vgrp, cells`: every base vector's two-level cell (with its
    * similarity) — append after [[quantizerSql]]. */
  def cellsSql(cos: (String, String) => String,
      base: String = "base"): String = s"""
    vgrp AS (
      SELECT vec_id, ve, gid FROM (
        SELECT b.vec_id, b.ve, c.gid,
               row_number() OVER (PARTITION BY b.vec_id
                                  ORDER BY ${cos("b.ve", "c.gv")} DESC,
                                           c.gid) AS r
        FROM $base b, crs c)
      WHERE r = 1),
    cells AS (
      SELECT vec_id, ve, cent_id, sim AS cent_cosine FROM (
        SELECT v.vec_id, v.ve, f.cent_id, ${cos("v.ve", "f.vc")} AS sim,
               row_number() OVER (PARTITION BY v.vec_id
                                  ORDER BY ${cos("v.ve", "f.vc")} DESC,
                                           f.cent_id) AS r
        FROM vgrp v JOIN fgrp f ON f.grp = v.gid)
      WHERE r = 1)"""

  /** CTE chain `qgrp, probes`: per-query nprobe nearest fine centroids
    * within the query's [[coarseProbe]] nearest coarse cells. `qCte` must
    * provide (query_id, vq). */
  def probesSql(cos: (String, String) => String, nprobe: Int,
      qCte: String = "q"): String = s"""
    qgrp AS (
      SELECT query_id, vq, gid FROM (
        SELECT q.query_id, q.vq, c.gid,
               row_number() OVER (PARTITION BY q.query_id
                                  ORDER BY ${cos("q.vq", "c.gv")} DESC,
                                           c.gid) AS r
        FROM $qCte q, crs c)
      WHERE r <= $coarseProbe),
    probes AS (
      SELECT query_id, vq, cent_id FROM (
        SELECT g.query_id, g.vq, f.cent_id,
               row_number() OVER (PARTITION BY g.query_id
                                  ORDER BY ${cos("g.vq", "f.vc")} DESC,
                                           f.cent_id) AS r
        FROM qgrp g JOIN fgrp f ON f.grp = g.gid)
      WHERE r <= $nprobe)"""
}
