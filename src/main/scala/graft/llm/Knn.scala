package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over `embeddings.embedding`.
  *
  * Two plans for the same task:
  *   - `llm_knn_brute`: exact cosine top-k for a small query set against the
  *     full corpus. The query side is broadcast (it is small by
  *     construction), so the corpus streams through one pass with no
  *     shuffle-by-pair blowup; top-k per query is a window over the
  *     candidate rows. This is the correct 100 TB plan whenever
  *     |queries| × |corpus| work fits the cluster — and it is the
  *     recall-1.0 baseline the ANN path is measured against.
  *   - `llm_knn_lsh`: the scale path — seeded random-hyperplane LSH
  *     ([[VectorOps.lshCodes]]) bucket-joins queries to corpus candidates
  *     (shuffle on (table, code) — never all pairs), then scores exact
  *     cosine on candidates only. ANN retrieves *near* neighbors; the
  *     driver's embeddings are uniform noise (no near neighbors exist), so
  *     KnnSpec measures recall on a planted-neighbor corpus where the true
  *     top-k are genuinely close — the workload ANN exists for.
  *
  * The driver's fixtures are 64-dim; the expressions take dims as a
  * parameter where it matters.
  */
object Knn extends QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    // Fanout (guide §2.5): every consumer does per-vector CPU (cosine
    // folds, quantizer assignment, PQ encoding) and the fixture scan is
    // one row group — llm_knn_ivfpq's assignment stage measured 1.5 s on
    // ONE task at sf0.1. Widen the narrow projection (no-op at scale).
    graft.api.Fanout.widen(
      Tables.load(s, dir, "embeddings")
        .withColumn("ve", VectorOps.asDouble("embedding"))
        .select(col("vec_id"), col("ve")))

  /** Exact top-k for queries (vec_id < 20) over the full corpus. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("query_id"), col("ve").as("vq")))
    val scored = corpus.join(q, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", VectorOps.cosine("vq", "ve"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("vec_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"), col("rank"))
  }

  /** LSH candidates → exact cosine → top-k (rows bounded by bucket sizes). */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    def coded(df: DataFrame, idAs: String, veAs: String) =
      VectorOps.lshCoded(df.select(col("vec_id"), col("ve")))
        .select(col("vec_id").as(idAs), col("ve").as(veAs), col("t"), col("code"))
    val cand = coded(queries, "query_id", "vq")
      .join(coded(corpus, "neighbor_id", "vn"), Seq("t", "code"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "vq", "neighbor_id", "vn").distinct()
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cand
      .withColumn("cosine", VectorOps.cosine("vq", "vn"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** IVF-flat ANN: the corpus is partitioned into inverted lists by
    * two-level quantizer cell ([[Quantizer]]); a query walks the same
    * quantizer and probes the `nprobe` nearest lists inside its coarse
    * cell, rescoring exactly within them. Fine centroids are a
    * deterministic uniform sample of the corpus (`vec_id % sampleMod ==
    * 0`) — the standard bootstrap before Lloyd refinement, reproducible
    * cross-engine.
    *
    * Scale shape (the part that matters at 100 TB):
    *   - assignment is ONE shuffle-free map pass against the broadcast
    *     quantizer row, √nlist + ~√nlist cosines per vector — O(N) total
    *     for the fixed nlist cap (the round-8 flat fold was N·nlist =
    *     N^1.5 with √N sizing: 122 s at sf30, e ≈ 1.2–1.5 per decade;
    *     this shape re-measures sublinear);
    *   - the probe join shuffles only (cell id) — each query reads nprobe
    *     inverted lists, never the whole corpus;
    *   - ties (equal cosine) resolve to the smallest centroid id at every
    *     level, in both the fold (id-sorted array, strict `>`) and the
    *     oracle's window (`ORDER BY sim DESC, cent_id`). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nprobe: Int,
      sampleMod: Long): DataFrame = {
    val cents = corpus.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("cent_id"), col("ve").as("vc"))
    val quant = Quantizer.quantizer(cents)
    val assigned = Quantizer.assign(corpus, quant)
      .select(col("cent_id"), col("vec_id"), col("ve"))
    val probes = Quantizer.probes(
      queries.select(col("vec_id").as("query_id"), col("ve").as("vq")),
      quant, nprobe)
    val wRank = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    // Explicit broadcast: probes is |queries|·nprobe rows (small by the
    // documented contract) but sits behind a window over a join, so its
    // size estimate is unusable — left to itself the planner BIMODALLY
    // flips between broadcasting it (measured 4.7 s at sf10) and
    // shuffling the entire vector-carrying corpus on cent_id (24.8 s).
    // The inverted-list probe must stream the corpus side map-only.
    broadcast(probes).join(assigned, "cent_id")
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cosine", VectorOps.cosine("vq", "ve"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** Squared-L2 distance between 8-dim subvectors `s` of two 64-dim arrays
    * — an ordered left-to-right fold (j ascending), so the oracle's
    * `list_reduce` over the same `generate_series` order is bit-identical. */
  private[llm] def subdistExpr(v1: String, v2: String, sExpr: String): String =
    s"""aggregate(sequence(1, 8), CAST(0.0 AS DOUBLE),
        (a, j) -> a + (element_at($v1, ($sExpr) * 8 + j) - element_at($v2, ($sExpr) * 8 + j))
                    * (element_at($v1, ($sExpr) * 8 + j) - element_at($v2, ($sExpr) * 8 + j)))"""

  /** Product-quantization ANN (PQ + asymmetric distance, Jégou et al.
    * 2011): 64-dim vectors are split into m=8 subspaces of 8 dims; each
    * subspace has a 16-entry codebook (a deterministic uniform sample of
    * the corpus, the same bootstrap as the IVF centroids, reproducible
    * cross-engine), and a vector is stored as 8 nibbles — the per-subspace
    * nearest codeword ids. Search computes the asymmetric distance
    * ADC(q, x) = Σ_s ‖q_s − codeword(x.code_s)‖²: the query stays exact,
    * only the corpus side is quantized.
    *
    * Why this is THE 100 TB shape: the scored pass streams the CODES table
    * — 8 small ints per vector instead of 64 floats (32× less I/O and
    * memory than the brute scan; 4 bits/subspace in a packed layout) —
    * against broadcast queries and a broadcast 16-row codebook, map-only
    * until the per-query top-k. Encoding is one shuffle-free corpus pass
    * against the broadcast codebook (the IVF assignment shape). Everything
    * is deterministic arithmetic in a fixed fold order, so the DuckDB
    * oracle rebuilds the same codebook, codes, AND distances bit-for-bit.
    *
    * Ties: codeword argmin keeps the SMALLEST codeword id (strict `<` over
    * the c-sorted array); final ranking orders (adc asc, neighbor_id). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val n = corpus.count()
    val mod = math.max(1L, n / 16)
    // 16 codewords: every (n div 16)-th vec_id, first 16 in id order.
    val wCb = Window.orderBy("vec_id")
    val cb = corpus.filter(col("vec_id") % mod === 0)
      .withColumn("c", row_number().over(wCb) - 1)
      .filter(col("c") < 16)
      .select(col("c"), col("ve").as("vc"))
    val cbArr = cb.agg(sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
    // Encode: per subspace, fold the codeword array for the strict-min
    // distance (distances computed ONCE per codeword — HOF lambdas are not
    // CSE'd, so the (c, d) pairs are materialized before the argmin fold).
    // Native codegen encode (round 15, guide §4): the HOF argmin fold ran
    // interpreted per vector; pq_encode is the identical program —
    // strict-min, c-ascending ties — as one tight loop (PqOpsSpec).
    val coded = corpus.crossJoin(broadcast(cbArr))
      .withColumn("code", expr("pq_encode(ve, cb)"))
      .select(col("vec_id"), col("code"))
    // ADC scan: per-query DISTANCE TABLES (the asymmetric-distance trick —
    // D[s·16+c] = ‖q_s − codeword c of s‖², 128 doubles per query,
    // computed once) make scoring 8 array lookups + adds per candidate
    // instead of 64 multiplies. Same per-(s,c) values, same s-ascending
    // sum — bit-identical to the naive spelling, measured ~5× faster.
    val wR = Window.partitionBy("query_id").orderBy(col("adc").asc, col("neighbor_id"))
    coded.join(broadcast(pqDistTables(queries, cbArr)),
        col("vec_id") =!= col("query_id"))
      .withColumn("adc", adcExpr)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("adc"))
      .withColumn("rank", row_number().over(wR))
      .filter(col("rank") <= k)
  }

  /** (query_id, dtab): flattened 8×16 subspace-distance table per query,
    * s-major, within-s ordered by codeword id (the broadcast side of every
    * ADC scan). */
  private[llm] def pqDistTables(queries: DataFrame, cbArr: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("ve").as("vq"))
      .crossJoin(broadcast(cbArr))
      .withColumn("dtab", expr(s"""
        flatten(transform(sequence(0, 7), s ->
          transform(cb, w -> ${subdistExpr("vq", "w.vc", "s")})))"""))
      .select(col("query_id"), col("dtab"))

  /** ADC distance from a `dtab` row and a `code` column. */
  private[llm] def adcExpr: org.apache.spark.sql.Column =
    // Native codegen ADC (round 15): same s-ascending lookup-add fold as
    // the historical aggregate spelling, one tight loop (PqOpsSpec).
    expr("pq_adc(dtab, code)")

  /** Corpus with 10 planted near neighbors per vector (dim i nudged by
    * +0.02, ids offset by i·10⁶) — gives ANN something real to retrieve. */
  def plantedCorpus(base: DataFrame): DataFrame =
    base.unionAll(
      base
        .select(col("vec_id"), col("ve"), explode(expr("sequence(1, 10)")).as("i"))
        .select(
          (col("vec_id") + col("i") * 1000000L).as("vec_id"),
          expr("transform(ve, (x, j) -> CASE WHEN j = i - 1 THEN x + 0.02 ELSE x END)")
            .as("ve")))

  /** Oracle-side cosine, formulated exactly like [[graft.functions.VecCosine]]
    * (ordered left-to-right list_reduce; zero/empty vectors score 0.0) so
    * scores are bit-identical. */
  private def cosSql(a: String, b: String): String = {
    def norm2(v: String) = s"""list_reduce(list_transform(generate_series(1, 64),
           i -> $v[i] * $v[i]), (x, y) -> x + y)"""
    s"""
    CASE WHEN ${norm2(a)} = 0 OR ${norm2(b)} = 0 THEN 0.0
         ELSE list_reduce(list_transform(generate_series(1, 64),
                i -> $a[i] * $b[i]), (x, y) -> x + y)
              / (sqrt(${norm2(a)}) * sqrt(${norm2(b)})) END"""
  }

  def queries: Map[String, QuerySpec] = Map(
    // Exact brute-force cosine top-10, DuckDB-checked.
    "llm_knn_brute" -> QuerySpec(
      fn = (s, dir) => {
        val corpus = emb(s, dir)
        bruteTopK(corpus, corpus.filter(col("vec_id") < 20), k = 10)
      },
      oracle = Some(s"""
        WITH corpus AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${cosSql("q.ve", "c.ve")} AS cosine
          FROM corpus q JOIN corpus c ON q.vec_id < 20 AND c.vec_id <> q.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10"""),
      bench = true),

    // ------------------------------------------------------------------
    // Filtered vector search (the vector-db staple): top-k among ONLY the
    // corpus rows passing a metadata predicate (label = 2). The filter
    // applies BEFORE scoring — pushed to the parquet scan, so the pass
    // streams |filtered corpus| rows, not |corpus| — which is also why
    // pre-filtering beats post-filtering a k-larger unfiltered result:
    // post-filtering can return < k rows when a query's neighbors cluster
    // in the excluded labels.
    "llm_knn_filtered" -> QuerySpec(
      fn = (s, dir) => {
        val base = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
        bruteTopK(
          base.filter(col("label") === 2).select(col("vec_id"), col("ve")),
          base.filter(col("vec_id") < 20).select(col("vec_id"), col("ve")),
          k = 10)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id, label,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 ${cosSql("q.ve", "c.ve")} AS cosine
          FROM base q JOIN base c
            ON q.vec_id < 20 AND c.label = 2 AND c.vec_id <> q.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10""")),

    // ANN top-10 on the planted-neighbor corpus (recall pinned by KnnSpec).
    // Differential-checked bit-for-bit: the MD5-Rademacher hyperplanes
    // ([[graft.functions.HyperplaneCodesMd5]]) are reconstructible in
    // DuckDB (`md5_number_upper` low bit → ±1, ordered list_reduce dot
    // products), so the oracle rebuilds the SAME buckets, candidates, and
    // ranking — not just a ground-truth approximation.
    "llm_knn_lsh" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        lshTopK(plantedCorpus(base), base.filter(col("vec_id") < 20), k = 10)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        planted AS (
          SELECT vec_id, ve FROM base
          UNION ALL
          SELECT vec_id + i * 1000000,
                 [CASE WHEN j = i THEN ve[j] + 0.02 ELSE ve[j] END
                  for j in generate_series(1, 64)]
          FROM base, generate_series(1, 10) g(i)),
        q AS (SELECT vec_id, ve FROM base WHERE vec_id < 20),
        w AS (
          SELECT t, j,
                 list(CASE WHEN md5_number_upper('hp:'||t||':'||j||':'||i) & 1 = 1
                           THEN 1.0 ELSE -1.0 END ORDER BY i) AS wv
          FROM generate_series(0, 3) gt(t), generate_series(0, 15) gj(j),
               generate_series(0, 63) gi(i)
          GROUP BY t, j),
        ccodes AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN dot >= 0 THEN (1 << (15 - j)) ELSE 0 END) AS INT)
                   AS code
          FROM (SELECT p.vec_id, w.t, w.j,
                       list_reduce(list_transform(generate_series(1, 64),
                           i -> p.ve[i] * w.wv[i]), (a, b) -> a + b) AS dot
                FROM planted p, w)
          GROUP BY vec_id, t),
        qcodes AS (
          SELECT vec_id, t,
                 CAST(SUM(CASE WHEN dot >= 0 THEN (1 << (15 - j)) ELSE 0 END) AS INT)
                   AS code
          FROM (SELECT q.vec_id, w.t, w.j,
                       list_reduce(list_transform(generate_series(1, 64),
                           i -> q.ve[i] * w.wv[i]), (a, b) -> a + b) AS dot
                FROM q, w)
          GROUP BY vec_id, t),
        cand AS (
          SELECT DISTINCT qc.vec_id AS query_id, cc.vec_id AS neighbor_id
          FROM qcodes qc JOIN ccodes cc ON qc.t = cc.t AND qc.code = cc.code
          WHERE qc.vec_id <> cc.vec_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
                 ${cosSql("q.ve", "p.ve")} AS cosine
          FROM cand
          JOIN q ON q.vec_id = cand.query_id
          JOIN planted p ON p.vec_id = cand.neighbor_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10""")),

    // IVF-flat ANN (nprobe=4) — deterministic end to end, so the oracle
    // rebuilds the same cells, probes, and ranking. Sizing and assignment
    // live in [[Quantizer]]: nlist = min(⌈√N⌉, 64) fine centroids (the cap
    // is the deployment constant that bounds per-vector assignment work —
    // the uncapped ⌈√N⌉ fold was N^1.5 by construction, 122 s at sf30),
    // assigned through a coarse/fine two-level walk mirrored CTE-for-CTE
    // by the oracle. Both engines derive every modulus from the same
    // count, so the gate still hash-matches.
    // ------------------------------------------------------------------
    // Embedding-space outlier detection: the 20 vectors LEAST similar to
    // their own assigned centroid — the density-based noise signal curation
    // runs beside SemDeDup (too close to a neighbor → duplicate; too far
    // from every cluster → noise/outlier, prune or audit). Same [[Quantizer]]
    // sizing and shuffle-free broadcast two-level assignment as
    // llm_knn_ivf (one O(N) corpus pass), then ONE TakeOrderedAndProject
    // ascending — no shuffle beyond the scan.
    "llm_embed_outliers" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        val n = base.count()
        val cents = base.filter(col("vec_id") % Quantizer.centroidModFor(n) === 0)
          .select(col("vec_id").as("cent_id"), col("ve").as("vc"))
        Quantizer.assign(base, Quantizer.quantizer(cents))
          .select(col("vec_id"), col("cent_id"), col("cent_cosine"))
          .orderBy(col("cent_cosine").asc, col("vec_id"))
          .limit(20)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        ${Quantizer.quantizerSql(cosSql)},
        ${Quantizer.cellsSql(cosSql)}
        SELECT vec_id, cent_id, cent_cosine
        FROM cells ORDER BY cent_cosine ASC, vec_id LIMIT 20""")),

    "llm_knn_ivf" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        val n = base.count()
        ivfTopK(base, base.filter(col("vec_id") < 20), k = 10, nprobe = 4,
          sampleMod = Quantizer.centroidModFor(n))
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        ${Quantizer.quantizerSql(cosSql)},
        ${Quantizer.cellsSql(cosSql)},
        q AS (SELECT vec_id AS query_id, ve AS vq FROM base WHERE vec_id < 20),
        ${Quantizer.probesSql(cosSql, nprobe = 4)},
        scored AS (
          SELECT p.query_id, l.vec_id AS neighbor_id,
                 ${cosSql("p.vq", "l.ve")} AS cosine
          FROM probes p JOIN cells l ON p.cent_id = l.cent_id
          WHERE p.query_id <> l.vec_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10""")),

    // Product-quantization ANN: codes + asymmetric distance (see
    // [[pqTopK]]). Deterministic end to end — the oracle rebuilds the SAME
    // codebook (uniform vec_id sample), the SAME 8-nibble codes (strict-min
    // argmin, ties to the smaller codeword id), and bit-identical ADC
    // distances (every fold left-to-right in the same index order).
    "llm_knn_pq" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        pqTopK(base, base.filter(col("vec_id") < 20), k = 10)
      },
      oracle = Some("""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        cmod AS (SELECT greatest(1, count(*) // 16) AS m FROM base),
        cb AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, ve AS vc
          FROM base WHERE vec_id % (SELECT m FROM cmod) = 0
          QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
        sub AS (
          SELECT b.vec_id, s.s, cb.c,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM base b
          CROSS JOIN generate_series(0, 7) s(s)
          CROSS JOIN cb),
        codes AS (
          SELECT vec_id, list(c ORDER BY s) AS code FROM (
            SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d ASC, c) AS r
            FROM sub) WHERE r = 1 GROUP BY vec_id),
        q AS (SELECT vec_id AS query_id, ve AS vq FROM base WHERE vec_id < 20),
        parts AS (
          SELECT q.query_id, cd.vec_id AS neighbor_id, s.s,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (q.vq[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (q.vq[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM codes cd
          CROSS JOIN q
          CROSS JOIN generate_series(0, 7) s(s)
          JOIN cb ON cb.c = cd.code[s.s + 1]
          WHERE q.query_id <> cd.vec_id),
        scored AS (
          SELECT query_id, neighbor_id,
                 list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS adc
          FROM parts GROUP BY query_id, neighbor_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc ASC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, adc, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10""")),

    // IVF-PQ through the PERSISTED index ([[VectorIndex]]): build writes
    // centroids/codebook/codes to disk, query probes 4 cells and ADC-ranks
    // the probed CODES — the raw vectors are not read at query time. The
    // oracle rebuilds the identical index state in SQL (same [[Quantizer]]
    // sizing + two-level cells, same 16-codeword bootstrap, same tie
    // rules), so the full
    // build→persist→probe→rank lifecycle is hash-checked bit-for-bit.
    "llm_knn_ivfpq" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        val idx = graft.api.Scratch.dir("vecindex")
        VectorIndex.build(s, base, idx)
        VectorIndex.query(s, idx, base.filter(col("vec_id") < 20), k = 10, nprobe = 4)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        ${Quantizer.quantizerSql(cosSql)},
        ${Quantizer.cellsSql(cosSql)},
        cmod AS (SELECT greatest(1, count(*) // 16) AS m FROM base),
        cb AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, ve AS vc
          FROM base WHERE vec_id % (SELECT m FROM cmod) = 0
          QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
        sub AS (
          SELECT b.vec_id, s.s, cb.c,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM base b
          CROSS JOIN generate_series(0, 7) s(s)
          CROSS JOIN cb),
        codes AS (
          SELECT vec_id, list(c ORDER BY s) AS code FROM (
            SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d ASC, c) AS r
            FROM sub) WHERE r = 1 GROUP BY vec_id),
        q AS (SELECT vec_id AS query_id, ve AS vq FROM base WHERE vec_id < 20),
        ${Quantizer.probesSql(cosSql, nprobe = 4)},
        parts AS (
          SELECT p.query_id, cl.vec_id AS neighbor_id, s.s,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (p.vq[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (p.vq[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM probes p
          JOIN cells cl ON cl.cent_id = p.cent_id
          JOIN codes cd ON cd.vec_id = cl.vec_id
          CROSS JOIN generate_series(0, 7) s(s)
          JOIN cb ON cb.c = cd.code[s.s + 1]
          WHERE p.query_id <> cl.vec_id),
        scored AS (
          SELECT query_id, neighbor_id,
                 list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS adc
          FROM parts GROUP BY query_id, neighbor_id),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc ASC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, neighbor_id, adc, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 10""")),

    // Index health: per-IVF-cell member count + mean PQ reconstruction
    // error (each vector's ADC distance to its own code) — the staleness
    // signal that schedules an index re-build. Means in exact DECIMAL, so
    // the report is partitioning-independent and hash-checkable.
    "llm_index_health" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir)
        val n = base.count()
        val cmod = Quantizer.centroidModFor(n)
        val cbmod = math.max(1L, n / 16)
        val cents = base.filter(col("vec_id") % cmod === 0)
          .select(col("vec_id").as("cent_id"), col("ve").as("vc"))
        val wCb = Window.orderBy("vec_id")
        val cb = base.filter(col("vec_id") % cbmod === 0)
          .withColumn("c", row_number().over(wCb) - 1)
          .filter(col("c") < 16)
          .select(col("c"), col("ve").as("vc"))
        VectorIndex.health(base, cents, cb)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        ${Quantizer.quantizerSql(cosSql)},
        ${Quantizer.cellsSql(cosSql)},
        cmod AS (SELECT greatest(1, count(*) // 16) AS m FROM base),
        cb AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, ve AS vc
          FROM base WHERE vec_id % (SELECT m FROM cmod) = 0
          QUALIFY row_number() OVER (ORDER BY vec_id) <= 16),
        sub AS (
          SELECT b.vec_id, s.s, cb.c,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM base b
          CROSS JOIN generate_series(0, 7) s(s)
          CROSS JOIN cb),
        codes AS (
          SELECT vec_id, list(c ORDER BY s) AS code FROM (
            SELECT vec_id, s, c,
                   row_number() OVER (PARTITION BY vec_id, s
                                      ORDER BY d ASC, c) AS r
            FROM sub) WHERE r = 1 GROUP BY vec_id),
        parts AS (
          SELECT cl.cent_id AS cell, b.vec_id, s.s,
                 list_reduce(list_transform(generate_series(1, 8),
                   j -> (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])
                      * (b.ve[s.s * 8 + j] - cb.vc[s.s * 8 + j])),
                   (x, y) -> x + y) AS d
          FROM base b
          JOIN cells cl ON cl.vec_id = b.vec_id
          JOIN codes cd ON cd.vec_id = b.vec_id
          CROSS JOIN generate_series(0, 7) s(s)
          JOIN cb ON cb.c = cd.code[s.s + 1]),
        errs AS (
          SELECT cell, vec_id,
                 list_reduce(list(d ORDER BY s), (x, y) -> x + y) AS err
          FROM parts GROUP BY cell, vec_id)
        SELECT cell, COUNT(*) AS n,
               CAST(SUM(CAST(err AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
                 AS mean_err
        FROM errs GROUP BY cell""")))
}
