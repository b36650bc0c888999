package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-adjacent curation operators over `documents` + `embeddings`
  * (the two tables align 1:1 on doc_id = vec_id):
  *
  *   - `llm_rrf_hybrid`: hybrid lexical+vector retrieval — BM25 top-k and
  *     cosine-kNN top-k fused by Reciprocal Rank Fusion. The production
  *     RAG-retrieval shape: each leg is a bounded top-k
  *     (TakeOrderedAndProject — no global sort), the fusion is a full-outer
  *     join of two ≤k-row lists, so corpus size only enters through the
  *     two scan legs.
  *   - `llm_hard_negatives`: contrastive-training negative mining — for
  *     each query vector, the most-cosine-similar corpus vectors with a
  *     DIFFERENT label. Same plan family as `llm_knn_brute`: broadcast
  *     query side, one corpus pass, per-query window top-k; the label
  *     inequality rides the join condition so same-label pairs are never
  *     scored.
  *   - `llm_prototypicality`: embedding-space pruning (the SSL-prototype /
  *     SemDeDup-adjacent signal) — per-label centroids (exact-decimal
  *     dimension means, so the reduction is order-independent), then each
  *     vector's cosine to its own label's centroid; the least-prototypical
  *     vectors per label are the pruning candidates. Centroid state is
  *     |labels|·dims rows aggregated once and broadcast back; the scoring
  *     pass is shuffle-free.
  *
  * Numeric discipline (hash-identical to the DuckDB oracle at any
  * parallelism): centroid means accumulate in DECIMAL ([[graft.api.Exact]]),
  * cosines are the ordered-fold [[graft.functions.VecCosine]], RRF scores
  * are IEEE double expressions spelled identically on both engines, and all
  * rankings break ties on the id column.
  */
object Retrieval extends QueryModule {

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .withColumn("ve", VectorOps.asDouble("embedding"))

  /** Oracle-side cosine identical to [[graft.functions.VecCosine]] (ordered
    * left-to-right list_reduce; zero vectors score 0.0) — same spelling as
    * the Knn oracles. */
  private def cosSql(a: String, b: String): String = {
    def norm2(v: String) = s"""list_reduce(list_transform(generate_series(1, 64),
           i -> $v[i] * $v[i]), (x, y) -> x + y)"""
    s"""
    CASE WHEN ${norm2(a)} = 0 OR ${norm2(b)} = 0 THEN 0.0
         ELSE list_reduce(list_transform(generate_series(1, 64),
                i -> $a[i] * $b[i]), (x, y) -> x + y)
              / (sqrt(${norm2(a)}) * sqrt(${norm2(b)})) END"""
  }

  /** BM25 scores for the fixed probe terms (spark, query, vector) — the
    * same scoring contract as `llm_text_bm25` (rational Robertson idf, no
    * log; k1=1.2, b=0.75): one corpus scan for per-doc tf/dl, a single-row
    * stats broadcast, top-`k` via TakeOrderedAndProject. */
  def bm25Top(docs: DataFrame, k: Int): DataFrame = {
    val d = docs
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .select(
        col("doc_id"),
        size(col("toks")).as("dl"),
        expr("size(filter(toks, t -> t = 'spark'))").as("tf_spark"),
        expr("size(filter(toks, t -> t = 'query'))").as("tf_query"),
        expr("size(filter(toks, t -> t = 'vector'))").as("tf_vector"))
    val stats = d.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"),
      sum(when(col("tf_spark") > 0, 1L).otherwise(0L)).as("df_spark"),
      sum(when(col("tf_query") > 0, 1L).otherwise(0L)).as("df_query"),
      sum(when(col("tf_vector") > 0, 1L).otherwise(0L)).as("df_vector"))
    def termScore(tf: Column, df: Column): Column =
      ((col("n_docs") - df + lit(0.5)) / (df + lit(0.5))) *
        ((tf * lit(2.2)) /
          (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
    d.crossJoin(broadcast(stats))
      .select(col("doc_id"),
        ((termScore(col("tf_spark"), col("df_spark")) +
          termScore(col("tf_query"), col("df_query"))) +
          termScore(col("tf_vector"), col("df_vector"))).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
  }

  /** Cosine top-`k` of the corpus against one probe vector (`vec_id` =
    * `probeId`), excluding the probe itself. */
  def vectorTop(corpus: DataFrame, probeId: Long, k: Int): DataFrame = {
    val qv = broadcast(corpus.filter(col("vec_id") === probeId)
      .select(col("ve").as("vq")))
    corpus.filter(col("vec_id") =!= probeId).crossJoin(qv)
      .withColumn("cosine", VectorOps.cosine("vq", "ve"))
      .select(col("vec_id"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  /** RRF fusion of the two ≤k-row legs: score = Σ_leg 1/(c + rank), with a
    * leg contributing 0 where the document is absent. c = 60 (the constant
    * from the original Cormack/Clarke/Buettcher formulation). */
  def rrfFuse(bm25Leg: DataFrame, vecLeg: DataFrame, topN: Int): DataFrame = {
    val bw = Window.orderBy(col("bm25").desc, col("doc_id"))
    val vw = Window.orderBy(col("cosine").desc, col("vec_id"))
    val b = bm25Leg.withColumn("bm25_rank", row_number().over(bw))
      .select(col("doc_id"), col("bm25_rank"))
    val v = vecLeg.withColumn("vec_rank", row_number().over(vw))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    b.join(v, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(60) + col("bm25_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("vec_rank")), lit(0.0)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(topN)
  }

  /** Hard negatives: top-`k` most-similar corpus vectors with a different
    * label, per query vector. Query side broadcast; one corpus pass. */
  def hardNegatives(base: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("label").as("qlabel"),
      col("ve").as("vq")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    base.join(q, col("label") =!= col("qlabel"))
      .withColumn("cosine", VectorOps.cosine("vq", "ve"))
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
        col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-label centroids (exact-decimal dimension means) + each vector's
    * cosine to its OWN label's centroid; rank 1 = least prototypical. */
  def prototypicality(base: DataFrame, k: Int): DataFrame = {
    val cents = base
      .select(col("label"), posexplode(col("ve")).as(Seq("i", "x")))
      .groupBy(col("label"), col("i"))
      .agg(graft.api.Exact.davg(col("x")).as("m"))
      .groupBy("label")
      .agg(expr("transform(sort_array(collect_list(struct(i, m))), s -> s.m)")
        .as("vc"))
    val w = Window.partitionBy("label").orderBy(col("cosine").asc, col("vec_id"))
    base.join(broadcast(cents), "label")
      .withColumn("cosine", VectorOps.cosine("ve", "vc"))
      .select(col("label"), col("vec_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Hybrid retrieval: BM25 top-100 ⊕ cosine-kNN top-100 (probe = doc 0's
    // embedding), Reciprocal Rank Fusion, top-50.
    "llm_rrf_hybrid" -> QuerySpec(
      fn = (s, dir) => {
        val docs = Tables.load(s, dir, "documents")
        val corpus = emb(s, dir).select(col("vec_id"), col("ve"))
        rrfFuse(bm25Top(docs, 100), vectorTop(corpus, 0L, 100), topN = 50)
      },
      oracle = Some(s"""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS dl,
                 CAST(len(list_filter(toks, t -> t = 'spark')) AS INT) AS tf_spark,
                 CAST(len(list_filter(toks, t -> t = 'query')) AS INT) AS tf_query,
                 CAST(len(list_filter(toks, t -> t = 'vector')) AS INT) AS tf_vector
          FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
                FROM documents)),
        st AS (
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
                 CAST(SUM(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_query,
                 CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
          FROM d),
        bleg AS (
          SELECT doc_id,
                 ((((n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
                   ((tf_spark * 2.2) /
                    (tf_spark + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) +
                   ((n_docs - df_query + 0.5) / (df_query + 0.5)) *
                   ((tf_query * 2.2) /
                    (tf_query + 1.2 * (0.25 + 0.75 * (dl / avgdl))))) +
                  ((n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
                  ((tf_vector * 2.2) /
                   (tf_vector + 1.2 * (0.25 + 0.75 * (dl / avgdl))))) AS bm25
          FROM d, st
          ORDER BY bm25 DESC, doc_id LIMIT 100),
        base AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        vleg AS (
          SELECT c.vec_id, ${cosSql("q.ve", "c.ve")} AS cosine
          FROM base c, (SELECT ve FROM base WHERE vec_id = 0) q
          WHERE c.vec_id <> 0
          ORDER BY cosine DESC, c.vec_id LIMIT 100),
        br AS (
          SELECT doc_id,
                 CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS INT)
                   AS bm25_rank
          FROM bleg),
        vr AS (
          SELECT vec_id AS doc_id,
                 CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS INT)
                   AS vec_rank
          FROM vleg)
        SELECT COALESCE(br.doc_id, vr.doc_id) AS doc_id,
               br.bm25_rank, vr.vec_rank,
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + br.bm25_rank), 0.0) +
               COALESCE(CAST(1.0 AS DOUBLE) / (60 + vr.vec_rank), 0.0)
                 AS rrf_score
        FROM br FULL OUTER JOIN vr ON br.doc_id = vr.doc_id
        ORDER BY rrf_score DESC, doc_id LIMIT 50"""),
      bench = true),

    // ------------------------------------------------------------------
    // Contrastive hard-negative mining: for query vectors (vec_id < 10),
    // the top-5 most-cosine-similar vectors with a DIFFERENT label.
    "llm_hard_negatives" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir).select(col("vec_id"), col("label"), col("ve"))
        hardNegatives(base, base.filter(col("vec_id") < 10), k = 5)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id, label,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        scored AS (
          SELECT q.vec_id AS query_id, q.label AS qlabel,
                 c.vec_id AS neighbor_id, c.label AS nlabel,
                 ${cosSql("q.ve", "c.ve")} AS cosine
          FROM base q JOIN base c ON q.vec_id < 10 AND c.label <> q.label),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cosine DESC, neighbor_id) AS rank
          FROM scored)
        SELECT query_id, qlabel, neighbor_id, nlabel, cosine,
               CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5""")),

    // ------------------------------------------------------------------
    // Prototypicality pruning: the 5 least-prototypical vectors per label
    // (lowest cosine to the label's exact-decimal centroid).
    "llm_prototypicality" -> QuerySpec(
      fn = (s, dir) => {
        val base = emb(s, dir).select(col("vec_id"), col("label"), col("ve"))
        prototypicality(base, k = 5)
      },
      oracle = Some(s"""
        WITH base AS (
          SELECT vec_id, label,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        dims AS (
          SELECT label, i,
                 CAST(SUM(CAST(ve[i] AS DECIMAL(30,6))) AS DOUBLE) / COUNT(ve[i])
                   AS m
          FROM base, generate_series(1, 64) g(i)
          GROUP BY label, i),
        cents AS (
          SELECT label, list(m ORDER BY i) AS vc FROM dims GROUP BY label),
        scored AS (
          SELECT b.label, b.vec_id, ${cosSql("b.ve", "c.vc")} AS cosine
          FROM base b JOIN cents c ON b.label = c.label),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY cosine ASC, vec_id) AS rank
          FROM scored)
        SELECT label, vec_id, cosine, CAST(rank AS INT) AS rank
        FROM ranked WHERE rank <= 5""")))
}
