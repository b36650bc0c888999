package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.DataFrame

import org.apache.spark.sql.functions._

/** In-engine model training: a Rocchio (nearest-centroid) text classifier
  * trained and evaluated entirely inside the engine — the workhorse
  * "cheap learned router" of production data pipelines (label a slice,
  * average its term vectors, assign everything by nearest centroid).
  *
  * Mechanics, all exact and 100 TB-shaped — the arithmetic is TOKEN-
  * SPARSE end to end (round-8 rework: the first version materialized a
  * dense 256-dim count vector per document with a filter scan per
  * dimension — O(dims·tokens) per doc, measured 90 s at sf0.1; the sparse
  * program below computes the identical numbers in O(tokens·classes) and
  * runs it in ~3 s):
  *   - tokens hash to 256 buckets (`md5_long(tok) & 255`, the DSIR
  *     hashing trick) in one codegen HOF pass, no shuffle;
  *   - training = per-class centroids WITHOUT per-doc vectors: the mean of
  *     per-doc bucket counts over a class is (total bucket occurrences in
  *     class) / (class doc count), so one token-level count shuffle —
  *     |classes|·dims rows of state — yields bit-identical centroid
  *     values to the dense per-doc formulation (integer totals are exact
  *     under any summation path);
  *   - inference: the centroid set (with precomputed norms) packs into
  *     ONE broadcast row; per document, dot(f, c) = Σ_tokens c[bucket(t)]
  *     — a fold over the token array in token order, no dense vector —
  *     and ‖f‖² = Σ runs² over the SORTED token array (run-length fold,
  *     exact integers); argmax via an array sort (tie-break:
  *     lexicographically smallest class). Shuffle-free on the corpus side
  *     (no explode, no per-doc window — a window spelling would shuffle
  *     corpus×classes rows);
  *   - evaluation: the (actual, predicted) confusion matrix, a
  *     |classes|² hash aggregate.
  *
  * Every number is either an exact integer or an IEEE expression spelled
  * identically in the DuckDB oracle (dot folds share the token order;
  * norm² terms are exact integers; centroid norms fold dimension-
  * ascending), so train → classify → evaluate is differential-checked
  * END-TO-END — a trained model whose entire lifecycle hash-matches a
  * second engine.
  *
  * Honest fixture note: the synthetic corpus carries NO text↔lang signal
  * (the lang column is assigned independently of the token stream —
  * verified: zero documents contain their language's marker stopwords),
  * so fixture accuracy is chance-level BY CONSTRUCTION; the oracle checks
  * the exact training/inference semantics, and `TrainingSpec` proves the
  * classifier actually learns (100% on a constructed separable corpus)
  * and that the sparse path reproduces the dense reference exactly.
  */
object Training extends QueryModule {

  val dims = 256

  /** (doc_id, label, toksh: hashed token buckets in token order). */
  def tokens(docsDf: DataFrame, labelCol: String): DataFrame = {
    docsDf
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .select(col("doc_id"), col(labelCol).as("label"),
        expr(s"transform(toks, t -> md5_long(t) & ${dims - 1})").as("toksh"))
  }

  /** REFERENCE dense feature builder — O(dims·tokens) per doc, kept for
    * TrainingSpec to pin the sparse path against; production paths never
    * materialize dense per-doc vectors. */
  def features(docsDf: DataFrame, labelCol: String): DataFrame =
    tokens(docsDf, labelCol).select(
      col("doc_id"), col("label"),
      expr(
        s"""transform(sequence(0, ${dims - 1}),
              i -> CAST(size(filter(toksh, h -> h = i)) AS DOUBLE))""").as("f"))

  /** Per-class centroids from token-level counts: one explode + count
    * shuffle (state = |classes|·dims rows), assembled into a dense vector
    * per class. Values are bit-identical to the dense per-doc mean: the
    * class total of an integer bucket count is the same integer whichever
    * way it is summed, and missing buckets mean 0/nd = 0.0. */
  def centroids(toks: DataFrame): DataFrame = {
    val nd = toks.groupBy("label").agg(count(lit(1)).as("nd"))
    val cnt = toks.select(col("label"), explode(col("toksh")).as("h"))
      .groupBy("label", "h").agg(count(lit(1)).as("cnt"))
    cnt.join(broadcast(nd), "label")
      .groupBy(col("label"), col("nd"))
      .agg(map_from_entries(sort_array(collect_list(struct(col("h"), col("cnt")))))
        .as("cm"))
      .select(col("label"),
        expr(s"""transform(sequence(0, ${dims - 1}),
             i -> CAST(coalesce(element_at(cm, CAST(i AS BIGINT)),
                                CAST(0 AS BIGINT)) AS DOUBLE) / nd)""").as("c"))
  }

  /** Nearest-centroid assignment (cosine argmax, smallest-class
    * tie-break): adds `predicted` to each token row. The centroid set —
    * with per-class norms precomputed — packs into ONE broadcast row; per
    * document the dot products fold over the token array (token order)
    * and ‖f‖² folds over the sorted array as run-length squares, so the
    * corpus-side pass is shuffle-free AND dense-vector-free. */
  def classify(toks: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .withColumn("nc2",
        expr("aggregate(c, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"))
      .agg(expr("sort_array(collect_list(struct(label AS clabel, c, nc2)))").as("cs"))
    // Native single-pass assignment (round 15, guide §4 — see
    // [[graft.functions.RocchioBest]]): the historical spelling ran TWO
    // interpreted HOF folds per document — the run-length ‖f‖² aggregate
    // (a named_struct allocation per token step) and the per-centroid
    // dot/argmax transform + comparator sort — 0.7 s of single-task CPU
    // at sf0.1. Identical IEEE fold orders and tie rules; pinned by
    // RocchioBestSpec against this exact historical expression.
    toks
      .crossJoin(broadcast(packed))
      .withColumn("best", expr("rocchio_best(toksh, cs)"))
      .select(col("doc_id"), col("label"), col("best.clabel").as("predicted"),
        col("best.cosine").as("cosine"))
  }

  /** Train on the full corpus and report the confusion matrix. */
  def confusion(docsDf: DataFrame, labelCol: String): DataFrame = {
    // (Round 15 measured a Fanout widen on toks and REVERTED it: toks
    // feeds both centroids and classify, the widen shuffle repeats per
    // consumer, and the suite number got worse, 1.49 → 1.63 s.)
    val toks = tokens(docsDf, labelCol)
    classify(toks, centroids(toks))
      .groupBy(col("label"), col("predicted"))
      .agg(count(lit(1)).as("n"))
  }

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Rocchio classifier lifecycle: train centroids on the lang labels,
    // classify the corpus, emit the confusion matrix. The oracle runs the
    // same token-sparse program: grouped integer counts for centroids and
    // ‖f‖², token-order folds for the dots, dimension-ascending folds for
    // the centroid norms.
    "llm_train_centroid" -> QuerySpec(
      fn = (s, dir) => confusion(Tables.load(s, dir, "documents"), "lang"),
      oracle = Some(s"""
        WITH toks AS (
          SELECT doc_id, lang AS label,
                 list_transform(string_split_regex(lower(text), '\\s+'),
                                t -> md5_number_upper(t) & ${dims - 1}) AS toksh
          FROM documents),
        ndocs AS (SELECT label, COUNT(*) AS nd FROM toks GROUP BY label),
        tokcnt AS (
          SELECT label, h, COUNT(*) AS cnt
          FROM (SELECT label, unnest(toksh) AS h FROM toks)
          GROUP BY label, h),
        dimvals AS (
          SELECT n.label, g.i,
                 COALESCE(CAST(t.cnt AS DOUBLE), 0.0) / n.nd AS m
          FROM ndocs n
          CROSS JOIN generate_series(0, ${dims - 1}) g(i)
          LEFT JOIN tokcnt t ON t.label = n.label AND t.h = g.i),
        cents AS (
          SELECT label AS clabel, list(m ORDER BY i) AS c,
                 list_reduce(list_transform(list(m ORDER BY i), x -> x * x),
                             (x, y) -> x + y) AS nc2
          FROM dimvals GROUP BY label),
        nf AS (
          SELECT doc_id, CAST(SUM(cnt * cnt) AS DOUBLE) AS nf2
          FROM (SELECT doc_id, h, COUNT(*) AS cnt
                FROM (SELECT doc_id, unnest(toksh) AS h FROM toks)
                GROUP BY doc_id, h)
          GROUP BY doc_id),
        scored AS (
          SELECT t.doc_id, t.label, c.clabel,
                 CASE WHEN n.nf2 = 0.0 OR c.nc2 = 0.0 THEN 0.0
                      ELSE list_reduce(list_transform(t.toksh,
                                         h -> c.c[CAST(h AS BIGINT) + 1]),
                                       (x, y) -> x + y)
                           / (sqrt(n.nf2) * sqrt(c.nc2)) END AS cosine
          FROM toks t JOIN nf n USING (doc_id) CROSS JOIN cents c),
        ranked AS (
          SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY cosine DESC, clabel) AS rn
          FROM scored)
        SELECT label, clabel AS predicted, COUNT(*) AS n
        FROM ranked WHERE rn = 1
        GROUP BY label, clabel""")))
}
