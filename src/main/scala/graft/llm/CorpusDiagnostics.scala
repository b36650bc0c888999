package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level diagnostics a training-data curator runs before committing
  * to a mix: exact duplicated-span detection, inter-source overlap, and
  * per-document lexical-diversity scoring.
  *
  *   - `llm_dup_spans`: the k-gram formulation of exact substring dedup
  *     (Lee et al. 2021, "Deduplicating Training Data Makes Language
  *     Models Better" — the suffix-array pass, re-expressed relationally):
  *     every k-token window that occurs ≥2 times anywhere in the corpus is
  *     a duplicated window; runs of adjacent duplicated windows within a
  *     document merge into MAXIMAL duplicated spans (the unit a dedup
  *     pass would cut). Window stream is O(tokens); grouping is one
  *     shuffle on a 64-bit gram hash; the island merge is one per-doc
  *     window function — no doc×doc join anywhere, so the plan's work is
  *     linear in corpus size at any scale.
  *   - `llm_source_overlap`: pairwise n-gram overlap between sources (the
  *     dataset-card cross-contamination matrix). Per-gram join fan-out is
  *     bounded by |sources|² regardless of corpus size — the gram→source
  *     postings are deduplicated before the self-join — and per-source
  *     totals are a 20-row broadcast.
  *   - `llm_lexical_diversity`: type-token ratio, hapax fraction, and
  *     Gini–Simpson diversity 1 − Σpᵢ² per document — the repetition/
  *     degeneracy quality signals. Everything stays RATIONAL (integer
  *     counts + one double division; Gini–Simpson instead of Shannon
  *     entropy precisely because it needs no transcendental call), so
  *     Spark and DuckDB produce bit-identical doubles. Per-row work is
  *     array HOFs inside whole-stage codegen; no shuffle at all.
  *
  * Gram hashes travel as `md5_long` (≡ DuckDB `md5_number_upper`
  * bit-for-bit, see [[graft.functions.Md5Hash]]) — 8-byte shuffle keys
  * instead of k-token strings, still oracle-exact.
  */
object CorpusDiagnostics extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Duplicated k-token spans: windows → corpus-duplicated windows →
    * per-doc maximal islands of adjacent duplicated positions. */
  def dupSpans(docsDf: DataFrame, k: Int): DataFrame = {
    // §2.5 widening: the window derivation (tokenize + k-gram md5 per
    // position) is the query's CPU and the fixture scan is one row group.
    val wins = graft.api.Fanout.widenBy(
        docsDf.select(col("doc_id"), col("text")), col("doc_id"))
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .filter(size(col("toks")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(toks) - ${k - 1}),
              i -> md5_long(concat_ws(' ', slice(toks, i, $k))))"""))
        .as(Seq("p", "gh")))
      .withColumn("pos", (col("p") + 1).cast("int"))
      .select(col("doc_id"), col("pos"), col("gh"))
    // Corpus-duplicated gram set (any window text occurring ≥2 times,
    // within or across documents). Aggregated BEFORE the join back so the
    // probe side is one row per duplicated gram, not per occurrence.
    val dup = wins.groupBy("gh").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select("gh")
    val dupPos = wins.join(dup, Seq("gh"), "left_semi")
    // Gaps-and-islands: adjacent duplicated positions share (pos − rank).
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dupPos
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp"))
      .agg(
        min(col("pos")).cast("int").as("span_start"),
        (max(col("pos")) - min(col("pos")) + k).cast("int").as("span_len"),
        count(lit(1)).as("n_windows"))
      .select("doc_id", "span_start", "span_len", "n_windows")
  }

  /** Distinct (source, gram-hash) postings for word n-grams of size `n`. */
  private def sourceGrams(docsDf: DataFrame, n: Int): DataFrame = {
    // (Round 15 measured a Fanout widen here and REVERTED it: the gram
    // derivation feeds a self-join whose shuffles dominate — the widen's
    // extra exchange was a flat-to-negative suite delta.)
    docsDf
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .select(col("source"), explode(expr(
        s"""array_distinct(transform(
              sequence(1, greatest(size(toks) - ${n - 1}, 1)),
              i -> md5_long(concat_ws(' ', slice(toks, i, $n)))))"""))
        .as("gh"))
      .distinct()
  }

  /** Pairwise source overlap: |A∩B|, Jaccard, and containment in each
    * direction, over distinct word `n`-gram sets. */
  def sourceOverlap(docsDf: DataFrame, n: Int): DataFrame = {
    val sh = sourceGrams(docsDf, n)
    val sizes = sh.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("n_common"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("n_common"),
        (col("n_common").cast("double") / (col("n_a") + col("n_b") - col("n_common")))
          .as("jaccard"),
        (col("n_common").cast("double") / col("n_a")).as("containment_a"),
        (col("n_common").cast("double") / col("n_b")).as("containment_b"))
  }

  /** Per-document lexical diversity: token/type/hapax counts, TTR, hapax
    * fraction, Gini–Simpson 1 − Σ(cᵢ/n)². */
  def lexicalDiversity(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("toks", split(lower(col("text")), "\\s+"))
      .withColumn("counts", expr(
        "transform(array_distinct(toks), t -> size(filter(toks, x -> x = t)))"))
      .withColumn("sumsq", expr(
        "aggregate(counts, CAST(0 AS BIGINT), (a, c) -> a + CAST(c AS BIGINT) * c)"))
      .select(
        col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("counts")).as("n_types"),
        expr("size(filter(counts, c -> c = 1))").as("n_hapax"),
        (size(col("counts")).cast("double") / size(col("toks"))).as("ttr"),
        (expr("size(filter(counts, c -> c = 1))").cast("double")
          / size(col("counts"))).as("hapax_frac"),
        (lit(1.0) - col("sumsq").cast("double")
          / (size(col("toks")).cast("long") * size(col("toks"))))
          .as("gini_simpson"))

  def queries: Map[String, QuerySpec] = Map(

    // ------------------------------------------------------------------
    // Vocabulary growth (Heaps' law checkpoints): distinct trigram types
    // vs token occurrences after the first N documents, for N at decade
    // checkpoints — the curve a curator reads to judge corpus breadth
    // (sublinear type growth = natural text; a flat curve = template spam;
    // near-linear = noise). Trigrams rather than unigrams so the type
    // space genuinely grows. Everything is exact integer counts plus one
    // double division (TTR), no transcendental fit — the raw (tokens,
    // types) pairs ARE the Heaps evidence. Work: occurrences never
    // explode at all (per-document gram COUNTS join the 5 checkpoints);
    // the type side explodes once but shuffles 8-byte `md5_long` keys,
    // not gram strings, into a distinct space bounded by the vocabulary
    // (partial-agg'd min(doc_id) per gram) — the string-keyed explode
    // spelling measured e=1.36 at sf30 and was rewritten. Output 5 rows.
    "llm_vocab_growth" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val base = docs(s, dir)
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .withColumn("ng", greatest(size(col("toks")) - 2, lit(1)))
        val cps = Seq(10L, 100L, 1000L, 10000L, 100000L).toDF("checkpoint")
        val occs = base.select(col("doc_id"), col("ng"))
          .join(broadcast(cps), col("doc_id") < col("checkpoint"))
          .groupBy("checkpoint").agg(sum("ng").as("tokens"))
        val types = base
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, greatest(size(toks) - 2, 1)),
                 i -> md5_long(concat_ws(' ', slice(toks, i, 3))))""")).as("g"))
          .groupBy("g").agg(min("doc_id").as("fd"))
          .join(broadcast(cps), col("fd") < col("checkpoint"))
          .groupBy("checkpoint").agg(count(lit(1)).as("types"))
        occs.join(types, Seq("checkpoint"))
          .withColumn("ttr", col("types").cast("double") / col("tokens"))
          .orderBy("checkpoint")
      },
      oracle = Some("""
        WITH base AS (
          SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
          FROM documents),
        cps AS (SELECT unnest([10, 100, 1000, 10000, 100000]) AS checkpoint),
        occs AS (
          SELECT checkpoint,
                 CAST(SUM(greatest(len(toks) - 2, 1)) AS BIGINT) AS tokens
          FROM base JOIN cps ON base.doc_id < cps.checkpoint
          GROUP BY checkpoint),
        grams AS (
          SELECT doc_id,
                 unnest([md5_number_upper(array_to_string(toks[i:i+2], ' '))
                         for i in generate_series(1, greatest(len(toks) - 2, 1))])
                   AS g
          FROM base),
        types AS (
          SELECT checkpoint, CAST(COUNT(*) AS BIGINT) AS types
          FROM (SELECT g, MIN(doc_id) AS fd FROM grams GROUP BY g) f
          JOIN cps ON f.fd < cps.checkpoint
          GROUP BY checkpoint)
        SELECT CAST(o.checkpoint AS BIGINT) AS checkpoint, o.tokens, t.types,
               CAST(t.types AS DOUBLE) / o.tokens AS ttr
        FROM occs o JOIN types t USING (checkpoint)
        ORDER BY checkpoint"""),
      doc = "Heaps-law vocabulary growth: trigram types vs tokens at doc checkpoints"),
    // ------------------------------------------------------------------
    // Exact duplicated-span detection at k=8 tokens.
    "llm_dup_spans" -> QuerySpec(
      fn = (s, dir) => dupSpans(docs(s, dir), k = 8),
      oracle = Some("""
        WITH w AS (
          SELECT doc_id, CAST(i AS INT) AS pos,
                 md5_number_upper(array_to_string(toks[i:i+7], ' ')) AS gh
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
                FROM documents),
               LATERAL unnest(generate_series(1, len(toks) - 7)) AS t(i)
          WHERE len(toks) >= 8),
        d AS (SELECT gh FROM w GROUP BY gh HAVING COUNT(*) >= 2),
        dw AS (SELECT w.doc_id, w.pos FROM w JOIN d ON d.gh = w.gh),
        g AS (SELECT doc_id, pos,
                     pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS grp
              FROM dw)
        SELECT doc_id, CAST(MIN(pos) AS INT) AS span_start,
               CAST(MAX(pos) - MIN(pos) + 8 AS INT) AS span_len,
               COUNT(*) AS n_windows
        FROM g GROUP BY doc_id, grp""")),

    // ------------------------------------------------------------------
    // Inter-source 5-gram overlap matrix (only intersecting pairs emit).
    "llm_source_overlap" -> QuerySpec(
      fn = (s, dir) => sourceOverlap(docs(s, dir), n = 5),
      oracle = Some("""
        WITH sh AS (
          SELECT DISTINCT source, gh FROM (
            SELECT source,
                   unnest(list_distinct(
                     [md5_number_upper(array_to_string(toks[i:i+4], ' '))
                      for i in generate_series(1, greatest(len(toks) - 4, 1))]))
                     AS gh
            FROM (SELECT source, string_split_regex(lower(text), '\s+') AS toks
                  FROM documents))),
        sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY source),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
          FROM sh a JOIN sh b ON a.gh = b.gh AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src_a, src_b, sa.n AS n_a, sb.n AS n_b, n_common,
               CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common) AS jaccard,
               CAST(n_common AS DOUBLE) / sa.n AS containment_a,
               CAST(n_common AS DOUBLE) / sb.n AS containment_b
        FROM inter
        JOIN sizes sa ON sa.source = src_a
        JOIN sizes sb ON sb.source = src_b""")),

    // ------------------------------------------------------------------
    // Per-document lexical diversity (rational: no transcendentals).
    "llm_lexical_diversity" -> QuerySpec(
      fn = (s, dir) => lexicalDiversity(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id, n_tokens, n_types, n_hapax,
               CAST(n_types AS DOUBLE) / n_tokens AS ttr,
               CAST(n_hapax AS DOUBLE) / n_types AS hapax_frac,
               1.0 - CAST(sumsq AS DOUBLE)
                     / (CAST(n_tokens AS BIGINT) * n_tokens) AS gini_simpson
        FROM (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_tokens,
                 CAST(len(counts) AS INT) AS n_types,
                 CAST(len(list_filter(counts, c -> c = 1)) AS INT) AS n_hapax,
                 list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(counts, c -> CAST(c AS BIGINT) * c)),
                   (a, b) -> a + b) AS sumsq
          FROM (
            SELECT doc_id, toks,
                   [len(list_filter(toks, x -> x = t))
                    for t in list_distinct(toks)] AS counts
            FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
                  FROM documents)))""")))
}
