package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators over `documents.text`: per-document statistics /
  * quality scoring, stopword-based language ID, corpus term frequencies
  * (unigram + bigram), and rolling-hash fingerprinting.
  *
  * Everything is built from codegen-able built-ins and higher-order
  * functions — no UDFs — so the scans stay inside whole-stage codegen and
  * column pruning reaches parquet (only `doc_id`/`text` are read). Corpus
  * aggregations (term frequency) are single-shuffle hash aggregates with
  * map-side partials; per-document operators are shuffle-free map work:
  * at 100 TB these scale with input, not with pair counts.
  *
  * Numeric discipline: all derived ratios are rational arithmetic (int
  * counts + one double division) so Spark and DuckDB produce bit-identical
  * doubles — no transcendental functions whose last-ulp behavior could
  * differ between libms.
  */
object TextAnalysis extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Shared oracle CTE chain for the BPE trainer (see `llm_bpe_train`):
    * v0 = char-symbol vocab with type counts; per round i, pI = weighted
    * adjacent-pair counts, bI = the winning merge, vI = the vocab after
    * applying it via the boundary-safe string replace. */
  private def bpeRoundSql(i: Int, prev: String): String = s"""
        p$i AS (
          SELECT syms[i] AS a, syms[i + 1] AS b, CAST(SUM(cnt) AS BIGINT) AS pc
          FROM (
            SELECT cnt, syms, unnest(generate_series(1, len(syms) - 1)) AS i
            FROM (SELECT cnt,
                         string_split(substring(s, 2, length(s) - 2), '||') AS syms
                  FROM $prev)
            WHERE len(syms) >= 2)
          GROUP BY 1, 2),
        b$i AS (SELECT a, b, pc FROM p$i ORDER BY pc DESC, a, b LIMIT 1),
        v$i AS (
          SELECT replace(s,
                   '|' || (SELECT a FROM b$i) || '||' || (SELECT b FROM b$i) || '|',
                   '|' || (SELECT a FROM b$i) || (SELECT b FROM b$i) || '|') AS s,
                 cnt
          FROM $prev)"""

  private[llm] def bpeTrainCtes: String = s"""
        words AS (
          SELECT unnest(string_split_regex(lower(text), '\\s+')) AS w
          FROM documents),
        v0 AS (
          SELECT '|' || array_to_string(string_split(w, ''), '||') || '|' AS s,
                 CAST(COUNT(*) AS BIGINT) AS cnt
          FROM words WHERE length(w) >= 1 GROUP BY w),
        ${bpeRoundSql(1, "v0")},
        ${bpeRoundSql(2, "v1")},
        ${bpeRoundSql(3, "v2")}"""

  /** The BPE trainer (see `llm_bpe_train` for the full rationale): one
    * corpus shuffle to word-type counts, then 3 pair-count/argmax/merge
    * rounds over the vocab-sized table, each reliably checkpointed. */
  def bpeTrainDf(s: SparkSession, dir: String): DataFrame = {
    graft.api.Checkpoints.ensureDir(s)
    // Fanout: the tokenize/explode corpus pass is single-task behind the
    // one-row-group fixture scan — widen the text column (no-op at scale).
    var vocab = graft.api.Fanout.widen(docs(s, dir).select(col("text")))
      .select(explode(split(lower(col("text")), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .select(concat(lit("|"),
        expr("array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '||')"),
        lit("|")).as("s"), col("cnt"))
      .checkpoint()
    var merges: Seq[DataFrame] = Nil
    for (r <- 1 to 3) {
      val pairs = vocab
        .select(col("cnt"),
          expr("split(substring(s, 2, length(s) - 2), '\\\\|\\\\|')").as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
               i -> named_struct('a', element_at(syms, i),
                                 'b', element_at(syms, i + 1)))""")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("pc"))
      val best = pairs.orderBy(col("pc").desc, col("a"), col("b"))
        .limit(1).checkpoint()
      merges = merges :+ best.withColumn("round", lit(r))
      vocab = vocab
        .crossJoin(broadcast(best.select(col("a").as("ma"), col("b").as("mb"))))
        .withColumn("s",
          expr("replace(s, '|' || ma || '||' || mb || '|', '|' || ma || mb || '|')"))
        .select("s", "cnt")
        .checkpoint()
    }
    merges.reduce(_ unionAll _)
      .select(col("round"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged"), col("pc"))
  }

  /** Stopword lists for the 5 fixture languages (tiny on purpose — this is
    * the classic marker-word heuristic, not a model). */
  private val stopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und"),
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "los", "y"),
    "fr" -> Seq("le", "la", "et"),
    "zh" -> Seq("的", "是", "了"))

  /** Stopword-marker language scores + argmax prediction (ties → smallest
    * lang code, via min over (−count, lang)). Shared by `llm_text_lang`
    * (per-doc prediction) and `llm_langid_eval` (confusion vs the fixture
    * label) so both run the IDENTICAL classifier. */
  private def langScored(d: DataFrame): DataFrame = {
    val scored = stopwords.foldLeft(
      d.withColumn("toks", split(lower(col("text")), "\\s+"))) {
      case (df, (lang, words)) =>
        val cond = words.map(w => s"t = '$w'").mkString(" or ")
        df.withColumn(s"c_$lang", expr(s"size(filter(toks, t -> $cond))"))
    }
    val arr = stopwords.map { case (lang, _) =>
      s"named_struct('c', -c_$lang, 'l', '$lang')" }.mkString(", ")
    scored.withColumn("predicted_lang", expr(s"array_sort(array($arr))[0].l"))
  }

  /** Oracle-side character-fold polynomial hash `h = (h*31 + code) mod
    * 1e9+7` — the SQL definition the codegen PolyFingerprint expression
    * must match. */
  private def polyHashSql(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
        (h, c) -> (h * 31 + c) % 1000000007)"""

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling"): score every raw document
    // by how much target-domain probability mass its tokens carry relative
    // to raw-corpus mass, under hashed bag-of-tokens models — the weights a
    // curator resamples by to tilt a web crawl toward a quality domain
    // (here: the English slice as the target). Features are md5 buckets
    // mod 256 (a power of two, so Spark's pmod over the signed md5_long
    // equals DuckDB's unsigned %); both models are 256-row count tables
    // BROADCAST onto one token pass, so the corpus never shuffles for the
    // model — only the per-doc aggregation groups. Add-one smoothing keeps
    // unseen-target buckets finite. The weight stays RATIONAL (the
    // llm_lm_score discipline): per-doc smoothed mass sums are exact
    // integers, and the single closing double expression
    // (t_mass·(R+256))/(r_mass·(T+256)) is spelled identically in both
    // engines — bit-stable, no logs or per-token products.
    "llm_dsir_weights" -> QuerySpec(
      fn = (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .withColumn("f", pmod(expr("md5_long(term)"), lit(256)))
        val target = toks.filter(col("lang") === "en")
          .groupBy("f").agg(count(lit(1)).as("tf"))
        val raw = toks.groupBy("f").agg(count(lit(1)).as("rf"))
        val consts = raw.agg(sum(col("rf")).as("rtot"))
          .crossJoin(target.agg(sum(col("tf")).as("ttot")))
        toks
          .join(broadcast(raw), Seq("f"))
          .join(broadcast(target), Seq("f"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"),
            sum(coalesce(col("tf"), lit(0L)) + lit(1L)).as("t_mass"),
            sum(col("rf") + lit(1L)).as("r_mass"))
          .crossJoin(broadcast(consts))
          .select(col("doc_id"), col("n_toks"), col("t_mass"), col("r_mass"),
            ((col("t_mass").cast("double") * (col("rtot") + lit(256L)).cast("double"))
              / (col("r_mass").cast("double") * (col("ttot") + lit(256L)).cast("double")))
              .as("weight"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, lang,
                 md5_number_upper(unnest(string_split_regex(lower(text), '\s+')))
                   % 256 AS f
          FROM documents),
        tgt AS (SELECT f, COUNT(*) AS tf FROM toks WHERE lang = 'en' GROUP BY f),
        raw AS (SELECT f, COUNT(*) AS rf FROM toks GROUP BY f),
        consts AS (
          SELECT (SELECT CAST(SUM(rf) AS BIGINT) FROM raw) AS rtot,
                 (SELECT CAST(SUM(tf) AS BIGINT) FROM tgt) AS ttot)
        SELECT t.doc_id, COUNT(*) AS n_toks,
               CAST(SUM(COALESCE(g.tf, 0) + 1) AS BIGINT) AS t_mass,
               CAST(SUM(r.rf + 1) AS BIGINT) AS r_mass,
               (CAST(CAST(SUM(COALESCE(g.tf, 0) + 1) AS BIGINT) AS DOUBLE)
                  * CAST(rtot + 256 AS DOUBLE))
               / (CAST(CAST(SUM(r.rf + 1) AS BIGINT) AS DOUBLE)
                  * CAST(ttot + 256 AS DOUBLE)) AS weight
        FROM toks t
        JOIN raw r ON t.f = r.f
        LEFT JOIN tgt g ON t.f = g.f, consts
        GROUP BY t.doc_id, rtot, ttot""")),

    // ------------------------------------------------------------------
    // Corpus drift: per-source total-variation distance between the
    // source's token distribution and the REST of the corpus — the
    // monitoring number a pipeline tracks to notice a source changing under
    // it (scraper broke, domain shifted) before it poisons the mix. TV
    // needs every token of the union support, but the absent-token
    // contribution collapses analytically (Σ_{tok∉src} n_rest·N_src =
    // N_src·(N_rest − R_src) with R_src = rest-occurrences of the source's
    // OWN tokens), so only (source, term) rows that exist are ever
    // materialized: one (source, term) aggregate, one equi-join to per-term
    // totals, one per-source aggregate. All moments are exact integers
    // (products ≤ N² — BIGINT-safe to ~3·10⁹ tokens, the DECIMAL(38,0)
    // swap is the documented next gear); the one closing double division is
    // spelled identically in both engines.
    "llm_corpus_drift" -> QuerySpec(
      fn = (s, dir) => {
        val toks = docs(s, dir)
          .select(col("source"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
        val st = toks.groupBy("source", "term").agg(count(lit(1)).as("n_st"))
        val t = st.groupBy("term").agg(sum(col("n_st")).as("n_t"))
        val src = st.groupBy("source").agg(sum(col("n_st")).as("n_src"))
        val all = src.agg(sum(col("n_src")).as("n_all"))
        st.join(t, Seq("term"))
          .join(broadcast(src), Seq("source"))
          .crossJoin(broadcast(all))
          .groupBy(col("source"), col("n_src"), col("n_all"))
          .agg(
            sum(abs(col("n_st") * (col("n_all") - col("n_src"))
              - (col("n_t") - col("n_st")) * col("n_src"))).as("present_abs"),
            sum(col("n_t") - col("n_st")).as("r_src"))
          .select(col("source"), col("n_src").as("n_tokens"),
            ((col("present_abs")
              + col("n_src") * ((col("n_all") - col("n_src")) - col("r_src")))
              .cast("double")
              / (lit(2L) * col("n_src") * (col("n_all") - col("n_src")))
                .cast("double")).as("tv_distance"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents),
        st AS (SELECT source, term, COUNT(*) AS n_st FROM toks GROUP BY 1, 2),
        t AS (SELECT term, CAST(SUM(n_st) AS BIGINT) AS n_t FROM st GROUP BY 1),
        src AS (SELECT source, CAST(SUM(n_st) AS BIGINT) AS n_src
                FROM st GROUP BY 1),
        alltot AS (SELECT CAST(SUM(n_src) AS BIGINT) AS n_all FROM src)
        SELECT st.source, n_src AS n_tokens,
               CAST(CAST(SUM(abs(n_st * (n_all - n_src)
                       - (n_t - n_st) * n_src)) AS BIGINT)
                    + n_src * ((n_all - n_src)
                       - CAST(SUM(n_t - n_st) AS BIGINT)) AS DOUBLE)
               / CAST(2 * n_src * (n_all - n_src) AS DOUBLE) AS tv_distance
        FROM st
        JOIN t ON t.term = st.term
        JOIN src ON src.source = st.source, alltot
        GROUP BY st.source, n_src, n_all""")),

    // ------------------------------------------------------------------
    // Per-document statistics + a rational-arithmetic quality score.
    "llm_text_stats" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("sum_tok_len",
          expr("aggregate(toks, 0, (acc, t) -> acc + length(t))"))
        .withColumn("n_stop", expr(
          "size(filter(toks, t -> t = 'the' or t = 'a' or t = 'of'))"))
        .select(
          col("doc_id"),
          col("n_tokens"),
          length(col("text")).as("n_chars"),
          (col("sum_tok_len").cast("double") / col("n_tokens")).as("avg_token_len"),
          (col("n_stop").cast("double") / col("n_tokens")).as("stopword_ratio"),
          (least(col("n_tokens"), lit(100)).cast("double") / 100.0 *
            (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")))
            .as("quality_score")),
      oracle = Some("""
        WITH t AS (
          SELECT doc_id, text, string_split_regex(lower(text), '\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, text, len(toks) AS n_tokens,
                 list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                             (a, b) -> a + b) AS sum_tok_len,
                 len(list_filter(toks, x -> x = 'the' OR x = 'a' OR x = 'of'))
                   AS n_stop
          FROM t)
        SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
               CAST(length(text) AS INT) AS n_chars,
               CAST(sum_tok_len AS DOUBLE) / n_tokens AS avg_token_len,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               CAST(least(n_tokens, 100) AS DOUBLE) / 100.0 *
                 (1.0 - CAST(n_stop AS DOUBLE) / n_tokens) AS quality_score
        FROM m""")),

    // Dataset cards: the per-source summary a training-data curator signs
    // off on — volumes, token budget, length profile, language mix, and
    // exact-duplicate rate, in ONE pass over the corpus (conditional
    // aggregation; the dup rate rides the same shuffle via a distinct
    // digest count). Every statistic is integer or exact-decimal.
    "llm_dataset_cards" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"source", $"lang", $"text",
            size(split(lower($"text"), "\\s+")).cast("long").as("toks"),
            md5($"text".cast("binary")).as("digest"))
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_docs"),
            sum($"toks").as("total_tokens"),
            (sum($"toks".cast(DecimalType(30, 6))).cast("double") /
              count(lit(1))).as("mean_tokens"),
            countDistinct($"lang").as("n_langs"),
            countDistinct($"digest").as("n_unique"),
            (lit(1.0) - count_distinct($"digest").cast("double") /
              count(lit(1)).cast("double")).as("dup_rate"))
      },
      oracle = Some("""
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(lower(text), '\s+'))) AS BIGINT)
                 AS total_tokens,
               CAST(SUM(CAST(len(string_split_regex(lower(text), '\s+'))
                 AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*) AS mean_tokens,
               COUNT(DISTINCT lang) AS n_langs,
               COUNT(DISTINCT md5(text)) AS n_unique,
               1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) /
                 CAST(COUNT(*) AS DOUBLE) AS dup_rate
        FROM documents
        GROUP BY source""")),

    // Sequence-length histogram in power-of-2 buckets per source — the
    // packing planner's companion stat (how much padding a fixed context
    // window wastes per source). floor(log2(tokens)) comes from the
    // BINARY-STRING length (bin(n) has floor(log2 n)+1 digits), never a
    // floating log2 whose value at exact powers of two is libm-dependent:
    // integer-exact in both engines.
    "llm_length_buckets" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"source",
            size(split(lower($"text"), "\\s+")).cast("long").as("toks"))
          .filter($"toks" > 0)
          .withColumn("log2_bucket", (length(bin($"toks")) - 1).cast("int"))
          .groupBy($"source", $"log2_bucket")
          .agg(count(lit(1)).as("n_docs"), sum($"toks").as("total_tokens"))
      },
      oracle = Some("""
        SELECT source, CAST(len(bin(toks)) - 1 AS INT) AS log2_bucket,
               COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS total_tokens
        FROM (
          SELECT source,
                 CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS toks
          FROM documents)
        WHERE toks > 0
        GROUP BY 1, 2""")),

    // Code-vs-prose detection: the pretraining corpus router — symbol
    // density ({};()=<>), indentation lines, and underscore_identifier
    // share, each a rational ratio of integer counts (regexp classes that
    // behave identically in both engines), combined into a verdict at
    // fixed thresholds. One narrow projection pass, no shuffle.
    "llm_code_detect" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        docs(s, dir)
          .select($"doc_id",
            size(expr("regexp_extract_all(text, '[{};()=<>]', 0)"))
              .cast("long").as("n_sym"),
            size(expr("regexp_extract_all(text, '(?m)^(    |\\t)', 0)"))
              .cast("long").as("n_indent"),
            size(expr("regexp_extract_all(text, '[a-z]+_[a-z]+', 0)"))
              .cast("long").as("n_snake"),
            length($"text").cast("long").as("n_chars"))
          .select($"doc_id", $"n_sym", $"n_indent", $"n_snake",
            // Empty docs: guard 0/0 (Spark NaN vs DuckDB NULL) on BOTH sides.
            when($"n_chars" > 0, $"n_sym".cast("double") / $"n_chars")
              .as("sym_density"),
            (when($"n_chars" > 0, $"n_sym".cast("double") / $"n_chars")
              .otherwise(lit(0.0)) > 0.02 ||
              $"n_indent" >= 3 || $"n_snake" >= 5).as("looks_like_code"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, '[{};()=<>]')) AS BIGINT)
                   AS n_sym,
                 CAST(len(regexp_extract_all(text, '^(    |\t)', 0, 'm')) AS BIGINT)
                   AS n_indent,
                 CAST(len(regexp_extract_all(text, '[a-z]+_[a-z]+')) AS BIGINT)
                   AS n_snake,
                 CAST(len(text) AS BIGINT) AS n_chars
          FROM documents)
        SELECT doc_id, n_sym, n_indent, n_snake,
               CASE WHEN n_chars > 0
                    THEN CAST(n_sym AS DOUBLE) / n_chars END AS sym_density,
               (COALESCE(CASE WHEN n_chars > 0
                              THEN CAST(n_sym AS DOUBLE) / n_chars END, 0.0)
                  > 0.02 OR n_indent >= 3
                 OR n_snake >= 5) AS looks_like_code
        FROM m""")),

    // Tokenizer vocabulary coverage: what fraction of corpus token
    // OCCURRENCES a top-V frequency vocabulary captures, per source — the
    // metric that sizes a tokenizer's vocab before training it. The top-V
    // set (V=1000, ties broken by token text) is a bounded broadcast; the
    // coverage ratio is integers-only until one double division.
    "llm_vocab_coverage" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val toks = docs(s, dir).select($"source", explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
        val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
          .orderBy($"n".desc, $"tok").limit(1000).select($"tok")
        toks
          .join(broadcast(vocab.withColumn("in_vocab", lit(1L))), Seq("tok"), "left")
          .groupBy($"source")
          .agg(
            count(lit(1)).as("n_tokens"),
            sum(coalesce($"in_vocab", lit(0L))).as("n_covered"),
            (sum(coalesce($"in_vocab", lit(0L))).cast("double") /
              count(lit(1)).cast("double")).as("coverage"))
      },
      oracle = Some("""
        WITH toks AS (
          SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        vocab AS (
          SELECT tok FROM (SELECT tok, COUNT(*) AS n FROM toks GROUP BY 1)
          ORDER BY n DESC, tok LIMIT 1000)
        SELECT source, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_covered,
               CAST(SUM(CASE WHEN v.tok IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
        FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
        GROUP BY source""")),

    // Per-document keyword extraction: top-3 terms by tf × (N/df) — the
    // TF-IDF family in RATIONAL form (the idf log is monotone in N/df, so
    // the per-document ranking is identical, and rational arithmetic over
    // exact integers is bit-stable across engines where ln() is not — the
    // llm_lm_score discipline). Two keyed shuffles (term frequencies,
    // document frequencies) + a join on the term; the scalar corpus size
    // broadcasts. Full (score desc, term) tie-break.
    "llm_text_keywords" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val d = docs(s, dir)
        val toks = d.select($"doc_id", explode(
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("tok"))
        val tf = toks.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        val dfreq = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        val nDocs = d.agg(count(lit(1)).as("n_docs"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy($"doc_id").orderBy($"score".desc, $"tok")
        tf.join(dfreq, "tok").crossJoin(broadcast(nDocs))
          .withColumn("score",
            ($"tf" * $"n_docs").cast("double") / $"df".cast("double"))
          .withColumn("rank", row_number().over(w))
          .filter($"rank" <= 3)
          .select($"doc_id", $"rank", $"tok", $"score")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
          FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tok,
                 CAST(tf * n_docs AS DOUBLE) / CAST(df AS DOUBLE) AS score
          FROM tf JOIN dfreq USING (tok) CROSS JOIN n),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                   ORDER BY score DESC, tok) AS rank
          FROM scored)
        SELECT doc_id, CAST(rank AS INT) AS rank, tok, score
        FROM ranked WHERE rank <= 3""")),

    // Readability scoring (Flesch-Kincaid family): words = [a-z]+ runs,
    // sentences = terminal-punctuation runs, syllables ≈ vowel groups per
    // word — the standard heuristic, summed with array HOFs (no explode,
    // no shuffle: one narrow projection pass). All counts are integers,
    // the score one shared double expression, so both engines agree
    // bit-for-bit; the regex classes ([a-z]+, [.!?]+, [aeiouy]+) behave
    // identically in java.util.regex and RE2.
    "llm_text_readability" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("words",
          expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
        .withColumn("n_words", size(col("words")))
        .withColumn("n_sent", greatest(
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")), lit(1)))
        .withColumn("n_syll", expr(
          """aggregate(transform(words,
               w -> size(regexp_extract_all(w, '[aeiouy]+', 0))),
             0, (a, x) -> a + x)"""))
        .select(col("doc_id"), col("n_words"), col("n_sent"), col("n_syll"),
          when(col("n_words") > 0,
            lit(206.835) -
              lit(1.015) * (col("n_words").cast("double") / col("n_sent").cast("double")) -
              lit(84.6) * (col("n_syll").cast("double") / col("n_words").cast("double")))
            .as("flesch")),
      oracle = Some("""
        WITH m AS (
          SELECT doc_id,
                 regexp_extract_all(lower(text), '[a-z]+') AS words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sent
          FROM documents),
        c AS (
          SELECT doc_id, CAST(len(words) AS INT) AS n_words,
                 CAST(n_sent AS INT) AS n_sent,
                 CAST(list_reduce(list_prepend(0, list_transform(words,
                        w -> len(regexp_extract_all(w, '[aeiouy]+')))),
                      (a, b) -> a + b) AS INT) AS n_syll
          FROM m)
        SELECT doc_id, n_words, n_sent, n_syll,
               CASE WHEN n_words > 0 THEN
                 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
                         - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE))
               END AS flesch
        FROM c""")),

    // Token counting, three ways: whitespace words, a BPE-ish regex (word
    // pieces / digits / punctuation runs — the pre-tokenization shape most
    // BPE vocabularies assume), and chars-per-regex-token (the compression
    // proxy used to budget training tokens).
    "llm_text_tokens" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("ws_tokens", size(split(lower(col("text")), "\\s+")))
        .withColumn("bpe_tokens",
          size(regexp_extract_all(lower(col("text")), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0))))
        .select(
          col("doc_id"), col("ws_tokens"), col("bpe_tokens"),
          (length(col("text")).cast("double") / col("bpe_tokens"))
            .as("chars_per_token")),
      oracle = Some("""
        SELECT doc_id,
               CAST(len(string_split_regex(lower(text), '\s+')) AS INT) AS ws_tokens,
               CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
                 AS INT) AS bpe_tokens,
               CAST(length(text) AS DOUBLE)
                 / len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))
                 AS chars_per_token
        FROM documents""")),

    // ------------------------------------------------------------------
    // Stopword-marker language ID: argmax score, ties → smallest lang code.
    "llm_text_lang" -> QuerySpec(
      fn = (s, dir) => {
        val scored = langScored(docs(s, dir))
        scored.select(
          col("doc_id"),
          col("predicted_lang"),
          col("c_en").as("score_en"),
          col("c_de").as("score_de"))
      },
      oracle = Some {
        val counts = stopwords.map { case (lang, words) =>
          val cond = words.map(w => s"x = '$w'").mkString(" OR ")
          s"len(list_filter(toks, x -> $cond)) AS c_$lang" }.mkString(",\n               ")
        val arr = stopwords.map { case (lang, _) =>
          s"{'c': -c_$lang, 'l': '$lang'}" }.mkString(", ")
        s"""
        WITH t AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id,
               $counts
          FROM t)
        SELECT doc_id, list_sort([$arr])[1].l AS predicted_lang,
               CAST(c_en AS INT) AS score_en, CAST(c_de AS INT) AS score_de
        FROM m"""
      }),

    // ------------------------------------------------------------------
    // Language-ID evaluation: the confusion matrix of the stopword-marker
    // classifier against the corpus's labeled `lang` column — the
    // detector-vs-ground-truth discipline of llm_dedup_eval applied to
    // langid (shared predictor via langScored, so the eval grades EXACTLY
    // the classifier llm_text_lang ships). |langs|² rows; one aggregate
    // over the corpus plus a window over the tiny matrix.
    "llm_langid_eval" -> QuerySpec(
      fn = (s, dir) => {
        val cm = langScored(docs(s, dir))
          .groupBy(col("lang"), col("predicted_lang"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        cm.select(col("lang"), col("predicted_lang"), col("n"),
          (col("n").cast("double") / sum(col("n")).over(w).cast("double"))
            .as("share"),
          (col("lang") === col("predicted_lang")).as("correct"))
      },
      oracle = Some {
        val counts = stopwords.map { case (lang, words) =>
          val cond = words.map(w => s"x = '$w'").mkString(" OR ")
          s"len(list_filter(toks, x -> $cond)) AS c_$lang" }.mkString(",\n               ")
        val arr = stopwords.map { case (lang, _) =>
          s"{'c': -c_$lang, 'l': '$lang'}" }.mkString(", ")
        s"""
        WITH t AS (
          SELECT doc_id, lang, string_split_regex(lower(text), '\\s+') AS toks
          FROM documents),
        m AS (
          SELECT doc_id, lang,
               $counts
          FROM t),
        p AS (
          SELECT lang, list_sort([$arr])[1].l AS predicted_lang FROM m),
        cm AS (
          SELECT lang, predicted_lang, COUNT(*) AS n FROM p GROUP BY 1, 2)
        SELECT lang, predicted_lang, n,
               CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS share,
               lang = predicted_lang AS correct
        FROM cm"""
      }),

    // ------------------------------------------------------------------
    // Corpus unigram term frequency, top 100 (count desc, term asc).
    "llm_text_tf" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .select(explode(split(lower(col("text")), "\\s+")).as("term"),
          col("doc_id"))
        .groupBy("term")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("term"))
        .limit(100),
      oracle = Some("""
        SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS term
              FROM documents)
        GROUP BY term ORDER BY tf DESC, term LIMIT 100"""),
      bench = true),

    // Corpus bigram frequency, top 100.
    "llm_text_ngram" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .select(explode(expr(
          """transform(sequence(1, greatest(size(toks) - 1, 1)),
               i -> concat_ws(' ', slice(toks, i, 2)))""")).as("bigram"))
        .groupBy("bigram")
        .agg(count(lit(1)).as("tf"))
        .orderBy(col("tf").desc, col("bigram"))
        .limit(100),
      oracle = Some("""
        SELECT bigram, count(*) AS tf
        FROM (SELECT unnest([array_to_string(toks[i:i+1], ' ')
                             for i in generate_series(1, greatest(len(toks) - 1, 1))])
                AS bigram
              FROM (SELECT string_split_regex(lower(text), '\s+') AS toks
                    FROM documents))
        GROUP BY bigram ORDER BY tf DESC, bigram LIMIT 100""")),

    // ------------------------------------------------------------------
    // Text normalization: lowercase, strip non-printable ASCII, collapse
    // whitespace, trim — the canonical pre-dedup cleanup pass.
    "llm_text_normalize" -> QuerySpec(
      fn = (s, dir) => docs(s, dir).select(
        col("doc_id"),
        trim(regexp_replace(
          regexp_replace(lower(col("text")), "[^\\x20-\\x7e]", ""),
          "\\s+", " ")).as("normalized"))
        .withColumn("n_chars_norm", length(col("normalized"))),
      oracle = Some("""
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g'),
                 '\s+', ' ', 'g')) AS normalized,
               CAST(length(trim(regexp_replace(
                 regexp_replace(lower(text), '[^\x20-\x7e]', '', 'g'),
                 '\s+', ' ', 'g'))) AS INT) AS n_chars_norm
        FROM documents""")),

    // PII-style scrubbing: emails and URLs redacted (deterministic
    // injections on a fifth of the corpus give the patterns real matches).
    "llm_text_scrub" -> QuerySpec(
      fn = (s, dir) => {
        val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
        val urlRe = "https?://[^\\s]+"
        docs(s, dir)
          .withColumn("aug",
            when(pmod(col("doc_id"), lit(5)) === 0,
              concat(col("text"), lit(" contact alice@example.com via https://ex.org/a?b=1")))
              .otherwise(col("text")))
          .select(
            col("doc_id"),
            size(regexp_extract_all(col("aug"), lit(emailRe), lit(0))).as("n_emails"),
            size(regexp_extract_all(col("aug"), lit(urlRe), lit(0))).as("n_urls"),
            regexp_replace(regexp_replace(col("aug"), emailRe, "<EMAIL>"),
              urlRe, "<URL>").as("scrubbed"))
      },
      oracle = Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}'))
                 AS INT) AS n_emails,
               CAST(len(regexp_extract_all(aug, 'https?://[^\s]+')) AS INT) AS n_urls,
               regexp_replace(
                 regexp_replace(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
                 'https?://[^\s]+', '<URL>', 'g') AS scrubbed
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 5 = 0
                          THEN text || ' contact alice@example.com via https://ex.org/a?b=1'
                          ELSE text END AS aug
              FROM documents)""")),

    // Curation gate: the keep/drop funnel over language + length + stopword
    // density (the documents-table analog of the bronze quality gate).
    "llm_curate" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .withColumn("n_tokens", size(col("toks")))
        .withColumn("stop_ratio",
          expr("size(filter(toks, t -> t = 'the' or t = 'a' or t = 'of'))").cast("double")
            / col("n_tokens"))
        .filter(col("lang").isin("en", "fr", "es") &&
          col("n_chars").between(100, 500) &&
          col("stop_ratio") < 0.4)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          col("n_tokens"), col("stop_ratio")),
      oracle = Some("""
        SELECT doc_id, lang, n_chars,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))
                    AS DOUBLE) / len(toks) AS stop_ratio
        FROM (SELECT *, string_split_regex(lower(text), '\s+') AS toks FROM documents)
        WHERE lang IN ('en', 'fr', 'es') AND n_chars BETWEEN 100 AND 500
          AND CAST(len(list_filter(toks, t -> t = 'the' OR t = 'a' OR t = 'of'))
                   AS DOUBLE) / len(toks) < 0.4""")),

    // Stratified sampling by language (training-mix curation), via
    // content-addressed hash buckets rather than RNG-stream Bernoulli
    // (`sampleBy`): a row is kept iff the low 10 bits of
    // md5_long(seed ‖ doc_id) fall under its stratum's threshold of 1024.
    // This is the reproducible-sampling contract a 100 TB pipeline needs —
    // membership is a pure function of the row, stable across reruns,
    // partitionings, and engines — which also makes it DuckDB-checkable
    // bit-for-bit (md5_long == md5_number_upper; see graft.functions.Md5Hash).
    "llm_sample_stratified" -> QuerySpec(
      fn = (s, dir) => {
        docs(s, dir)
          .withColumn("bucket",
            expr("md5_long(concat('smp42:', CAST(doc_id AS STRING))) & 1023"))
          .withColumn("threshold",
            expr("""CASE lang WHEN 'en' THEN 512 WHEN 'fr' THEN 1024
                              WHEN 'es' THEN 256 WHEN 'de' THEN 102
                              ELSE 0 END"""))
          .filter(col("bucket") < col("threshold"))
          .select(col("doc_id"), col("lang"))
      },
      oracle = Some("""
        SELECT doc_id, lang FROM documents
        WHERE (md5_number_upper('smp42:' || CAST(doc_id AS VARCHAR)) & 1023)
              < CASE lang WHEN 'en' THEN 512 WHEN 'fr' THEN 1024
                          WHEN 'es' THEN 256 WHEN 'de' THEN 102
                          ELSE 0 END""")),

    // ------------------------------------------------------------------
    // Content-defined chunking: a chunk boundary opens wherever the 8-char
    // rolling hash ≡ 0 (mod 64) — boundaries move with content, not
    // offsets, so an edit only re-chunks its neighborhood (the property
    // sub-document dedup needs). Emits (chunk index, start, length, hash).
    "llm_text_chunk" -> QuerySpec(
      fn = (s, dir) => {
        // One codegen pass per document ([[graft.functions.CdcChunks]]) —
        // same declarative semantics as the oracle below, minus the
        // interpreted per-window folds the HOF formulation paid.
        docs(s, dir)
          .select(col("doc_id"), explode(expr("cdc_chunks(text)")).as("c"))
          .select(
            col("doc_id"),
            col("c.idx").as("chunk_idx"),
            col("c.start").as("chunk_start"),
            col("c.len").as("chunk_len"),
            col("c.hash").as("chunk_hash"))
      },
      oracle = Some {
        def pf(e: String) =
          s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
              (h, c) -> (h * 31 + c) % 1000000007)"""
        s"""
        WITH b AS (
          SELECT doc_id, text,
                 list_filter([i for i in generate_series(1, greatest(length(text) - 7, 1))],
                             i -> ${pf("substring(text, i, 8)")} % 64 = 0) AS bnds
          FROM documents),
        st AS (
          SELECT doc_id, text,
                 CASE WHEN len(bnds) > 0 AND bnds[1] = 1 THEN bnds
                      ELSE list_concat([1], bnds) END AS starts
          FROM b),
        ch AS (
          SELECT doc_id, text,
                 unnest([{'idx': j,
                          'start': starts[j + 1],
                          'len': (CASE WHEN j + 1 < len(starts)
                                       THEN starts[j + 2]
                                       ELSE length(text) + 1 END) - starts[j + 1]}
                         for j in generate_series(0, len(starts) - 1)]) AS c
          FROM st)
        SELECT doc_id,
               CAST(c.idx AS INT) AS chunk_idx,
               CAST(c.start AS INT) AS chunk_start,
               CAST(c.len AS INT) AS chunk_len,
               ${pf("substring(text, c.start, c.len)")} AS chunk_hash
        FROM ch"""
      }),

    // ------------------------------------------------------------------
    // Custom Generator (the UDTF surface, SURVEY §2.9): sliding token
    // windows for long-document chunking — 512-token windows at 256-token
    // stride in production, 16/8 on fixtures. [[graft.functions.TokenWindows]]
    // streams windows through GenerateExec row-at-a-time (peak memory = one
    // window per document, independent of document length), where the
    // compositional explode(transform(sequence(...))) spelling materializes
    // every window as one array value first. Called from SQL via LATERAL
    // VIEW exactly like a built-in generator.
    "llm_udtf_windows" -> QuerySpec(
      fn = (s, dir) => {
        docs(s, dir).createOrReplaceTempView("documents")
        s.sql("""
          SELECT doc_id, w.win_id, w.tok_start, w.tok_count, w.win_text
          FROM documents
          LATERAL VIEW token_windows(text, 16, 8) w
            AS win_id, tok_start, tok_count, win_text""")
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '\s+'),
                             x -> x <> '') AS t
          FROM documents),
        g AS (
          SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 8)) AS s
          FROM toks WHERE len(t) > 0)
        SELECT doc_id,
               CAST(s // 8 AS INT) AS win_id,
               CAST(s AS INT) AS tok_start,
               CAST(least(16, len(t) - s) AS INT) AS tok_count,
               array_to_string(t[s + 1 : least(s + 16, len(t))], ' ')
                 AS win_text
        FROM g""")),

    // ------------------------------------------------------------------
    // Rolling-hash fingerprints: whole-text polynomial hash + the minimum
    // 8-char-window hash (the winnowing primitive).
    "llm_text_fingerprint" -> QuerySpec(
      fn = (s, dir) => {
        // Native codegen expression (PolyFingerprint) — one loop per row;
        // the built-in equivalent is the interpreted fold in [[polyHash]].
        docs(s, dir)
          .withColumn("fp", expr("poly_fingerprint(text)"))
          .select(
            col("doc_id"),
            col("fp").getItem(0).as("full_hash"),
            col("fp").getItem(1).as("min_window_hash"))
      },
      oracle = Some(s"""
        SELECT doc_id,
               ${polyHashSql("text")} AS full_hash,
               list_min([${polyHashSql("substring(text, i, 8)")}
                         for i in generate_series(1, greatest(length(text) - 7, 1))])
                 AS min_window_hash
        FROM documents""")),

    // ------------------------------------------------------------------
    // BM25 relevance scoring for a fixed query (the retrieval-side scoring
    // a curation pipeline uses to rank documents against a probe query).
    // Shape: one shuffle-free scan computes per-doc term frequencies and
    // length; a single-row stats aggregate (N, avgdl, per-term df)
    // broadcasts onto the scan; top-100 via TakeOrderedAndProject. At
    // 100 TB the stats row is the only global state — two passes over the
    // corpus, no per-term shuffle.
    //
    // Numeric discipline: idf uses the RATIONAL Robertson–Spärck-Jones
    // core (N − df + 0.5)/(df + 0.5) WITHOUT the log wrapper — ln is
    // transcendental and libm last-ulp behavior differs across engines,
    // which would break hash comparison. Monotonicity (and therefore
    // ranking) is unchanged; only the score scale differs from textbook
    // BM25. Every remaining operation is IEEE add/mul/div in one fixed
    // association order on both engines.
    "llm_text_bm25" -> QuerySpec(
      fn = (s, dir) => {
        val d = docs(s, dir)
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
        // k1 = 1.2, b = 0.75 ⇒ tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)).
        def termScore(tf: Column, df: Column): Column =
          ((col("n_docs") - df + lit(0.5)) / (df + lit(0.5))) *
            ((tf * lit(2.2)) /
              (tf + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl")))))
        d.crossJoin(broadcast(stats))
          .select(col("doc_id"), col("tf_spark"), col("tf_query"), col("tf_vector"),
            ((termScore(col("tf_spark"), col("df_spark")) +
              termScore(col("tf_query"), col("df_query"))) +
              termScore(col("tf_vector"), col("df_vector"))).as("score"))
          .orderBy(col("score").desc, col("doc_id"))
          .limit(100)
      },
      oracle = Some("""
        WITH d AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS dl,
                 CAST(len(list_filter(toks, t -> t = 'spark')) AS INT) AS tf_spark,
                 CAST(len(list_filter(toks, t -> t = 'query')) AS INT) AS tf_query,
                 CAST(len(list_filter(toks, t -> t = 'vector')) AS INT) AS tf_vector
          FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
                FROM documents)),
        st AS (
          SELECT COUNT(*) AS n_docs,
                 CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
                 CAST(SUM(CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_spark,
                 CAST(SUM(CASE WHEN tf_query > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_query,
                 CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
          FROM d)
        SELECT doc_id, tf_spark, tf_query, tf_vector,
               ((((n_docs - df_spark + 0.5) / (df_spark + 0.5)) *
                 ((tf_spark * 2.2) /
                  (tf_spark + 1.2 * (0.25 + 0.75 * (dl / avgdl)))) +
                 ((n_docs - df_query + 0.5) / (df_query + 0.5)) *
                 ((tf_query * 2.2) /
                  (tf_query + 1.2 * (0.25 + 0.75 * (dl / avgdl))))) +
                ((n_docs - df_vector + 0.5) / (df_vector + 0.5)) *
                ((tf_vector * 2.2) /
                 (tf_vector + 1.2 * (0.25 + 0.75 * (dl / avgdl))))) AS score
        FROM d, st
        ORDER BY score DESC, doc_id LIMIT 100""")),

    // Exact corpus heavy hitters: tokens carrying ≥ 1% of ALL token
    // occurrences (boilerplate detection — the tokens worth special-casing
    // or stripping before dedup). Two hash aggregates + a broadcast of the
    // single total row; at 100 TB the same shape holds (term counts are a
    // map-side-combined shuffle over the vocabulary, not the corpus). An
    // approximate first pass (count-min / freqItems) could pre-filter
    // candidates, but the exact aggregate is already one shuffle, so a
    // sketch would only help when even the vocabulary is shuffle-hostile.
    "llm_text_heavyhitters" -> QuerySpec(
      fn = (s, dir) => {
        val terms = docs(s, dir)
          .select(explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("tf"))
        val total = terms.agg(sum(col("tf")).as("total"))
        terms.crossJoin(broadcast(total))
          .withColumn("share", col("tf") / col("total"))
          .filter(col("share") >= 0.01)
          .select(col("term"), col("tf"), col("share"))
          .orderBy(col("tf").desc, col("term"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT term, COUNT(*) AS tf
          FROM (SELECT unnest(string_split_regex(lower(text), '\s+')) AS term
                FROM documents)
          GROUP BY term),
        tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM t)
        SELECT term, tf, tf / total AS share
        FROM t, tot
        WHERE tf / total >= 0.01
        ORDER BY tf DESC, term""")),

    // Test-set decontamination: for an eval set (here the `src0` slice of
    // the corpus), find every training document sharing at least one
    // 8-token n-gram with an eval document, with the count of distinct
    // shared grams — the standard benchmark-leakage scan run before
    // training. Grams are hashed with md5_long (== DuckDB's
    // md5_number_upper, so the oracle rebuilds identical gram ids); the
    // collision pass is an equi-join on the gram hash — work scales with
    // gram collisions, never |train|×|eval|. At 100 TB the eval side is
    // tiny and broadcast; the train side streams one scan.
    "llm_decontaminate" -> QuerySpec(
      fn = (s, dir) => {
        val grams = docs(s, dir)
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .select(col("doc_id"), col("source"),
            explode(expr("""transform(sequence(1, greatest(size(toks) - 7, 1)),
              i -> md5_long(concat_ws(' ', slice(toks, i, 8))))""")).as("gh"))
          .distinct()
        val evalSet = grams.filter(col("source") === "src0")
          .select(col("doc_id").as("eval_doc"), col("gh"))
        val train = grams.filter(col("source") =!= "src0")
          .select(col("doc_id").as("train_doc"), col("gh"))
        train.join(broadcast(evalSet), "gh")
          .groupBy(col("train_doc"), col("eval_doc"))
          .agg(count(lit(1)).as("n_shared"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT DISTINCT * FROM (
            SELECT doc_id, source,
                   unnest([md5_number_upper(array_to_string(toks[i:i+7], ' '))
                           for i in generate_series(1, greatest(len(toks) - 7, 1))])
                     AS gh
            FROM (SELECT doc_id, source,
                         string_split_regex(lower(text), '\s+') AS toks
                  FROM documents)))
        SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS n_shared
        FROM g t JOIN g e USING (gh)
        WHERE t.source <> 'src0' AND e.source = 'src0'
        GROUP BY 1, 2""")),

    // ------------------------------------------------------------------
    // N-gram novelty: per document, how many of its word trigrams are
    // (a) distinct within the doc and (b) unique to it corpus-wide
    // (df = 1) — the inverse of the decontamination overlap, used to
    // up-weight genuinely novel text in curation mixes. Grams are 8-byte
    // md5_long keys (== DuckDB md5_number_upper), so the global
    // document-frequency pass shuffles hashes, never gram strings; df
    // comes from one count window over the gram key — work scales with
    // corpus gram volume, and every output column is an integer count
    // (hash-exact, callers form the ratios).
    "llm_ngram_novelty" -> QuerySpec(
      fn = (s, dir) => {
        // §2.5 widening: tokenize + trigram md5 behind a one-row-group
        // scan — spread the derivation; no-op at cluster scale.
        val perDoc = graft.api.Fanout.widenBy(
            docs(s, dir).select(col("doc_id"), col("source"), col("text")),
            col("doc_id"))
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .select(col("doc_id"), col("source"),
            explode(expr("""transform(sequence(1, greatest(size(toks) - 2, 1)),
              i -> md5_long(concat_ws(' ', slice(toks, i, 3))))""")).as("gh"))
          .groupBy(col("doc_id"), col("source"), col("gh"))
          .agg(count(lit(1)).as("occ"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("gh"))
        perDoc
          .withColumn("df", count(lit(1)).over(w))
          .groupBy(col("doc_id"), col("source"))
          .agg(
            sum(col("occ")).as("n_grams"),
            count(lit(1)).as("n_distinct"),
            sum(when(col("df") === 1, lit(1L)).otherwise(lit(0L))).as("n_unique"))
      },
      oracle = Some("""
        WITH e AS (
          SELECT doc_id, source,
                 unnest([md5_number_upper(array_to_string(toks[i:i+2], ' '))
                         for i in generate_series(1, greatest(len(toks) - 2, 1))])
                   AS gh
          FROM (SELECT doc_id, source,
                       string_split_regex(lower(text), '\s+') AS toks
                FROM documents)),
        d AS (
          SELECT doc_id, source, gh, COUNT(*) AS occ
          FROM e GROUP BY 1, 2, 3),
        j AS (
          SELECT doc_id, source, occ,
                 COUNT(*) OVER (PARTITION BY gh) AS df
          FROM d)
        SELECT doc_id, source,
               CAST(SUM(occ) AS BIGINT) AS n_grams,
               COUNT(*) AS n_distinct,
               CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unique
        FROM j GROUP BY 1, 2""")),

    // ------------------------------------------------------------------
    // Per-source document caps (domain balancing): keep at most 15 docs
    // per source, chosen by content-addressed hash order so the survivors
    // are a stable pseudo-random subset — rerunning on reshuffled input
    // keeps the SAME documents (unlike LIMIT, which keeps arbitrary ones).
    // One shuffle on source + rank filter. At 100 TB a heavy-hitter
    // domain makes one partition hot; the fix is a pre-pass that samples
    // per-source counts and short-circuits sources under the cap straight
    // through, ranking only the over-cap tail (the same two-phase shape
    // as the salted top-k in operators/Skew.scala).
    "llm_source_cap" -> QuerySpec(
      fn = (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("pri"), col("doc_id"))
        docs(s, dir)
          .withColumn("pri",
            expr("md5_long(concat('cap7:', CAST(doc_id AS STRING))) & 4294967295"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 15)
          .select(col("doc_id"), col("source"), col("rn").cast("int").as("rn"))
      },
      oracle = Some("""
        SELECT doc_id, source, CAST(rn AS INT) AS rn FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5_number_upper('cap7:' || CAST(doc_id AS VARCHAR))
                             & 4294967295, doc_id) AS rn
          FROM documents)
        WHERE rn <= 15""")),

    // ------------------------------------------------------------------
    // Repetition filter (Gopher-style): fraction of word 3-grams that are
    // duplicates of an earlier 3-gram in the SAME document. Computed
    // entirely inside one projection (array HOFs — no explode, no
    // shuffle): per-row work is O(tokens), corpus work is one scan.
    // The ratio is int/int in double, bit-identical across engines.
    "llm_repetition" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .withColumn("grams", expr(
          """transform(sequence(1, greatest(size(toks) - 2, 1)),
               i -> concat_ws(' ', slice(toks, i, 3)))"""))
        .select(
          col("doc_id"),
          size(col("grams")).as("n_grams"),
          size(array_distinct(col("grams"))).as("n_distinct"),
          (lit(1.0) - size(array_distinct(col("grams"))).cast("double")
            / size(col("grams"))).as("dup_frac"))
        .withColumn("flag_repetitive", col("dup_frac") > 0.2),
      oracle = Some("""
        SELECT doc_id, n_grams, n_distinct,
               1.0 - CAST(n_distinct AS DOUBLE) / n_grams AS dup_frac,
               (1.0 - CAST(n_distinct AS DOUBLE) / n_grams) > 0.2
                 AS flag_repetitive
        FROM (
          SELECT doc_id, CAST(len(grams) AS INT) AS n_grams,
                 CAST(len(list_distinct(grams)) AS INT) AS n_distinct
          FROM (
            SELECT doc_id,
                   [array_to_string(toks[i:i+2], ' ')
                    for i in generate_series(1, greatest(len(toks) - 2, 1))]
                     AS grams
            FROM (SELECT doc_id, string_split_regex(lower(text), '\s+') AS toks
                  FROM documents)))""")),

    // ------------------------------------------------------------------
    // Bigram language model with add-one smoothing: P(w2|w1) =
    // (c(w1,w2)+1) / (c(w1·)+V). The follower count c(w1·) rides the
    // SAME shuffle as the bigram counts (a window sum over w1), and the
    // vocabulary size V is a broadcast scalar — two exchanges total for
    // the whole model, independent of corpus size. Top-100 most
    // predictive pairs via TakeOrderedAndProject.
    "llm_ngram_lm" -> QuerySpec(
      fn = (s, dir) => {
        val pairs = docs(s, dir)
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .filter(size(col("toks")) >= 2)
          .select(explode(expr(
            """transform(sequence(1, size(toks) - 1),
                 i -> struct(element_at(toks, i) AS w1,
                             element_at(toks, i + 1) AS w2))""")).as("p"))
          .select(col("p.w1"), col("p.w2"))
        val counts = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .withColumn("c1", sum(col("c12")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("w1"))))
        val vocab = pairs.select(countDistinct(col("w2")).as("v"))
        counts.crossJoin(broadcast(vocab))
          .select(col("w1"), col("w2"), col("c12"), col("c1"),
            ((col("c12") + 1).cast("double") / (col("c1") + col("v"))).as("p"))
          .orderBy(col("p").desc, col("w1"), col("w2"))
          .limit(100)
      },
      oracle = Some("""
        WITH pairs AS (
          SELECT unnest([{'w1': toks[i], 'w2': toks[i+1]}
                         for i in generate_series(1, len(toks) - 1)],
                        recursive := true)
          FROM (SELECT string_split_regex(lower(text), '\s+') AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        counts AS (
          SELECT w1, w2, COUNT(*) AS c12,
                 SUM(COUNT(*)) OVER (PARTITION BY w1) AS c1
          FROM pairs GROUP BY w1, w2),
        vocab AS (SELECT COUNT(DISTINCT w2) AS v FROM pairs)
        SELECT w1, w2, c12, CAST(c1 AS BIGINT) AS c1,
               CAST(c12 + 1 AS DOUBLE) / (c1 + v) AS p
        FROM counts, vocab
        ORDER BY p DESC, w1, w2 LIMIT 100""")),

    // ------------------------------------------------------------------
    // LM-based quality scoring (CCNet-style, rational form): a reference
    // bigram model is built from the trusted slice (sources src0–src4),
    // and every OTHER document is scored by its in-model bigram fraction —
    // low coverage = out-of-domain / junk. The score is int/int (no
    // log-likelihood), so it is bit-identical across engines while ranking
    // documents the same way a perplexity filter would. Grams are md5
    // hashes (compact fixed-width join keys); the collision join is an
    // equi-join on the hash — work scales with matches, never |docs|×|model|.
    // At 100 TB the model side is the small one and broadcasts.
    "llm_lm_score" -> QuerySpec(
      fn = (s, dir) => {
        val trusted = Seq("src0", "src1", "src2", "src3", "src4")
        val grams = docs(s, dir)
          .withColumn("toks", split(lower(col("text")), "\\s+"))
          .filter(size(col("toks")) >= 2)
          .select(col("doc_id"), col("source"),
            explode(expr("""transform(sequence(1, size(toks) - 1),
              i -> md5_long(concat_ws(' ', slice(toks, i, 2))))""")).as("gh"))
        val model = grams.filter(col("source").isin(trusted: _*))
          .select(col("gh")).distinct()
          .withColumn("known", lit(1))
        grams.filter(!col("source").isin(trusted: _*))
          .join(broadcast(model), Seq("gh"), "left")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            count(col("known")).as("n_known"))
          .withColumn("coverage",
            col("n_known").cast("double") / col("n_bigrams"))
          .withColumn("flag_lowq", col("coverage") < 0.5)
      },
      oracle = Some("""
        WITH g AS (
          SELECT doc_id, source,
                 unnest([md5_number_upper(array_to_string(toks[i:i+1], ' '))
                         for i in generate_series(1, len(toks) - 1)]) AS gh
          FROM (SELECT doc_id, source,
                       string_split_regex(lower(text), '\s+') AS toks
                FROM documents)
          WHERE len(toks) >= 2),
        model AS (
          SELECT DISTINCT gh FROM g
          WHERE source IN ('src0','src1','src2','src3','src4')),
        scored AS (
          SELECT g.doc_id, COUNT(*) AS n_bigrams,
                 COUNT(m.gh) AS n_known
          FROM g LEFT JOIN model m ON g.gh = m.gh
          WHERE g.source NOT IN ('src0','src1','src2','src3','src4')
          GROUP BY g.doc_id)
        SELECT doc_id, n_bigrams, n_known,
               CAST(n_known AS DOUBLE) / n_bigrams AS coverage,
               (CAST(n_known AS DOUBLE) / n_bigrams) < 0.5 AS flag_lowq
        FROM scored""")),

    // ------------------------------------------------------------------
    // Classifier-based quality filtering (fasttext-style INFERENCE shape):
    // documents scored by a linear model over hashed token features —
    // tokens bucket into 64 dims (feature hashing, as llm_text_hashvec),
    // the 64-weight vector joins as a BROADCAST, and the margin is the
    // mean feature weight. At 100 TB this is the cheapest model-based
    // filter there is: one narrow scan, one broadcast join, one hash
    // aggregate, no shuffle of the corpus beyond the per-doc agg. The
    // "trained" weights are hash-derived integers here so the oracle
    // rebuilds the identical model (md5_long == md5_number_upper); score
    // arithmetic is integer-sum / count — exact on both engines. A real
    // deployment swaps the weight table for trained parameters; the plan
    // is unchanged.
    "llm_quality_classifier" -> QuerySpec(
      fn = (s, dir) => {
        val toks = docs(s, dir)
          .select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("tok"))
          .withColumn("dim", pmod(expr("md5_long(tok)"), lit(64)))
        val weights = s.range(0, 64)
          .select(col("id").as("dim"),
            (expr("md5_long(concat('w', CAST(id AS STRING))) & 2047") - 1024)
              .as("w"))
        toks.join(broadcast(weights), "dim")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_tokens"),
            (sum(col("w")) / count(lit(1))).as("score"))
          .withColumn("keep", col("score") > 0.0)
      },
      oracle = Some("""
        WITH toks AS (
          SELECT doc_id,
                 md5_number_upper(unnest(string_split_regex(lower(text), '\s+')))
                   % 64 AS dim
          FROM documents),
        weights AS (
          SELECT i AS dim,
                 CAST(md5_number_upper('w' || CAST(i AS VARCHAR)) & 2047
                      AS BIGINT) - 1024 AS w
          FROM range(0, 64) t(i))
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(w) AS DOUBLE) / COUNT(*) AS score,
               (CAST(SUM(w) AS DOUBLE) / COUNT(*)) > 0.0 AS keep
        FROM toks JOIN weights USING (dim)
        GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Fixed-budget uniform sample: EXACTLY 100 documents, chosen by
    // content-addressed hash order — no count pass, no sampleBy fraction
    // drift, and the winners are a pure function of the data (stable
    // across reruns and partitionings). Physically a TakeOrderedAndProject
    // on the 32-bit-masked hash (signed/unsigned order agrees under the
    // mask): each partition keeps its local top-100, the driver merges —
    // O(parts × 100) memory, never a global sort, at any corpus size.
    "llm_sample_fixed" -> QuerySpec(
      fn = (s, dir) => {
        docs(s, dir)
          .withColumn("pri",
            expr("md5_long(concat('fix9:', CAST(doc_id AS STRING))) & 4294967295"))
          .orderBy(col("pri"), col("doc_id"))
          .limit(100)
          .select(col("doc_id"), col("source"), col("lang"))
      },
      oracle = Some("""
        SELECT doc_id, source, lang FROM documents
        ORDER BY md5_number_upper('fix9:' || CAST(doc_id AS VARCHAR))
                 & 4294967295, doc_id
        LIMIT 100""")),

    // ------------------------------------------------------------------
    // Sub-document (chunk-level) dedup: content-defined chunks shared by
    // ≥2 documents are the corpus's boilerplate — the dedup granularity
    // that catches repeated headers/footers whole-document hashing never
    // sees. One codegen chunking pass (cdc_chunks) + one hash aggregate on
    // (hash, len); work scales with chunk count, and because CDC
    // boundaries move with content, an edited copy still shares all its
    // untouched chunks.
    "llm_chunk_dedup" -> QuerySpec(
      fn = (s, dir) => {
        docs(s, dir)
          .select(col("doc_id"), explode(expr("cdc_chunks(text)")).as("c"))
          .groupBy(col("c.hash").as("chunk_hash"), col("c.len").as("chunk_len"))
          .agg(countDistinct(col("doc_id")).as("n_docs"),
            count(lit(1)).as("n_occ"))
          .filter(col("n_docs") >= 2)
      },
      oracle = Some(s"""
        WITH chunks AS ($chunkDerivationSql)
        SELECT chunk_hash, chunk_len,
               COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
        FROM chunks
        GROUP BY chunk_hash, chunk_len
        HAVING COUNT(DISTINCT doc_id) >= 2""")),

    // ------------------------------------------------------------------
    // BPE merge step (tokenizer induction): the 20 most frequent adjacent
    // character pairs inside words — iteration one of byte-pair-encoding
    // training, the corpus-scale statistic a tokenizer pipeline computes
    // before anything else. Per-row work is one array HOF chain (filter →
    // nested transform → flatten), corpus work is a single pair-count
    // shuffle + TakeOrderedAndProject.
    "llm_bpe_step" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .withColumn("toks", split(lower(col("text")), "\\s+"))
        .select(explode(expr(
          """flatten(transform(filter(toks, w -> length(w) >= 2),
               w -> transform(sequence(1, length(w) - 1),
                              i -> substring(w, i, 2))))""")).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(20),
      oracle = Some("""
        SELECT pair, COUNT(*) AS cnt FROM (
          SELECT unnest(flatten(
                   [[substring(w, i, 2)
                     for i in generate_series(1, length(w) - 1)]
                    for w in list_filter(
                      string_split_regex(lower(text), '\s+'),
                      w -> length(w) >= 2)])) AS pair
          FROM documents)
        GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""")),

    // ------------------------------------------------------------------
    // BPE TRAINING LOOP (3 merge rounds) — the iterative extension of
    // llm_bpe_step: word types split to character symbols, then each round
    // (1) counts adjacent symbol pairs weighted by word frequency,
    // (2) picks the most frequent pair (ties → lexicographic), and
    // (3) merges it greedily left-to-right in every word.
    //
    // Scale shape: the corpus is touched ONCE (the word-count shuffle);
    // all rounds then operate on the VOCAB-sized table — classic BPE
    // trains on type frequencies, so a 100 TB corpus reduces to ~1M vocab
    // rows before the loop starts. Each round's vocab is reliably
    // checkpointed (the iterative-operator discipline: no lineage-tree
    // re-execution, survives executor loss).
    //
    // The merge needs NO per-row scan loop in either engine: symbols are
    // serialized as '|'-wrapped, '||'-separated strings, and replacing
    // '|a||b|' with '|ab|' is exactly BPE's greedy left-to-right
    // non-overlapping merge (both engines' replace() scans left-to-right;
    // the double separator keeps neighbor boundaries intact when the
    // match consumes one '|' from each side, and symbols cannot contain
    // the separator). Identical string program both sides → the oracle
    // re-derives the same merges bit-for-bit.
    "llm_bpe_train" -> QuerySpec(
      fn = (s, dir) => bpeTrainDf(s, dir),
      oracle = Some(s"""
        WITH $bpeTrainCtes
        SELECT round, a, b, a || b AS merged, pc FROM (
          SELECT 1 AS round, a, b, pc FROM b1
          UNION ALL SELECT 2, a, b, pc FROM b2
          UNION ALL SELECT 3, a, b, pc FROM b3)""")),

    // ------------------------------------------------------------------
    // BPE APPLY (tokenizer inference): encode every document with the 3
    // merges llm_bpe_train learned, in learned order — per word the same
    // boundary-safe serialize → replace×3 → count program, so the oracle
    // (which re-derives the merges itself and applies them the same way)
    // checks the whole train→apply lifecycle. Per-doc output: character
    // count vs post-merge token count — the compression the tokenizer
    // bought. Scale shape: training reduces to the vocab table (see
    // llm_bpe_train); application is one codegen string-HOF pass over the
    // corpus, no shuffle, no explode — the merges ride in as 3 string
    // literals (driver-side O(1) state, the k-means-centroid discipline).
    "llm_bpe_apply" -> QuerySpec(
      fn = (s, dir) => {
        val merges = bpeTrainDf(s, dir).orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2)))
        def lit_(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        // Native codegen apply (round 15, guide §4): the per-word
        // serialize→replace×3→count program ran INTERPRETED inside HOF
        // lambdas (round-14's staged-transform halving measured flat —
        // the interpreter, not double evaluation, was the cost);
        // bpe_token_count runs the identical program as one tight loop
        // per word (BpeTokenCountSpec pins bit-equality).
        val pairsSql = merges.map { case (a, b) => s", ${lit_(a)}, ${lit_(b)}" }.mkString
        // Fanout: the apply program ran 1.25 s single-task at sf0.1
        // (one-row-group scan) — widen first.
        graft.api.Fanout.widen(docs(s, dir).select(col("doc_id"), col("text")))
          .select(col("doc_id"),
            expr("filter(split(lower(text), '\\\\s+'), w -> length(w) >= 1)").as("ws"))
          .filter(size(col("ws")) > 0)
          .select(col("doc_id"),
            // Σ length(w) = length of the concatenation — codegen, no HOF.
            length(expr("array_join(ws, '')")).cast("long").as("n_chars"),
            expr(s"bpe_token_count(ws$pairsSql)").as("n_tokens"))
      },
      oracle = Some(s"""
        WITH $bpeTrainCtes,
        ww AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    w -> length(w) >= 1)) AS w
          FROM documents),
        applied AS (
          SELECT doc_id, length(w) AS nc,
                 replace(replace(replace(
                     '|' || array_to_string(string_split(w, ''), '||') || '|',
                     '|' || (SELECT a FROM b1) || '||' || (SELECT b FROM b1) || '|',
                     '|' || (SELECT a FROM b1) || (SELECT b FROM b1) || '|'),
                     '|' || (SELECT a FROM b2) || '||' || (SELECT b FROM b2) || '|',
                     '|' || (SELECT a FROM b2) || (SELECT b FROM b2) || '|'),
                     '|' || (SELECT a FROM b3) || '||' || (SELECT b FROM b3) || '|',
                     '|' || (SELECT a FROM b3) || (SELECT b FROM b3) || '|') AS r3
          FROM ww)
        SELECT doc_id,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(SUM(len(string_split(substring(r3, 2, length(r3) - 2), '||')))
                 AS BIGINT) AS n_tokens
        FROM applied GROUP BY doc_id""")),

    // ------------------------------------------------------------------
    // Tokenizer fertility by language: chars-per-token of the learned BPE
    // merges PER LANGUAGE — the diagnostic that drives vocabulary
    // allocation in multilingual tokenizers (a language with low
    // compression is under-served by the merge table and trains on more,
    // shorter tokens). Same train→apply lifecycle as llm_bpe_apply
    // (merges re-derived by the oracle, applied via the boundary-safe
    // serialize→replace program), aggregated to |languages| rows; the
    // fertility ratio is ONE division of two exact integer sums.
    "llm_tokenizer_fertility" -> QuerySpec(
      fn = (s, dir) => {
        val merges = bpeTrainDf(s, dir).orderBy("round").collect()
          .map(r => (r.getString(1), r.getString(2)))
        def lit_(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        // Native codegen apply — same rewrite as llm_bpe_apply (§4).
        val pairsSql = merges.map { case (a, b) => s", ${lit_(a)}, ${lit_(b)}" }.mkString
        // Fanout: same single-task apply pass as llm_bpe_apply — widen.
        graft.api.Fanout.widen(
            docs(s, dir).select(col("doc_id"), col("lang"), col("text")))
          .select(col("doc_id"), col("lang"),
            expr("filter(split(lower(text), '\\\\s+'), w -> length(w) >= 1)").as("ws"))
          .filter(size(col("ws")) > 0)
          .select(col("lang"),
            length(expr("array_join(ws, '')")).cast("long").as("nc"),
            expr(s"bpe_token_count(ws$pairsSql)").as("nt"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("nc")).as("n_chars"),
            sum(col("nt")).as("n_tokens"))
          .select(col("lang"), col("n_docs"), col("n_chars"), col("n_tokens"),
            (col("n_chars").cast("double") / col("n_tokens"))
              .as("chars_per_token"))
      },
      oracle = Some(s"""
        WITH $bpeTrainCtes,
        ww AS (
          SELECT doc_id, lang,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    w -> length(w) >= 1)) AS w
          FROM documents),
        applied AS (
          SELECT doc_id, lang, length(w) AS nc,
                 replace(replace(replace(
                     '|' || array_to_string(string_split(w, ''), '||') || '|',
                     '|' || (SELECT a FROM b1) || '||' || (SELECT b FROM b1) || '|',
                     '|' || (SELECT a FROM b1) || (SELECT b FROM b1) || '|'),
                     '|' || (SELECT a FROM b2) || '||' || (SELECT b FROM b2) || '|',
                     '|' || (SELECT a FROM b2) || (SELECT b FROM b2) || '|'),
                     '|' || (SELECT a FROM b3) || '||' || (SELECT b FROM b3) || '|',
                     '|' || (SELECT a FROM b3) || (SELECT b FROM b3) || '|') AS r3
          FROM ww),
        perdoc AS (
          SELECT doc_id, lang,
                 CAST(SUM(nc) AS BIGINT) AS nc,
                 CAST(SUM(len(string_split(substring(r3, 2, length(r3) - 2),
                                           '||'))) AS BIGINT) AS nt
          FROM applied GROUP BY doc_id, lang)
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(nc) AS BIGINT) AS n_chars,
               CAST(SUM(nt) AS BIGINT) AS n_tokens,
               CAST(SUM(nc) AS DOUBLE) / SUM(nt) AS chars_per_token
        FROM perdoc GROUP BY lang""")),

    // ------------------------------------------------------------------
    // Sequence packing plan (training-window assembly): documents are
    // dealt into 32 content-hash shards, ordered deterministically within
    // each shard, and assigned (bin, offset) positions against a 512-token
    // window capacity via a running token cumsum — the layout a packing
    // writer consumes. Packing per shard (not globally) is what scales: a
    // global running sum would serialize the corpus through one partition,
    // while shards pack independently — one bounded window per shard,
    // 100 TB in parallel. Straddling docs split/pad downstream; the plan
    // records where each doc starts.
    "llm_pack_sequences" -> QuerySpec(
      fn = (s, dir) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("shard")).orderBy(col("pri"), col("doc_id"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        docs(s, dir)
          .select(col("doc_id"),
            size(split(lower(col("text")), "\\s+")).as("n_tokens"),
            expr("md5_long(concat('pack3:', CAST(doc_id AS STRING)))").as("h"))
          .withColumn("shard", expr("h & 31"))
          .withColumn("pri", expr("h & 4294967295"))
          .withColumn("cum", sum(col("n_tokens")).over(w))
          .select(col("doc_id"), col("shard"), col("n_tokens"),
            expr("(cum - n_tokens) div 512").as("bin"),
            expr("(cum - n_tokens) % 512").as("offset"))
      },
      oracle = Some("""
        SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tokens,
               CAST((cum - n_tokens) // 512 AS BIGINT) AS bin,
               CAST((cum - n_tokens) % 512 AS BIGINT) AS "offset"
        FROM (
          SELECT doc_id, shard, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pri, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM (
            SELECT doc_id,
                   CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                     AS n_tokens,
                   md5_number_upper('pack3:' || CAST(doc_id AS VARCHAR)) & 31
                     AS shard,
                   md5_number_upper('pack3:' || CAST(doc_id AS VARCHAR))
                     & 4294967295 AS pri
            FROM documents))""")),

    // ------------------------------------------------------------------
    // Training-mix planning: per-source token inventories and the sampling
    // rate that caps every source at a 10k-token budget — the arithmetic
    // behind "N% web, M% code" mixture specs, as one aggregate over the
    // corpus. Feeding the rate into the content-addressed samplers above
    // (llm_sample_stratified / llm_source_cap) executes the plan.
    "llm_mix_weights" -> QuerySpec(
      fn = (s, dir) => docs(s, dir)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(lower(col("text")), "\\s+")).cast("long")).as("n_tokens"))
        .withColumn("sample_rate",
          least(lit(1.0), lit(10000.0) / col("n_tokens")))
        .withColumn("expected_tokens",
          floor(col("n_tokens") * col("sample_rate"))),
      oracle = Some("""
        SELECT source, n_docs, n_tokens,
               LEAST(CAST(1.0 AS DOUBLE), CAST(10000.0 AS DOUBLE) / n_tokens)
                 AS sample_rate,
               CAST(FLOOR(n_tokens * LEAST(CAST(1.0 AS DOUBLE),
                    CAST(10000.0 AS DOUBLE) / n_tokens)) AS BIGINT)
                 AS expected_tokens
        FROM (
          SELECT source, COUNT(*) AS n_docs,
                 CAST(SUM(len(string_split_regex(lower(text), '\s+')))
                      AS BIGINT) AS n_tokens
          FROM documents GROUP BY source)""")))

  /** The chunk relation (doc_id, chunk_hash, chunk_len) exactly as
    * `llm_text_chunk`'s oracle derives it — shared so chunk-consuming
    * oracles stay literally the same derivation. */
  private def chunkDerivationSql: String = {
    def pf(e: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
          (h, c) -> (h * 31 + c) % 1000000007)"""
    s"""
        SELECT doc_id,
               ${pf("substring(text, c.start, c.len)")} AS chunk_hash,
               CAST(c.len AS INT) AS chunk_len
        FROM (
          SELECT doc_id, text,
                 unnest([{'start': starts[j + 1],
                          'len': (CASE WHEN j + 1 < len(starts)
                                       THEN starts[j + 2]
                                       ELSE length(text) + 1 END) - starts[j + 1]}
                         for j in generate_series(0, len(starts) - 1)]) AS c
          FROM (
            SELECT doc_id, text,
                   CASE WHEN len(bnds) > 0 AND bnds[1] = 1 THEN bnds
                        ELSE list_concat([1], bnds) END AS starts
            FROM (
              SELECT doc_id, text,
                     list_filter([i for i in generate_series(1, greatest(length(text) - 7, 1))],
                                 i -> ${pf("substring(text, i, 8)")} % 64 = 0) AS bnds
              FROM documents)))"""
  }
}
