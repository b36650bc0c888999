package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators around SELECTION and EXPORT — the steps
  * between "the corpus is clean" and "the trainer reads shards":
  *
  *   - `llm_sample_weighted`: probability-proportional-to-size (PPS)
  *     Poisson sampling with Horvitz–Thompson inverse-probability weights —
  *     the standard way to draw a budgeted subsample whose estimates stay
  *     unbiased when documents differ in size/importance. Inclusion is a
  *     pure function of the row (content-addressed hash vs an exact
  *     integer threshold), so the sample is identical across reruns,
  *     partitionings, and engines: the inclusion test
  *     `u < B·w/ΣW` is evaluated as `h·ΣW < B·2³²·w` in exact wide-integer
  *     arithmetic (DECIMAL(38,0) here, HUGEINT in the oracle) — no
  *     floating-point boundary can flip membership. One count pass for ΣW
  *     (broadcast scalar), then a map-only filter: two scans, no shuffle.
  *   - `llm_script_profile`: per-document character-class profile
  *     (letters / vowels / spaces / other, ASCII-ness) — the script/charset
  *     signal multilingual curation filters on before tokenization.
  *     Counts come from `regexp_replace` + `length` inside whole-stage
  *     codegen; the only doubles are two single divisions of integers,
  *     bit-identical across engines. Zero shuffles.
  *   - `llm_decontaminate_fuzzy`: NEAR-duplicate test-set decontamination —
  *     the fuzzy complement of `llm_decontaminate`'s exact 8-gram scan:
  *     training documents whose shingle-Jaccard with an eval document
  *     reaches 0.5 (a paraphrased or lightly edited benchmark leak shares
  *     most of its 3-grams but few exact 8-grams). Candidates come from
  *     banded MinHash-LSH at r=2/b=64 (per-true-pair miss probability at
  *     τ=0.5 is (1 − 0.5²)⁶⁴ ≈ 1e-8) with the EVAL side broadcast — at
  *     100 TB the eval set is tiny and the training corpus streams one
  *     band scan; candidate verification is exact per-pair Jaccard, so
  *     every emitted pair is exactly correct. The oracle runs the naive
  *     cross-slice definition.
  *   - `llm_shuffle_export`: the deterministic GLOBAL SHUFFLE + sharding
  *     plan a trainer consumes — every document assigned a shard and a
  *     position within it by content-addressed hash order (epoch-salted:
  *     re-keying the salt re-shuffles). A single global sort would
  *     serialize the corpus through one task; per-shard windows keep all
  *     shards ordering in parallel (the `llm_pack_sequences` argument),
  *     and shard sizes concentrate tightly around N/16 by hash uniformity.
  *
  * Later additions in the same spirit: `llm_posting_index` (bounded
  * inverted-index export), `llm_contamination_report` (the one-row
  * eval-trust verdict over the fuzzy pair set), and
  * `llm_sample_temperature` (the mT5/XLM-R α=0.5 source-mixing rule with
  * an order-pinned √n fold).
  *
  * Hashes are `md5_long` (≡ DuckDB `md5_number_upper` bit-for-bit), so the
  * oracle rebuilds the same samples, bands excepted (bands are checked by
  * RESULT: the oracle recomputes the declared pair semantics naively).
  */
object CurationOps extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** PPS Poisson sample at expected budget `b` with weight column `w`
    * (positive integer). Inclusion: h·ΣW < b·2³²·w in exact integers. */
  def weightedSample(docsDf: DataFrame, b: Int, salt: String): DataFrame = {
    val tot = docsDf.agg(sum(col("n_chars")).cast("long").as("totw"))
    docsDf
      .crossJoin(broadcast(tot))
      .withColumn("h", expr(
        s"md5_long(concat('$salt:', CAST(doc_id AS STRING))) & 4294967295"))
      .filter(
        col("h").cast("decimal(38,0)") * col("totw").cast("decimal(38,0)") <
          lit(b.toLong * 4294967296L).cast("decimal(38,0)") *
            col("n_chars").cast("decimal(38,0)"))
      .select(
        col("doc_id"), col("source"), col("lang"),
        col("n_chars").as("w"),
        greatest(lit(1.0),
          col("totw").cast("double") / (lit(b.toDouble) * col("n_chars")))
          .as("ht_weight"))
  }

  /** Per-document character-class profile. */
  def scriptProfile(docsDf: DataFrame): DataFrame = {
    def cnt(pattern: String): org.apache.spark.sql.Column =
      length(regexp_replace(col("text"), pattern, ""))
    docsDf.select(
      col("doc_id"),
      length(col("text")).as("n_chars"),
      cnt("[^a-z]").as("n_alpha"),
      cnt("[^aeiou]").as("n_vowel"),
      cnt("[^ ]").as("n_space"),
      (length(col("text")) - cnt("[^a-z]") - cnt("[^ ]")).as("n_other"),
      (length(col("text")) === cnt("[^\\x00-\\x7F]")).as("is_ascii"),
      // greatest(_, 1): an empty document must not divide by zero — Spark
      // yields NULL there while DuckDB yields IEEE NaN, which would split
      // the engines on the same row.
      (cnt("[^a-z]").cast("double") /
        greatest(length(col("text")), lit(1))).as("alpha_frac"),
      (cnt("[^aeiou]").cast("double") /
        greatest(cnt("[^a-z]"), lit(1))).as("vowel_frac"))
  }

  /** Fuzzy decontamination: train docs (source ≠ evalSource) within
    * shingle-Jaccard ≥ tau of any eval doc (source = evalSource).
    *
    * `maxEvalDocs` BOUNDS the eval side (content-addressed hash order, so
    * the subset is deterministic and both engines pick the same docs):
    * the plan broadcasts eval bands/sets, which is only sound when the
    * eval side stays benchmark-sized — an unbounded eval slice growing
    * with the corpus measured superlinear at sf30 (87.6 s vs the 50.8 s
    * linear train-scan floor at the same scale). Real eval sets are
    * fixed; the cap makes the declared plan's contract hold at any corpus
    * size instead of assuming it. */
  /** The bounded eval set: `maxEvalDocs` docs of `evalSource` in
    * content-addressed hash order (deterministic on both engines). */
  def evalSetIds(docsDf: DataFrame, evalSource: String,
      maxEvalDocs: Int): DataFrame = {
    docsDf.filter(col("source") === evalSource)
      .select(col("doc_id"), expr(
        "md5_long(concat('eval:', CAST(doc_id AS STRING))) & 4294967295")
        .as("pri"))
      .orderBy(col("pri"), col("doc_id")).limit(maxEvalDocs)
      .select("doc_id")
  }

  def decontaminateFuzzy(docsDf: DataFrame, evalSource: String,
      tau: Double, maxEvalDocs: Int = 2000): DataFrame = {
    val evalIds = evalSetIds(docsDf, evalSource, maxEvalDocs)
    // Bands/sets are pure per-document functions, so each side is hashed
    // from ITS OWN slice — the eval passes run at eval-set scale (hashing
    // the whole corpus and filtering afterwards would re-pay the two most
    // expensive scans just to throw 99% away).
    def corpusOf(side: DataFrame) =
      side.select(col("doc_id"), lower(col("text")).as("text"))
    val evalCorpus = corpusOf(
      docsDf.join(broadcast(evalIds), Seq("doc_id"), "left_semi"))
    // Widen the train corpus before the two per-doc CPU passes (guide
    // §2.5): bandsOf (tokenize + shingle + 256-perm MinHash) and setsOf
    // (tokenize + shingle + xxhash) each ran single-task on the one-file
    // scan (476 + 661 ms of llm_contamination_report's 1.45 s at sf0.1);
    // the shared widen exchange is reused by both consumers.
    val trainCorpus = graft.api.Fanout.widen(
      corpusOf(docsDf.filter(col("source") =!= evalSource)))
    // r=2/b=64: per-true-pair miss (1 − τ²)^64 ≈ 1e-8 at τ=0.5.
    val evalB = broadcast(Dedup.bandsOf(evalCorpus, r = 2, b = 64)
      .select(col("doc_id").as("eval_doc"), col("band"), col("bh")))
    val trainB = Dedup.bandsOf(trainCorpus, r = 2, b = 64)
      .select(col("doc_id").as("train_doc"), col("band"), col("bh"))
    // Eval side broadcast: the train band table streams one scan — zero
    // corpus shuffle for candidate generation (the incrementPairs shape).
    val cand = trainB.join(evalB, Seq("band", "bh"))
      .select(col("train_doc"), col("eval_doc")).distinct()
    val evalSets = broadcast(Dedup.setsOf(evalCorpus)
      .select(col("doc_id").as("eval_doc"), col("sh").as("se"),
        col("n").as("ne")))
    // The candidate list is pair-scale (small); build IT as the hash side
    // rather than shuffling the shingle-set table into a sort.
    cand.hint("shuffle_hash")
      .join(Dedup.setsOf(trainCorpus)
        .select(col("doc_id").as("train_doc"), col("sh").as("st"),
          col("n").as("nt")), Seq("train_doc"))
      .join(evalSets, Seq("eval_doc"))
      .withColumn("i", expr("intersect_count(st, se)"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("nt") + col("ne") - col("i")))
      .filter(col("jaccard") >= tau)
      .select("train_doc", "eval_doc", "jaccard")
  }

  /** Deterministic global-shuffle export plan: (doc_id, shard, pos). */
  def shuffleExport(docsDf: DataFrame, nShards: Int, salt: String): DataFrame = {
    // `hash & (n-1)` is only a uniform modulus for powers of two.
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"nShards must be a power of two, got $nShards")
    val w = Window.partitionBy(col("shard")).orderBy(col("pri"), col("doc_id"))
    docsDf
      .withColumn("shard", expr(
        s"CAST(md5_long(concat('$salt:', CAST(doc_id AS STRING))) & ${nShards - 1} AS INT)"))
      .withColumn("pri", expr(
        s"md5_long(concat('$salt-ord:', CAST(doc_id AS STRING))) & 4294967295"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("shard"), col("pos"), col("source"))
  }

  /** Length-curriculum export: train short→long (the standard warm-up
    * curriculum). Phase = FIXED token-count bucket (<16, <32, <64, rest) —
    * fixed thresholds need no quantile pass over the corpus; shard within
    * phase and position within shard come from two salted content hashes,
    * so per-(phase, shard) windows keep every shard ordering in parallel
    * (the [[shuffleExport]] argument — a single global sort would
    * serialize the corpus through one task). The trainer consumes phases
    * in order, round-robin over a phase's shards. Re-salting re-shuffles
    * within phases without moving any document across phases. */
  def curriculumExport(docsDf: DataFrame, nShards: Int, salt: String): DataFrame = {
    require(nShards > 0 && (nShards & (nShards - 1)) == 0,
      s"nShards must be a power of two, got $nShards")
    val w = Window.partitionBy(col("phase"), col("shard"))
      .orderBy(col("pri"), col("doc_id"))
    docsDf
      .withColumn("n_tokens",
        size(split(lower(col("text")), "\\s+")).cast("long"))
      .withColumn("phase", expr(
        """CASE WHEN n_tokens < 16 THEN 0 WHEN n_tokens < 32 THEN 1
                WHEN n_tokens < 64 THEN 2 ELSE 3 END"""))
      .withColumn("shard", expr(
        s"CAST(md5_long(concat('$salt:', CAST(doc_id AS STRING))) & ${nShards - 1} AS INT)"))
      .withColumn("pri", expr(
        s"md5_long(concat('$salt-ord:', CAST(doc_id AS STRING))) & 4294967295"))
      .withColumn("pos", row_number().over(w))
      .select(col("doc_id"), col("n_tokens"), col("phase"), col("shard"),
        col("pos"), col("source"))
  }

  /** Shared DuckDB CTEs for the fuzzy-decontamination pair set (bounded
    * eval side, shingles, sizes, verified pairs at τ=0.5) — composed by
    * both the pair query and the contamination report. */
  private val fuzzyCtes = """
        eval_ids AS (
          SELECT doc_id FROM documents WHERE source = 'src0'
          ORDER BY md5_number_upper('eval:' || CAST(doc_id AS VARCHAR))
                     & 4294967295, doc_id
          LIMIT 2000),
        corpus AS (SELECT doc_id, lower(text) AS text FROM documents),
        sh AS (
          SELECT doc_id,
                 unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                   for i in generate_series(1, greatest(len(toks) - 2, 1))]))
                   AS shingle
          FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
                FROM corpus)),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        inter AS (
          SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS i
          FROM sh t JOIN sh e ON t.shingle = e.shingle
          JOIN documents dt ON dt.doc_id = t.doc_id
          JOIN eval_ids de ON de.doc_id = e.doc_id
          WHERE dt.source <> 'src0'
          GROUP BY 1, 2),
        fuzzy AS (
          SELECT train_doc, eval_doc,
                 CAST(i AS DOUBLE) / (st.n + se.n - i) AS jaccard
          FROM inter
          JOIN sizes st ON st.doc_id = train_doc
          JOIN sizes se ON se.doc_id = eval_doc
          WHERE CAST(i AS DOUBLE) / (st.n + se.n - i) >= 0.5)"""

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    "llm_sample_weighted" -> QuerySpec(
      fn = (s, dir) => weightedSample(docs(s, dir), b = 100, salt = "wps"),
      oracle = Some("""
        WITH tot AS (SELECT CAST(SUM(n_chars) AS BIGINT) AS totw FROM documents)
        SELECT doc_id, source, lang, n_chars AS w,
               greatest(1.0, CAST(totw AS DOUBLE) / (100.0 * n_chars))
                 AS ht_weight
        FROM documents, tot
        WHERE CAST(md5_number_upper('wps:' || CAST(doc_id AS VARCHAR))
                   & 4294967295 AS HUGEINT) * totw
              < CAST(429496729600 AS HUGEINT) * n_chars""")),

    // ------------------------------------------------------------------
    "llm_script_profile" -> QuerySpec(
      fn = (s, dir) => scriptProfile(docs(s, dir)),
      oracle = Some("""
        SELECT doc_id,
               CAST(len(text) AS INT) AS n_chars,
               CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS INT)
                 AS n_alpha,
               CAST(len(regexp_replace(text, '[^aeiou]', '', 'g')) AS INT)
                 AS n_vowel,
               CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS INT)
                 AS n_space,
               CAST(len(text)
                    - len(regexp_replace(text, '[^a-z]', '', 'g'))
                    - len(regexp_replace(text, '[^ ]', '', 'g')) AS INT)
                 AS n_other,
               len(text) = len(regexp_replace(text, '[^\x00-\x7F]', '', 'g'))
                 AS is_ascii,
               CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                 / greatest(len(text), 1) AS alpha_frac,
               CAST(len(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
                 / greatest(len(regexp_replace(text, '[^a-z]', '', 'g')), 1)
                 AS vowel_frac
        FROM documents""")),

    // ------------------------------------------------------------------
    "llm_decontaminate_fuzzy" -> QuerySpec(
      fn = (s, dir) => decontaminateFuzzy(docs(s, dir), "src0", tau = 0.5),
      oracle = Some(s"""
        WITH $fuzzyCtes
        SELECT train_doc, eval_doc, jaccard FROM fuzzy""")),

    // ------------------------------------------------------------------
    // Benchmark contamination report: the one-row verdict a team reads
    // before trusting an eval number — how much of the (bounded) eval set
    // has a near-duplicate leak in the training corpus. Composes the
    // fuzzy-decontamination pair set (same bounded eval side and τ) into
    // eval-set size, leaked-doc count, pair count, leak rate, and the
    // worst similarity. Aggregation state is pair-scale; the expensive
    // part is the one train scan the pair query already prices.
    "llm_contamination_report" -> QuerySpec(
      fn = (s, dir) => {
        val d = docs(s, dir)
        val ev = evalSetIds(d, "src0", 2000)
          .agg(count(lit(1)).as("n_eval"))
        val lk = decontaminateFuzzy(d, "src0", tau = 0.5).agg(
          countDistinct(col("eval_doc")).as("n_leaky"),
          count(lit(1)).as("n_pairs"),
          max(col("jaccard")).as("max_jaccard"))
        ev.crossJoin(lk).select(
          col("n_eval"), col("n_leaky"), col("n_pairs"),
          (col("n_leaky").cast("double") / col("n_eval")).as("leak_rate"),
          col("max_jaccard"))
      },
      oracle = Some(s"""
        WITH $fuzzyCtes,
        ev AS (SELECT COUNT(*) AS n_eval FROM eval_ids),
        lk AS (SELECT COUNT(DISTINCT eval_doc) AS n_leaky,
                      COUNT(*) AS n_pairs,
                      MAX(jaccard) AS max_jaccard
               FROM fuzzy)
        SELECT n_eval, n_leaky, n_pairs,
               CAST(n_leaky AS DOUBLE) / n_eval AS leak_rate, max_jaccard
        FROM ev, lk""")),

    // ------------------------------------------------------------------
    // Inverted-index export: term → (document frequency, total
    // occurrences, bounded posting list) — the search/retrieval sidecar a
    // corpus ships with. Postings are CAPPED at the 50 smallest doc_ids
    // (deterministic total order): an uncapped list makes one row per
    // term unboundedly wide on stopword-like terms — a real index shards
    // postings, an export SAMPLES them, and df/n_occ stay exact either
    // way. Two hash aggregates, no join; the list is serialized to CSV on
    // both engines for the gate's canonicalizer (the rel_scalar_arrays
    // discipline).
    "llm_posting_index" -> QuerySpec(
      fn = (s, dir) => {
        val perDoc = docs(s, dir)
          .select(col("doc_id"),
            explode(split(lower(col("text")), "\\s+")).as("term"))
          .groupBy(col("term"), col("doc_id"))
          .agg(count(lit(1)).as("occ"))
        // The cap must bind BEFORE the list materializes: ranking first
        // and collecting only rank ≤ 50 keeps the aggregation buffer at
        // ≤ 50 entries for any term; collecting everything and slicing
        // after would hold O(df) ids in one buffer — the unbounded object
        // the cap exists to prevent. Window and groupBy share the term
        // partitioning (one exchange).
        val w = Window.partitionBy(col("term")).orderBy(col("doc_id"))
        perDoc
          .withColumn("rn", row_number().over(w))
          .groupBy(col("term"))
          .agg(
            count(lit(1)).as("df"),
            sum(col("occ")).as("n_occ"),
            concat_ws(",",
              sort_array(collect_list(when(col("rn") <= 50, col("doc_id")))))
              .as("postings"))
      },
      oracle = Some("""
        WITH t AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(text), '\s+')) AS term
          FROM documents),
        pd AS (SELECT term, doc_id, COUNT(*) AS occ FROM t GROUP BY 1, 2)
        SELECT term, COUNT(*) AS df, CAST(SUM(occ) AS BIGINT) AS n_occ,
               array_to_string((list(doc_id ORDER BY doc_id))[1:50], ',')
                 AS postings
        FROM pd GROUP BY term""")),

    // ------------------------------------------------------------------
    // Temperature-scaled source sampling (the mT5/XLM-R multilingual
    // mixing rule at α = 0.5): sampling share ∝ n^α flattens the source
    // distribution so low-resource slices are not drowned — α=0.5 is the
    // square-root spelling whose per-value result is CORRECTLY-ROUNDED
    // IEEE in both engines (a general pow(n, α) is not). The share
    // denominator Σ√n is a float sum, which is ORDER-dependent — so both
    // engines fold the per-source √n values over the SAME sorted list
    // (sort_array fold here, list_sort+list_reduce there) instead of
    // trusting an aggregate's arrival order. |sources| rows total; the
    // corpus contributes one count aggregate.
    "llm_sample_temperature" -> QuerySpec(
      fn = (s, dir) => {
        val counts = docs(s, dir).groupBy(col("source"))
          .agg(count(lit(1)).as("n"))
        val tot = counts.agg(
          sort_array(collect_list(struct(col("source"), col("n")))).as("xs"))
          .select(expr("""
            aggregate(xs, CAST(0.0 AS DOUBLE), (a, x) -> a + sqrt(x.n))""")
            .as("denom"))
        counts.crossJoin(broadcast(tot))
          .select(col("source"), col("n"),
            sqrt(col("n")).as("weight"),
            (sqrt(col("n")) / col("denom")).as("share"),
            (sqrt(col("n")) / col("denom") * 1000.0).as("expected_docs"))
      },
      oracle = Some("""
        WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        d AS (
          SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     [sqrt(x.n) FOR x IN
                       list_sort(list(struct_pack(source := source, n := n)))]),
                   (a, b) -> a + b) AS denom
          FROM c)
        SELECT source, n, sqrt(n) AS weight,
               sqrt(n) / denom AS share,
               sqrt(n) / denom * 1000.0 AS expected_docs
        FROM c, d""")),

    // ------------------------------------------------------------------
    // Epoch plan: the table a training run derives from the mixing rule —
    // per source, how many tokens exist, what share of the token budget it
    // gets (temperature-flattened, α=0.5: share ∝ √tokens), and therefore
    // how many EPOCHS of that source the run will see (repeat_factor =
    // the ceil a sampler-with-replacement actually uses). Budget = 4× the
    // corpus (the typical over-train multiple for a curated subset).
    // Numeric discipline: avail/total are exact integer sums; the √-fold
    // runs over the SAME sorted per-source list on both sides (float sums
    // are order-dependent); every derived number is a fixed left-to-right
    // chain of single double ops on exact inputs. O(sources) output.
    "llm_epoch_plan" -> QuerySpec(
      fn = (s, dir) => {
        val counts = docs(s, dir)
          .select(col("source"),
            size(split(lower(col("text")), "\\s+")).as("t"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("t").as("avail_tokens"))
        val tot = counts.agg(
          sort_array(collect_list(struct(col("source"), col("avail_tokens"))))
            .as("xs"))
          .select(
            expr("""aggregate(xs, CAST(0.0 AS DOUBLE),
                 (a, x) -> a + sqrt(x.avail_tokens))""").as("denom"),
            expr("""aggregate(xs, CAST(0 AS BIGINT),
                 (a, x) -> a + x.avail_tokens)""").as("total_tokens"))
        counts.crossJoin(broadcast(tot))
          .withColumn("share", sqrt(col("avail_tokens")) / col("denom"))
          .withColumn("target_tokens",
            floor(col("total_tokens").cast("double") * 4.0 * col("share"))
              .cast("long"))
          .withColumn("epochs",
            col("target_tokens").cast("double") / col("avail_tokens"))
          .withColumn("repeat_factor", ceil(col("epochs")).cast("int"))
          .select(col("source"), col("n_docs"), col("avail_tokens"),
            col("share"), col("target_tokens"), col("epochs"),
            col("repeat_factor"))
          .orderBy("source")
      },
      oracle = Some("""
        WITH c AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split_regex(lower(text), '\s+')))
                   AS BIGINT) AS avail_tokens
          FROM documents GROUP BY source),
        d AS (
          SELECT list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                     [sqrt(x.avail_tokens) FOR x IN
                       list_sort(list(struct_pack(source := source,
                                                  avail_tokens := avail_tokens)))]),
                   (a, b) -> a + b) AS denom,
                 CAST(SUM(avail_tokens) AS BIGINT) AS total_tokens
          FROM c)
        SELECT source, n_docs, avail_tokens,
               sqrt(avail_tokens) / denom AS share,
               CAST(floor(CAST(total_tokens AS DOUBLE) * 4.0
                 * (sqrt(avail_tokens) / denom)) AS BIGINT) AS target_tokens,
               CAST(floor(CAST(total_tokens AS DOUBLE) * 4.0
                 * (sqrt(avail_tokens) / denom)) AS BIGINT)
                 / CAST(avail_tokens AS DOUBLE) AS epochs,
               CAST(ceil(CAST(floor(CAST(total_tokens AS DOUBLE) * 4.0
                 * (sqrt(avail_tokens) / denom)) AS BIGINT)
                 / CAST(avail_tokens AS DOUBLE)) AS INT) AS repeat_factor
        FROM c, d ORDER BY source"""),
      doc = "per-source token budget, epochs, and repeat factors from the √n mixing rule"),

    // ------------------------------------------------------------------
    // Budget-constrained greedy corpus selection (knapsack by density):
    // keep the highest value-per-token documents until a token budget
    // (25% of the corpus) is spent. The textbook spelling — one global
    // sort by density with a running cumsum — serializes the corpus
    // through a single task, so this is the two-phase threshold plan that
    // scales: (1) aggregate token mass into ≤512 quantized density
    // buckets and find the cutoff bucket from the tiny cumulative
    // histogram (a 512-row window — bounded by construction, never by
    // data); (2) take whole buckets above the cutoff with a broadcast
    // semi-join, and order documents ONLY inside the one boundary bucket
    // (a per-bucket window over ~N/512 rows) to spend the remainder.
    // Density = chars/token, a double division of two integers —
    // bit-identical across engines; ties inside the boundary bucket break
    // on doc_id. At 100 TB: three map-only column-pruned corpus scans
    // (histogram build, full-bucket membership join, boundary-bucket
    // join — none of which shuffles the corpus; the budget reuses the
    // histogram's exchange), one small aggregate, zero global sorts.
    "llm_select_budget" -> QuerySpec(
      fn = (s, dir) => {
        val base = docs(s, dir).select(
          col("doc_id"), col("n_chars"),
          size(split(lower(col("text")), "\\s+")).cast("long").as("n_tokens"))
          .withColumn("ratio", col("n_chars").cast("double") / col("n_tokens"))
          .withColumn("bucket",
            least(floor(col("ratio") * 16), lit(511L)).cast("long"))
        val hist = base.groupBy(col("bucket"))
          .agg(sum(col("n_tokens")).as("tok"))
        val wd = Window.orderBy(col("bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        // Total token mass is derivable from the <=512-row histogram — a
        // corpus-wide re-aggregation here would be a third full scan.
        val bud = hist.agg(expr("sum(tok) div 4").as("budget"))
        val cum = hist.withColumn("cum_incl", sum(col("tok")).over(wd))
          .crossJoin(broadcast(bud))
        val fullB = cum.filter(col("cum_incl") <= col("budget"))
          .select(col("bucket"))
        val boundary = cum.filter(col("cum_incl") > col("budget"))
          .orderBy(col("bucket").desc).limit(1)
          .select(col("bucket"),
            (col("budget") - (col("cum_incl") - col("tok"))).as("remaining"))
        val wb = Window.partitionBy(col("bucket"))
          .orderBy(col("ratio").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fullDocs = base.join(broadcast(fullB), "bucket")
          .select(col("doc_id"), col("n_tokens"), col("bucket"),
            lit(true).as("in_full"))
        val boundDocs = base.join(broadcast(boundary), "bucket")
          .withColumn("cumtok", sum(col("n_tokens")).over(wb))
          .filter(col("cumtok") <= col("remaining"))
          .select(col("doc_id"), col("n_tokens"), col("bucket"),
            lit(false).as("in_full"))
        fullDocs.unionByName(boundDocs)
      },
      oracle = Some("""
        WITH b2 AS (
          SELECT doc_id,
                 CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS n_tokens,
                 CAST(n_chars AS DOUBLE)
                   / CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS ratio,
                 CAST(LEAST(FLOOR(CAST(n_chars AS DOUBLE)
                   / CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   * 16), 511) AS BIGINT) AS bucket
          FROM documents),
        hist AS (SELECT bucket, SUM(n_tokens) AS tok FROM b2 GROUP BY bucket),
        bud AS (SELECT SUM(n_tokens) // 4 AS budget FROM b2),
        cum AS (
          SELECT bucket, tok,
                 SUM(tok) OVER (ORDER BY bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_incl
          FROM hist),
        full_b AS (SELECT bucket FROM cum, bud WHERE cum_incl <= budget),
        boundary AS (
          SELECT bucket, budget - (cum_incl - tok) AS remaining
          FROM cum, bud WHERE cum_incl > budget
          ORDER BY bucket DESC LIMIT 1),
        bdocs AS (
          SELECT doc_id, n_tokens, b2.bucket AS bucket, remaining,
                 SUM(n_tokens) OVER (PARTITION BY b2.bucket
                   ORDER BY ratio DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumtok
          FROM b2 JOIN boundary ON b2.bucket = boundary.bucket)
        SELECT b2.doc_id, b2.n_tokens, b2.bucket, TRUE AS in_full
        FROM b2 JOIN full_b USING (bucket)
        UNION ALL
        SELECT doc_id, n_tokens, bucket, FALSE AS in_full
        FROM bdocs WHERE cumtok <= remaining""")),

    // ------------------------------------------------------------------
    // 256 shards declared: the shard count is the export's parallelism
    // (each shard orders independently), so it scales with the corpus —
    // a 100 TB export would use thousands; the per-shard window sort
    // spills, so shard size bounds parallelism, not memory.
    // ------------------------------------------------------------------
    // Length curriculum: fixed phase thresholds (no quantile pass), 64
    // shards per phase so ordering parallelism scales with the corpus —
    // the per-(phase, shard) window sort spills, so shard size bounds
    // parallelism, not memory.
    "llm_curriculum" -> QuerySpec(
      fn = (s, dir) => curriculumExport(docs(s, dir), nShards = 64, salt = "cur0"),
      oracle = Some("""
        WITH d AS (
          SELECT doc_id, source,
                 CAST(len(string_split_regex(lower(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents)
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens < 16 THEN 0 WHEN n_tokens < 32 THEN 1
                    WHEN n_tokens < 64 THEN 2 ELSE 3 END AS phase,
               CAST(md5_number_upper('cur0:' || CAST(doc_id AS VARCHAR)) & 63
                    AS INT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY
                   CASE WHEN n_tokens < 16 THEN 0 WHEN n_tokens < 32 THEN 1
                        WHEN n_tokens < 64 THEN 2 ELSE 3 END,
                   md5_number_upper('cur0:' || CAST(doc_id AS VARCHAR)) & 63
                 ORDER BY md5_number_upper('cur0-ord:' || CAST(doc_id AS VARCHAR))
                            & 4294967295,
                          doc_id) AS INT) AS pos,
               source
        FROM d""")),

    "llm_shuffle_export" -> QuerySpec(
      fn = (s, dir) => shuffleExport(docs(s, dir), nShards = 256, salt = "ep0"),
      oracle = Some("""
        SELECT doc_id,
               CAST(md5_number_upper('ep0:' || CAST(doc_id AS VARCHAR)) & 255
                    AS INT) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY md5_number_upper('ep0:' || CAST(doc_id AS VARCHAR)) & 255
                 ORDER BY md5_number_upper('ep0-ord:' || CAST(doc_id AS VARCHAR))
                            & 4294967295,
                          doc_id) AS INT) AS pos,
               source
        FROM documents""")))
}
