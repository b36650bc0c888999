package graft.llm

import graft.api.{Checkpoints, QueryModule, QuerySpec, StreamWidth}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines, over the
  * `documents` and `embeddings` fixtures.
  *
  * The driver's documents are all distinct, so each query builds a
  * deterministic duplicate-bearing corpus — identically on the Spark and
  * DuckDB sides — by unioning the table with exact copies (exact dedup) or
  * first-word-dropped variants (near-dup, shingle Jaccard ≈ 0.97 to the
  * original).
  *
  * Scale design (the part that must survive 100 TB):
  *   - exact dedup: one shuffle on the content digest; no comparisons.
  *   - MinHash+LSH: the 128-perm signature is one codegen loop per document
  *     ([[graft.functions.MinHashSig]]) — no per-(doc, perm) row expansion,
  *     nothing collected on the driver; candidate pairs come from a shuffle
  *     join on (band, band-hash); only candidates are verified. No all-pairs
  *     product anywhere. With r=4 rows × b=32 bands (128 perms),
  *     P[miss | J≥0.8] ≤ (1−0.8⁴)³² ≈ 5·10⁻⁸.
  *   - the exact prefix-filtered shingle Jaccard ([[exactJaccardPairs]])
  *     pins the near-dup semantics; it is an audit API, NOT a declared
  *     query — its Σ df² candidate bound is quadratic on df-saturated
  *     corpora, so the declared `llm_dedup_jaccard` ships the banded-LSH
  *     plan at audit-grade parameters (r=4/b=64, miss ≈ 4e-15) instead.
  *   - SimHash: near-identical docs agree on one of four 16-bit chunks
  *     (pigeonhole for hamming ≤ 3 and overwhelmingly for ≤ 6), so
  *     candidates come from a shuffle join on (chunk index, chunk value).
  *   - embedding near-dup: random-hyperplane LSH (4 tables × 16 bits,
  *     seeded by xxhash64 so it is deterministic and needs no driver-side
  *     RNG state), candidates from a shuffle join on (table, code), exact
  *     cosine verification on candidates only.
  */
object Dedup extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** documents ∪ exact copies (ids offset by 1e6). Deliberately NOT
    * widened: its consumers only digest each text once (~µs/row), and the
    * round-14 measurement showed the repartition costing more than the
    * parallelism bought back (0.36 s → 0.94 s; reverted). */
  private def exactCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.select(col("doc_id"), col("text"))
      .unionAll(d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
  }

  private val exactCorpusSql = """
    corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents)"""

  /** documents ∪ near-duplicate variants (first word dropped, lowercased). */
  private[graft] def nearCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // Widened (guide §2.5): every consumer shingles/hashes per doc and the
    // fixture scan is one row group — the from-text dedup family's shingle
    // stages measured 0.7 s on 2 tasks at sf0.1 (no-op at cluster scale).
    graft.api.Fanout.widen(
      d.select(col("doc_id"), lower(col("text")).as("text"))
        .unionAll(d.select(
          (col("doc_id") + 1000000).as("doc_id"),
          regexp_replace(lower(col("text")), "^\\S+\\s+", "").as("text"))))
  }

  private val nearCorpusSql = """
    corpus AS (
      SELECT doc_id, lower(text) AS text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, lower(regexp_replace(text, '^\S+\s+', ''))
      FROM documents)"""

  /** Distinct word 3-gram shingles, one row per (doc, shingle). */
  private def shingles(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(
        col("doc_id"),
        explode(expr(
          """array_distinct(transform(
               sequence(1, greatest(size(toks) - 2, 1)),
               i -> concat_ws(' ', slice(toks, i, 3))))""")).as("shingle"))

  private val shinglesSql = """
    sh AS (
      SELECT doc_id,
             unnest(list_distinct([array_to_string(toks[i:i+2], ' ')
                                   for i in generate_series(1, greatest(len(toks) - 2, 1))]))
               AS shingle
      FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus))"""

  /** Exact pairwise Jaccard ≥ 0.8 — same RESULT as the oracle's naive
    * all-shingle join, computed with prefix filtering (the AllPairs/PPJoin
    * family), the canonical exact set-similarity join at scale:
    *
    *   - order every document's shingles by a global rarest-first key
    *     (ascending document frequency, shingle text as tiebreak);
    *   - any two sets with J ≥ τ must share a token among their first
    *     `|s| − ⌈τ·|s|⌉ + 1` tokens under ANY global order, so only those
    *     prefixes are exploded and joined — common shingles (the join-blowup
    *     drivers) land at the end of the order and mostly stay out of
    *     prefixes;
    *   - a length filter (τ·|a| ≤ |b|) prunes candidates whose sizes alone
    *     cap Jaccard below τ;
    *   - surviving candidate pairs are verified with the exact intersection.
    *
    * The DuckDB oracle runs the naive definition; this plan must (and does)
    * hash-match it. */
  def exactJaccardPairs(corpus: DataFrame, tau: Double = 0.8): DataFrame =
    // Shingles travel as 64-bit md5 keys from here on: the probe join,
    // the per-doc sorted arrays, and the verification intersections all
    // move/compare longs instead of ~20-char strings (the prefix join is
    // the hottest shuffle in the dedup family). Pair membership and the
    // Jaccard integers are unchanged (md5_long is collision-free at this
    // domain size for all practical purposes and already underpins the
    // band/sampler oracles), so the naive-join oracle still hash-matches.
    exactJaccardPairsFromKeys(
      shingles(corpus)
        .select(col("doc_id"), expr("md5_long(shingle)").as("shingle")),
      tau)

  /** [[exactJaccardPairs]] body over already-derived (doc_id, md5-shingle)
    * rows — what a [[TextFeatures]] `shm` column explodes to, so callers
    * holding the stored keys skip the tokenize/shingle/md5 pass entirely
    * (bit-identical keys by TextFeaturesSpec). */
  def exactJaccardPairsFromKeys(shKeys: DataFrame, tau: Double = 0.8): DataFrame = {
    val sh = shKeys
    val df = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // Per-doc shingle array in global rarest-first order, with set size.
    // Pin the df-aggregated (vocab-bounded) side as the build: `sh` sits
    // behind an explode with a garbage size estimate — the planner picked
    // the corpus-scale exploded side as a BROADCAST build in the
    // structurally identical containment join (8 GB driver OOM at sf10).
    val ordered = sh.join(broadcast(df), "shingle")
      .groupBy("doc_id")
      .agg(expr("transform(sort_array(collect_list(struct(df, shingle))), x -> x.shingle)")
        .as("sorted_sh"))
      .withColumn("n", size(col("sorted_sh")))
      .withColumn("prefix", expr(s"slice(sorted_sh, 1, n - CAST(ceil($tau * n) AS INT) + 1)"))
    // posexplode keeps each prefix token's 0-based POSITION for the PPJoin
    // positional filter below.
    val probes = ordered.select(col("doc_id"), col("n"),
      posexplode(col("prefix")).as(Seq("p", "shingle")))
    // Positional filter (PPJoin): at the EARLIEST shared token of a
    // qualifying pair, the remaining suffixes bound the overlap by
    // ub = 1 + min(na − pa − 1, nb − pb − 1); J ≥ τ needs overlap
    // ≥ τ(na+nb)/(1+τ), so rows whose ub can't reach it are dropped before
    // the distinct. High-df prefix tokens sit at large positions, which is
    // exactly where the candidate blowup lives on df-saturated corpora
    // (measured 33× wall-clock at 10× docs before this filter). The 1e-9
    // slack keeps FP rounding from pruning an exactly-at-threshold pair.
    val cand = probes.select(col("doc_id").as("doc_a"), col("n").as("na"),
        col("p").as("pa"), col("shingle"))
      .join(probes.select(col("doc_id").as("doc_b"), col("n").as("nb"),
        col("p").as("pb"), col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b") &&
        col("nb") * tau <= col("na") && col("na") * tau <= col("nb") &&
        (lit(1) + least(col("na") - col("pa") - 1, col("nb") - col("pb") - 1))
          .cast("double") >=
          lit(tau / (1 + tau)) * (col("na") + col("nb")) - 1e-9)
      .select("doc_a", "doc_b").distinct()
    // Exact verification on candidates only — the same join verifyPairs
    // runs for the LSH and incremental paths (one implementation for the
    // semantics the oracle requires all three to agree on). MERGE: the
    // estimate of `ordered` is the exploded `sh`'s, a corpus-scale side
    // that must never broadcast (see verifyPairs). Pinned here, not on
    // `ordered`, so the prefix self-join above keeps its own plan.
    verifyPairs(cand,
      ordered.select(col("doc_id"), col("sorted_sh").as("sh"), col("n")).hint("merge"), tau)
  }

  /** shingles → counts → intersections → Jaccard-≥0.8 pairs, over whatever
    * `corpus` CTE precedes it (composable across the dedup oracles). */
  private def pairsFromCorpusSqlAt(tau: Double) = s"""$shinglesSql,
    cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.n + cb.n - i) AS jaccard
      FROM inter JOIN cnt ca ON doc_a = ca.doc_id JOIN cnt cb ON doc_b = cb.doc_id
      WHERE CAST(i AS DOUBLE) / (ca.n + cb.n - i) >= $tau)"""

  private val pairsFromCorpusSql = pairsFromCorpusSqlAt(0.8)

  private val jaccardPairsCtes = s"""$nearCorpusSql, $pairsFromCorpusSql"""

  /** Transitive closure + per-node labels over `pairs` (recursive CTE). */
  private val closureCtes = """
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(node, r) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node),
    labels AS (SELECT node, MIN(r) AS cluster FROM reach GROUP BY node)"""

  private val jaccardOracle =
    s"""WITH $jaccardPairsCtes SELECT doc_a, doc_b, jaccard FROM pairs"""

  /** DuckDB reconstruction of the MD5-token SimHash candidate pipeline
    * (fingerprints as 0/1 bit lists — DuckDB's 64-bit shifts
    * overflow-check), ending in `scand(doc_a, doc_b, hamming)` BEFORE the
    * hamming cut so callers choose their threshold. Mirrors
    * [[simhashMd5Pairs]] including the [[simhashBucketCap]] guard; expects
    * a preceding `corpus(doc_id, text)` CTE. */
  private def simhashCtes = s"""
        th AS (
          SELECT doc_id, md5_number_upper(tok) AS h
          FROM (SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
                FROM corpus)),
        votes AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
          FROM th, generate_series(0, 63) g(b)
          GROUP BY doc_id, b),
        bv AS (
          SELECT doc_id,
                 list(CASE WHEN vote >= 0 THEN 1 ELSE 0 END ORDER BY b) AS bits
          FROM votes GROUP BY doc_id),
        ch AS (
          SELECT doc_id, bits, k,
                 list_reduce(list_transform(generate_series(1, 16),
                     j -> bits[k * 16 + j] * (1 << (j - 1))), (a, b) -> a + b)
                   AS chunk
          FROM bv, generate_series(0, 3) g(k)
          QUALIFY COUNT(*) OVER (PARTITION BY k, chunk) <= $simhashBucketCap),
        scand AS (
          SELECT doc_a, doc_b,
                 CAST(list_reduce(list_transform(generate_series(1, 64),
                     i -> CASE WHEN ba[i] <> bb[i] THEN 1 ELSE 0 END),
                   (a, b) -> a + b) AS INT) AS hamming
          FROM (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.bits AS ba, b.bits AS bb
            FROM ch a JOIN ch b
              ON a.k = b.k AND a.chunk = b.chunk AND a.doc_id < b.doc_id))"""

  /** Per-document distinct shingle ARRAY (no explode — signatures fold over
    * it in place). */
  private def shingleArrays(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"), expr(
        """array_distinct(transform(
             sequence(1, greatest(size(toks) - 2, 1)),
             i -> concat_ws(' ', slice(toks, i, 3))))""").as("sh"))

  /** MinHash signatures → banded LSH candidates → exact verification.
    *
    * Hot-path design (this is the headline dedup benchmark):
    *   - the full 128-permutation signature is computed by the native
    *     codegen expression [[graft.functions.MinHashSig]] in one tight
    *     loop per document — each shingle hashed once, no exploded
    *     (doc × perm) rows, no signature shuffle;
    *   - band identity (r=4 rows × b=32 bands) is `xxhash64` over each
    *     4-element slice of the signature array, exploded to one row per
    *     (doc, band).
    * The only shuffles are the candidate join on (band, band-hash) and,
    * unless the set table broadcasts, the verify joins on doc ids — never
    * an all-pairs product. */
  /** The persisted LSH BAND INDEX of a corpus: (doc_id, band, bh) — the
    * table an incremental pipeline appends to each day. Signatures are one
    * codegen'd pass per document (see MinHashSig) — no row expansion, no
    * signature shuffle; band identity (default r=4 rows × b=32 bands)
    * hashes each r-min slice of the signature array.
    *
    * The (r, b) split tunes the recall/candidate trade at a given
    * threshold: a true pair at Jaccard J survives with
    * 1 − (1 − J^r)^b, so lower r (shorter band slices) buys recall at
    * looser thresholds at the cost of more random collisions. The
    * signature is sized to exactly r·b perms (the per-perm hash family
    * makes longer signatures identical-prefix supersets, so the default
    * 4×32 produces the same bands as the historical fixed-128 form). */
  def bandsOf(corpus: DataFrame, r: Int = 4, b: Int = 32): DataFrame = {
    require(r * b <= 1024, s"r*b = ${r * b} exceeds the 1024-perm sanity cap")
    // band_hashes = the native codegen spelling of
    // transform(sequence(0, b-1), bb -> xxhash64(<r sig slices>)) — the HOF
    // form ran interpreted in every LSH candidate build (guide §4 / round-15
    // stage profile; `Bench <query>`'s record re-measures); identities are
    // bit-identical (BandHashesSpec).
    shingleArrays(corpus)
      .select(col("doc_id"), expr(s"minhash_sig(sh, ${r * b})").as("sig"))
      .select(col("doc_id"), posexplode(expr(s"band_hashes(sig, $r, $b)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bh")
  }

  /** The persisted SHINGLE-SET table: (doc_id, sh, n) — what candidate
    * verification joins against. Shingles travel as 64-bit xxhash64 keys,
    * not ~20-char strings: the set table is the widest shuffle in every
    * verify join (1M docs × ~100 shingles at the sf10 scale point), and
    * intersection sizes — hence Jaccard values — are unchanged by a
    * collision-free-in-practice hash (the same argument as the md5_long
    * keys in the exact path; the hash never reaches the output).
    *
    * The frame carries NO join pin, but its size estimate is wrong: it is
    * the text scan's, taken before `transform` fans each document out to
    * ~100 keys, so the planner can (and at sf10 did) under-estimate it
    * ~100× and broadcast ~1 GiB. Every caller that verifies against it at
    * corpus scale pins it to sort-merge itself ([[lshJaccardPairs]],
    * [[incrementPairs]]); `CurationOps.decontaminateFuzzy` picks its own
    * strategies around it. */
  def setsOf(corpus: DataFrame): DataFrame =
    shingleArrays(corpus)
      .select(col("doc_id"), expr("transform(sh, x -> xxhash64(x))").as("sh"))
      .withColumn("n", size(col("sh")))

  /** Exact-Jaccard verification over candidate (doc_a, doc_b) pairs.
    *
    * No strategy pin here: both verify joins are sized from the `sets`
    * estimate, so a pin goes on a `sets` frame whose estimate is wrong.
    * Callers hand derived sets in with a MERGE hint (text-derived
    * [[setsOf]]; the prefix path's `ordered`, behind an explode and an
    * aggregate; the incremental union), which reaches both joins through
    * the renaming projections. For them a broadcast would be ~1 GiB at
    * sf10, and a shuffled-hash build of the pair list outgrew a task at
    * sf30 on the loose-threshold sweep (128 MB acquisition failure);
    * sort-merge spills instead. The STORED [[TextFeatures]] table comes in
    * unpinned: its estimate is its parquet file size, which covers every
    * stored column and so over-states the three read here (1.46 MB of
    * files, 0.42 MB shuffled at sf0.01). It broadcasts while that estimate
    * is under `spark.sql.autoBroadcastJoinThreshold`, sort-merges above
    * it, and AQE may still switch on the measured sizes. */
  private def verifyPairs(cand: DataFrame, sets: DataFrame,
      tau: Double = 0.8): DataFrame = {
    // Native count-only intersection (guide §4): `size(array_intersect)`
    // built a boxed hash set AND the intersection array per candidate
    // pair — 24.9 s task time + 2.0 s GC on eval_lsh's verify stage at
    // sf0.1. intersect_count ≡ it bit-for-bit (IntersectCountSpec).
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"), col("n").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("i", expr("intersect_count(sa, sb)"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Passage-level dedup: (d1, d2, n_shared) for documents sharing exact
    * 40-char word-anchored windows (Lee-et-al-style repeated passages).
    * Window enumeration is O(words); the nd ∈ [2, 50] per-window doc cap
    * bounds the pair stream exactly like the SimHash bucket cap. Public so
    * the scale soak can run it on replicated corpora. */
  def passagePairs(corpus: DataFrame): DataFrame = {
    val L = 40
    passagePairsFromWins(corpus
      .filter(length(col("text")) > L)
      .select(col("doc_id"), explode(expr(
        s"""transform(
              filter(sequence(1, length(text) - $L),
                     i -> substring(text, i, 1) = ' '),
              i -> md5_long(substring(text, i + 1, $L)))""")).as("w"))
      .distinct())
  }

  /** [[passagePairs]] body over an already-derived (doc_id, w) window-key
    * table — `w` distinct per document (the [[TextFeatures]] `wins`
    * column explodes to exactly this). */
  def passagePairsFromWins(wins: DataFrame): DataFrame = {
    val shared = wins.groupBy(col("w")).agg(count(lit(1)).as("nd"))
      .filter(col("nd").between(2, 50)).select(col("w"))
    // MERGE hints: both join sides here are WINDOW-scale (every ≥2-doc
    // 40-char window in the corpus) — tens of millions of rows at sf10.
    // The shared-window table's post-shuffle size estimate can squeak
    // under the broadcast threshold while its deserialized hash map does
    // not fit (measured: AQE broadcast OOM at sf10). Corpus-scale sides
    // shuffle; they never broadcast.
    val kept = wins.hint("merge").join(shared, "w")
    kept.as("a").hint("merge").join(kept.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Containment dedup: (d1, d2, containment) pairs with Broder containment
    * |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 over rare-shingle profiles
    * (df ≤ max(500, |docs|/2000) suppression — part of the checked
    * semantics, not an approximation; see the threshold note below).
    *
    * Shingles travel as 64-bit md5 keys (md5_long ≡ DuckDB
    * md5_number_upper) — key width dominates the candidate shuffle.
    * Candidate generation is ASYMMETRIC prefix filtering: containment
    * ≥ 0.9 means at most 10% of A's rare profile misses B, so A's rarest
    * ⌊sz/10⌋+1 shingles (global (df, shingle) order) must share at least
    * one member with B — only that prefix probes the full postings side,
    * cutting the full×full join (measured 24× wall-clock at 10× docs on
    * the df-saturated fixture) ~10×. An INTEGER positional bound (overlap
    * ≤ 1 + min(remaining suffixes), needed ⌈9·szA/10⌉ — integer div, no FP
    * at exact multiples) prunes late-position matches before the distinct;
    * survivors are verified with the exact rare-profile intersection.
    * Result set is EXACTLY the naive full-join oracle's.
    *
    * Measured cost profile (round-9 diagnosis of the r8 nonmonotonic
    * 21.9→16.6→100.2 s curve): on the fixture's CLOSED 31-word vocabulary
    * the df distribution saturates — at sf1 the prefix filter barely
    * prunes (47.2M raw → 46.5M distinct candidates, each verification row
    * carrying two ~52-entry hash arrays ⇒ ~40 GB through the verify
    * shuffle, sort-spill-bound at 32 partitions: 85–153 s solo; 46 s at
    * 256 — scale shuffle partitions with candidate volume), while at
    * sf10+ the relative rarity cut empties the rare set entirely (every
    * shingle df > max(500, N/2000)) and the cost collapses to the linear
    * shingle scan + df aggregate (~17 s at sf10). The curve is
    * nonmonotonic BY SEMANTICS on this fixture, not by plan defect; an
    * open-vocabulary corpus keeps a proportionate rare tail at any size. */
  def containmentPairs(corpus: DataFrame): DataFrame =
    containmentPairsFromKeys(
      shingles(corpus)
        .select(col("doc_id"), expr("md5_long(shingle)").as("shingle")),
      corpus)

  /** [[containmentPairs]] body over already-derived (doc_id, md5-shingle)
    * rows (the [[TextFeatures]] `shm` column explodes to exactly this);
    * `docCounted` supplies the corpus row count for the relative rarity
    * threshold (any one-row-per-document frame works). */
  def containmentPairsFromKeys(sh: DataFrame, docCounted: DataFrame): DataFrame = {
    // RELATIVE rarity threshold: max(500, |docs| / 2000). A fixed absolute
    // df cut degenerates when the vocabulary saturates — at sf30 (~4.5M
    // near-corpus docs over the fixture's 31-word vocab) mean shingle df
    // ≈ 10k dwarfs 500, the surviving tail's size distribution drives the
    // cost superlinear (measured e≈1.6/decade), and on a real corpus the
    // rare set would shrink toward empty as data grows. Scaling the cut
    // with the corpus keeps the rare tail proportionate at any size; at
    // every gate scale |docs|/2000 < 500, so results are bit-identical to
    // the historical fixed-500 semantics. Integer division both sides.
    val thr = docCounted.agg(
      greatest(lit(500L), (count(lit(1)) / lit(2000L)).cast("long")).as("thr"))
    val rare = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(thr))
      .filter(col("df") <= col("thr"))
      .select(col("shingle"), col("df"))
    // Pin the df-aggregated (vocab-bounded) side as the broadcast build:
    // `sh` sits behind an explode, its size estimate is garbage, and at
    // sf10 the planner picked IT as the build side — a 52M-row broadcast
    // that OOM'd the 8 GB driver ("Not enough memory to build and
    // broadcast", reproduced solo). On a corpus whose kept-vocab outgrows
    // a broadcast, flip this to rare.hint("shuffle_hash") — same
    // no-driver-state shape, one extra shuffle of sh.
    val prof = sh.join(broadcast(rare), "shingle")
      .groupBy(col("doc_id"))
      .agg(expr(
        "transform(sort_array(collect_list(struct(df, shingle))), x -> x.shingle)")
        .as("sorted_sh"))
      .withColumn("sz", size(col("sorted_sh")))
    val aPrefix = prof
      .select(col("doc_id"), col("sz"),
        posexplode(expr("slice(sorted_sh, 1, sz div 10 + 1)"))
          .as(Seq("pa", "shingle")))
    val bFull = prof
      .select(col("doc_id"), col("sz"), posexplode(col("sorted_sh"))
        .as(Seq("pb", "shingle")))
    val cand = aPrefix
      .select(col("doc_id").as("d1"), col("sz").as("sz1"), col("pa"),
        col("shingle"))
      .join(bFull.select(col("doc_id").as("d2"), col("sz").as("sz2"),
        col("pb"), col("shingle")), Seq("shingle"))
      .filter(col("d1") =!= col("d2") &&
        lit(1) + least(col("sz1") - col("pa") - 1,
          col("sz2") - col("pb") - 1) >= expr("(9 * sz1 + 9) div 10"))
      .select(col("d1"), col("d2")).distinct()
    cand
      .join(prof.select(col("doc_id").as("d1"), col("sorted_sh").as("sa"),
        col("sz").as("sz1")), "d1")
      .join(prof.select(col("doc_id").as("d2"), col("sorted_sh").as("sb")), "d2")
      .withColumn("inter", expr("intersect_count(sa, sb)").cast("long"))
      .select(col("d1"), col("d2"),
        (col("inter").cast("double") / col("sz1").cast("double"))
          .as("containment"))
      .filter(col("containment") >= 0.9)
  }

  /** Banded-LSH candidates + exact-Jaccard verification at an arbitrary
    * threshold. The scalable spelling of the exact similarity join on
    * df-saturated corpora: candidate volume is Σ_buckets C(sz,2) — driven
    * by actual signature agreement, not by shingle document frequency —
    * measured LINEAR across sf1→sf10 (541k distinct candidates at 1M docs)
    * where the prefix-filtered exact path's Σ df² bound goes quadratic
    * (9M candidates at 100k docs, ~900M at 1M). Miss probability per true
    * pair at threshold τ is (1 − τ^r)^b — pick (r, b) so it is
    * negligible at the target τ (4e-8 at τ=0.8 with the default 4×32;
    * 2.2e-8 at τ=0.7 with 3×42). */
  def lshJaccardPairs(corpus: DataFrame, tau: Double = 0.8, r: Int = 4,
      b: Int = 32): DataFrame = {
    val bands = bandsOf(corpus, r, b)
    // MERGE hint: the band table is |docs|·b rows behind a posexplode,
    // whose size estimate is the pre-explode child's — broadcastable on
    // paper, ~1 GiB for real at sf10 (a driver OOM). And with every core
    // running a task, a shuffled-HASH build of |docs|·b/partitions rows
    // per task OOMs the executor at b=64. Sort-merge is the shape that
    // holds at any scale: both sides shuffle once on (band, bh) and the
    // sorts spill instead of dying.
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .hint("merge")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    // MERGE: the derived sets' estimate is the pre-transform scan's.
    verifyPairs(cand, setsOf(corpus).hint("merge"), tau)
  }

  def minhashPairs(corpus: DataFrame): DataFrame = lshJaccardPairs(corpus)

  // ------------------------------------------------------------------
  // Shingle-once variants: same plans, but candidate bands slice the
  // STORED 256-perm signature and verification reads the STORED shingle
  // keys — zero re-derivation per query (see [[TextFeatures]]). Each is
  // bit-identical to its from-text twin (band prefix property + identical
  // key hashes), so the unchanged oracles keep checking them.

  /** The near-corpus feature table for `dir` (built once per JVM). */
  private def nearFeat(s: SparkSession, dir: String): DataFrame =
    TextFeatures.features(s, dir, "near")

  /** The lowercased-documents feature table (curation/split corpus). */
  private def plainFeat(s: SparkSession, dir: String): DataFrame =
    TextFeatures.features(s, dir, "plain")

  /** [[lshJaccardPairs]] over a [[TextFeatures]] table: candidates from
    * stored-signature bands, verification against stored shingle keys.
    * The band self-join keeps its MERGE pin (the band table still sits
    * behind a posexplode); the stored set side goes to [[verifyPairs]]
    * unpinned, so its file-size estimate picks the verify strategy. */
  def lshJaccardPairsFeat(feat: DataFrame, tau: Double = 0.8, r: Int = 4,
      b: Int = 32): DataFrame = {
    val bands = TextFeatures.bands(feat, r, b)
    val cand = bands.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .hint("merge")
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    verifyPairs(cand, feat.select(col("doc_id"), col("sh"), col("n")), tau)
  }

  def minhashPairsFeat(feat: DataFrame): DataFrame = lshJaccardPairsFeat(feat)

  /** INCREMENTAL near-dup: match a new-document batch against an existing
    * index without touching the existing corpus's pairs — the operational
    * shape at 100 TB, where the day's increment joins the persisted band
    * index instead of re-deduping everything. Candidates are
    * (new ⋈ index) ∪ (new ⋈ new); verification reads shingle sets from
    * both sides. Output pairs are (least, greatest)-normalized and,
    * because LSH is a pure function of each document, the union of the old
    * corpus's pairs with this increment equals a from-scratch dedup of the
    * combined corpus (asserted by DedupSpec). */
  def incrementPairs(newDocs: DataFrame, idxBands: DataFrame,
      idxSets: DataFrame): DataFrame =
    incrementPairs(newDocs, idxBands, idxSets, broadcastIncrement = false)

  /** As [[incrementPairs]]; `broadcastIncrement = true` switches the join
    * strategy for BOUNDED increments (a micro-batch, a daily delta): the
    * increment's band table and candidate list broadcast, so the persisted
    * index and set tables are SCANNED and hash-probed in place — zero
    * index shuffle per batch. The default sort-merge path remains the
    * safe spelling when the "increment" can itself be corpus-sized. */
  def incrementPairs(newDocs: DataFrame, idxBands: DataFrame,
      idxSets: DataFrame, broadcastIncrement: Boolean): DataFrame = {
    val nb0 = bandsOf(newDocs)
    val nb = if (broadcastIncrement) broadcast(nb0) else nb0
    def hinted(df: DataFrame): DataFrame =
      // Band tables mis-estimate behind posexplode (see lshJaccardPairs):
      // without the explicit choice the planner can broadcast the INDEX.
      if (broadcastIncrement) df else df.hint("merge")
    // doc_a =!= doc_b: a re-run whose batch overlaps the index (partial-
    // failure recovery) would otherwise join a doc's identical bands to
    // themselves and emit jaccard-1.0 self-pairs.
    val crossCand = hinted(nb.select(col("doc_id").as("doc_a"), col("band"), col("bh")))
      .join(idxBands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val withinCand = hinted(nb.select(col("doc_id").as("doc_a"), col("band"), col("bh")))
      .join(nb.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
    val cand = crossCand.unionAll(withinCand).distinct()
    // dropDuplicates: a doc present in BOTH the index and the batch must
    // contribute one shingle set, or every pair touching it verifies (and
    // emits) once per copy.
    val sets = idxSets.unionAll(setsOf(newDocs)).dropDuplicates("doc_id")
    if (broadcastIncrement) verifyPairsBroadcast(cand, sets)
    // MERGE on the whole union: a hint below a union never reaches the
    // join above it, and the union's estimate inherits setsOf's.
    else verifyPairs(cand, sets.hint("merge"))
  }

  /** As [[incrementPairs]] (broadcast mode), but against a
    * [[graft.sources.SortedRunIndex]] layout instead of flat band/set
    * tables — the spelling whose per-batch cost is O(increment), not
    * O(index-scan). The flat-table broadcast probe still READS the whole
    * persisted index every batch (measured 0.98 s → 5.89 s for the same
    * 100-doc increment as the index grew 50k → 1.5M docs); here the
    * band run is sorted by `bh` and the set run by `doc_id`, so
    *
    *   1. the increment's ≤ |docs|·b distinct band hashes prune the band
    *      run to the files whose key range they intersect — ≤ one file
    *      per probe key;
    *   2. candidate verification probes the set run with just the
    *      candidate doc ids (both sides of every surviving pair).
    *
    * Both collected key lists are bounded by the increment (the same
    * bound that justifies broadcasting it). Output is bit-identical to
    * both [[incrementPairs]] modes: pruning returns a superset of the
    * matching rows and the joins do the exact matching (DedupSpec
    * asserts the equality).
    *
    * `root` must hold `bands/` and `sets/` SortedRunIndex trees as
    * written by [[graft.streaming.CurateStream]]. */
  def incrementPairsIndexed(newDocs: DataFrame, root: String): DataFrame = {
    import graft.sources.SortedRunIndex
    val spark = newDocs.sparkSession
    val docs = newDocs.select("doc_id", "text")
    val nb0 = bandsOf(docs)
    nb0.persist()
    try {
      val probeBhs = nb0.select(col("bh")).distinct()
        .collect().map(_.getLong(0))
      val idxBands = SortedRunIndex
        .probe(spark, s"$root/bands", probeBhs, bandsOf(docs.limit(0)))
        .select("doc_id", "band", "bh")
      val nb = broadcast(nb0)
      val crossCand = nb.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
        .join(idxBands.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
          Seq("band", "bh"))
        .filter(col("doc_a") =!= col("doc_b"))
        .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
          greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      val withinCand = nb.select(col("doc_id").as("doc_a"), col("band"), col("bh"))
        .join(nb.select(col("doc_id").as("doc_b"), col("band"), col("bh")),
          Seq("band", "bh"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b")
      // Candidates come to the driver anyway (they are the broadcast side
      // of verification); landing them locally also yields the set-probe
      // key list without a second job over the index.
      val candRows = crossCand.unionAll(withinCand).distinct().collect()
      val cand = spark.createDataFrame(
        spark.sparkContext.parallelize(candRows.toIndexedSeq, 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_a",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("doc_b",
            org.apache.spark.sql.types.LongType))))
      val candIds = candRows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
      val idxSets = SortedRunIndex
        .probe(spark, s"$root/sets", candIds, setsOf(docs.limit(0)))
        .select("doc_id", "sh", "n")
      val sets = idxSets.unionAll(setsOf(docs)).dropDuplicates("doc_id")
      verifyPairsBroadcast(cand, sets)
    } finally nb0.unpersist()
  }

  /** [[verifyPairs]] with the CANDIDATE side broadcast: for a bounded
    * increment the pair list is small, so both set lookups become hash
    * probes over a straight scan of the set table — no set-table shuffle.
    * Same output as verifyPairs (same joins, different physical strategy). */
  private def verifyPairsBroadcast(cand: DataFrame, sets: DataFrame,
      tau: Double = 0.8): DataFrame = {
    broadcast(broadcast(cand)
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sa"), col("n").as("na")), "doc_a"))
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sb"), col("n").as("nb")), "doc_b")
      .withColumn("i", expr("intersect_count(sa, sb)"))
      .withColumn("jaccard", col("i").cast("double") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Per-(chunk index, chunk value) bucket cap for the SimHash candidate
    * join: buckets above the cap are dropped, bounding total candidate
    * pairs by 4 · cap · N instead of O(N²/65536) on pathological inputs
    * (see the `llm_dedup_simhash` doc). DedupSpec asserts the bound. */
  val simhashBucketCap = 64

  /** SimHash candidate pairs (hamming ≤ 6) with [[graft.functions.SimHashMd5]]
    * fingerprints — bit-identical to the DuckDB oracle's reconstruction —
    * and the [[simhashBucketCap]] guard on the chunk join. */
  def simhashMd5Pairs(corpus: DataFrame): DataFrame = {
    simhashPairsFromHashes(corpus
      .withColumn("toks", split(col("text"), "\\s+"))
      .select(col("doc_id"), expr("simhash_md5(toks)").as("simhash")))
  }

  /** [[simhashMd5Pairs]] body over already-computed (doc_id, simhash)
    * fingerprints (the [[TextFeatures]] `simhash` column). */
  def simhashPairsFromHashes(sims: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = sims.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), k -> (shiftright(simhash, k * 16) & 65535))")))
      .withColumnRenamed("pos", "k").withColumnRenamed("col", "chunk")
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy("k", "chunk")))
      .filter(col("bsz") <= simhashBucketCap)
    chunks.select(col("doc_id").as("doc_a"), col("simhash").as("ha"), col("k"), col("chunk"))
      .hint("merge") // corpus×4 rows behind posexplode — mis-estimated, never broadcastable
      .join(chunks.select(col("doc_id").as("doc_b"), col("simhash").as("hb"), col("k"), col("chunk")),
        Seq("k", "chunk"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(ha ^ hb)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 6)
  }

  /** Embeddings as double arrays (exact copies + perturbed variants). */
  private def embCorpus(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .withColumn("ve", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
    e.select(col("vec_id"), col("ve"))
      .unionAll(e.select(
        (col("vec_id") + 1000000).as("vec_id"),
        expr("transform(ve, (x, i) -> CASE WHEN i = 0 THEN x + 0.01 ELSE x END)").as("ve")))
  }

  private val embCorpusSql = """
    corpus AS (
      SELECT vec_id,
             [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
      FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             [CASE WHEN i = 1 THEN CAST(embedding[i] AS DOUBLE) + 0.01
                   ELSE CAST(embedding[i] AS DOUBLE) END
              for i in generate_series(1, 64)]
      FROM embeddings)"""

  /** Hyperplane-LSH candidate pairs + exact-cosine ≥ 0.95 verification
    * (shared by `llm_dedup_embed` and `llm_dedup_semantic`). Candidate
    * volume is Σ_buckets C(size, 2) over 4 × 65 536 code buckets — linear
    * while buckets stay small (random/spread embeddings), and deliberately
    * UNCAPPED: a ≥ τ pair dropped by a bucket cap is a missed duplicate,
    * the one error a dedup must not make (the all-pairs oracle would also
    * catch it). The 100 TB posture for mass-duplicate corpora — where one
    * bucket holds a million identical vectors — is compositional: run
    * `llm_dedup_exact` first (identical payloads collapse to one
    * representative), then this pass over the uniques; the residual
    * near-dup buckets are bounded by genuine near-miss diversity. */
  private def embNearDupPairs(corpus: DataFrame): DataFrame = {
    val coded = VectorOps.lshCoded(corpus.select(col("vec_id"), col("ve")))
    val cand = coded.select(col("vec_id").as("vec_a"), col("ve").as("va"), col("t"), col("code"))
      .join(coded.select(col("vec_id").as("vec_b"), col("ve").as("vb"), col("t"), col("code")),
        Seq("t", "code"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "va", "vec_b", "vb").distinct()
    cand
      .withColumn("cosine", VectorOps.cosine("va", "vb"))
      .filter(col("cosine") >= 0.95)
      .select("vec_a", "vec_b", "cosine")
  }

  /** Connected components over a near-dup pair set (label propagation:
    * each node takes the min label among itself and its neighbors until
    * fixpoint). This is the step that turns pairwise matches into a
    * keep-one-per-cluster decision. Iterations are O(component diameter) —
    * near-dup clusters are shallow — and each is one join + partial-agg
    * shuffle. Returns (id, label = min id in its component) for every pair
    * endpoint: the fixpoint the cluster/keep decisions read.
    *
    * One Spark action per round: each round is one
    * [[Checkpoints.materialize]], whose write job also observes how many
    * labels changed, and that count is the convergence test. The
    * edge set is materialized the same way, its row count sizing the loop
    * width; with no edges the loop runs no round at all.
    *
    * Fault tolerance at cluster scale: every round is a RELIABLE checkpoint
    * (written to `sparkContext`'s checkpoint dir — HDFS/object storage on a
    * real cluster), not `localCheckpoint`, which stores blocks only on
    * executors and makes any executor loss fatal mid-computation. Lineage
    * is therefore one round deep: a lost executor recomputes at most the
    * current round from the previous durable cut, and nothing is persisted,
    * so nothing is left cached after the call. */
  def labels(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    // The edge set is consumed by every round, and its lineage (the whole
    // LSH candidate pipeline) must not re-run per round nor be lost with
    // an executor. No distinct(): the input pairs are distinct with
    // doc_a < doc_b, so the union with their reversals cannot collide.
    // The reversal is an explode of a two-element array — ONE reference to
    // `pairs`, not a unionAll of two selects, which duplicates the entire
    // LSH candidate+verify subtree in the plan (exchange reuse dedups only
    // the exchanges; the verify join and distinct re-ran once per union
    // leg — measured as a second multi-MB pass inside the checkpoint stage).
    val (edges, nEdges) = Checkpoints.materialize(pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
      .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b")))
    // Scale-adaptive loop width (guide §2.2): the label table is one row
    // per pair ENDPOINT — a tiny fraction of the corpus — so the rounds
    // run at a width that follows the edge count (one partition per 500k
    // edge rows), capped at the session width so a billion-edge pair set
    // still fans out fully.
    StreamWidth.withShufflePartitions(s, StreamWidth.forRows(s, nEdges)) {
      var labels = edges.select(col("doc_a").as("id")).distinct()
        .withColumn("label", col("id"))
      var changed = nEdges
      while (changed > 0) {
        val neigh = edges
          .join(labels.select(col("id").as("doc_b"), col("label").as("nl")), "doc_b")
          .groupBy(col("doc_a").as("id")).agg(min(col("nl")).as("mn"))
        val (round, n) = Checkpoints.materialize(
          labels.join(neigh, Seq("id"), "left")
            .select(col("id"), col("label"),
              least(col("label"), coalesce(col("mn"), col("label"))).as("nl")),
          count_if(col("nl") =!= col("label")))
        labels = round.select(col("id"), col("nl").as("label"))
        changed = n
      }
      labels
    }
  }

  def clusters(pairs: DataFrame): DataFrame =
    labels(pairs)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        sort_array(collect_list(col("id"))).as("members"))

  /** The dedup DELIVERABLE: which documents survive. Keeps every document
    * that is not a non-representative member of a near-dup cluster (the
    * representative is the cluster's min id — the same keep-min rule as
    * exact dedup). One anti-join against the (tiny) drop set. */
  def keepSet(corpus: DataFrame, pairs: DataFrame): DataFrame = {
    val drop = labels(pairs).filter(col("id") =!= col("label")).select("id")
    corpus.join(drop, corpus("doc_id") === drop("id"), "left_anti")
      .select(col("doc_id"))
  }

  def queries: Map[String, QuerySpec] = Map(
    // Semantic dedup (SemDeDup, Abbas et al. 2023): drop every vector with
    // a smaller-id ≥ 0.95-cosine partner; survivors via one anti-join.
    // Candidate generation is the hyperplane-LSH bucket join
    // ([[embNearDupPairs]], shared with llm_dedup_embed) — NOT the paper's
    // k-means partition. Round 8 measured the clustered variant N^1.5 by
    // construction (√N clusters ⇒ N·√N assignment + N^1.5/2 within-cluster
    // pairs), and the alternative — a fixed cluster count — sends the
    // within-cluster scan quadratic as cluster sizes grow with N. The LSH
    // reformulation is the shape that survives 100 TB: per-vector bucketing
    // work is CONSTANT (4 tables × 16 hyperplane dot products), candidates
    // are bucket-bounded, and ≥ τ pairs the clusters would have separated
    // (near-dups straddling a Voronoi boundary) are found rather than
    // missed. The ≥ 0.95 cut and keep-smaller-id rule are unchanged.
    // Cosines fold left-to-right from zero (vec_cosine ≡ the oracle's
    // list_reduce), so the cut is bit-stable across engines; the oracle
    // scores ALL pairs, so the gate also proves LSH recall at the ≥ 0.95
    // band (the llm_dedup_embed precedent).
    "llm_dedup_semantic" -> QuerySpec(
      fn = (s, dir) => {
        val corpus = embCorpus(s, dir)
        val drops = embNearDupPairs(corpus)
          .select(col("vec_b").as("vec_id")).distinct()
        corpus.join(drops, Seq("vec_id"), "left_anti").select(col("vec_id"))
      },
      oracle = Some(s"""
        WITH $embCorpusSql,
        drops AS (
          SELECT DISTINCT y.vec_id
          FROM corpus x JOIN corpus y ON x.vec_id < y.vec_id
          WHERE (CASE WHEN list_reduce(list_transform(generate_series(1, 64),
                        i -> x.ve[i] * x.ve[i]), (p, q) -> p + q) = 0
                       OR list_reduce(list_transform(generate_series(1, 64),
                        i -> y.ve[i] * y.ve[i]), (p, q) -> p + q) = 0 THEN 0.0
                 ELSE list_reduce(list_transform(generate_series(1, 64),
                     i -> x.ve[i] * y.ve[i]), (p, q) -> p + q)
                 / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> x.ve[i] * x.ve[i]), (p, q) -> p + q))
                    * sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> y.ve[i] * y.ve[i]), (p, q) -> p + q))) END) >= 0.95)
        SELECT vec_id FROM corpus
        WHERE vec_id NOT IN (SELECT vec_id FROM drops)""")),

    // Exact dedup: group by content digest, keep the smallest id.
    "llm_dedup_exact" -> QuerySpec(
      fn = (s, dir) =>
        exactCorpus(s, dir)
          .groupBy(md5(col("text").cast("binary")).as("digest"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_copies"))
          .select("doc_id", "n_copies"),
      oracle = Some(s"""
        WITH $exactCorpusSql
        SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        FROM corpus GROUP BY md5(text)""")),

    // Duplicated-passage detection (Lee et al., "Deduplicating Training
    // Data Makes Language Models Better"): find document pairs sharing an
    // EXACT 40-char run, by extracting candidate windows only at word
    // boundaries (position after a space) — an anchoring rule both engines
    // spell identically, keeping the window stream O(words) instead of
    // O(chars). One shuffle groups identical windows; a group-size cap
    // (≤ 50 docs per window) bounds the pair expansion exactly like the
    // SimHash bucket cap — boilerplate/license headers shared by thousands
    // of docs would otherwise go quadratic. The windows travel as 64-bit
    // md5 keys, not 40-char strings — ~5× narrower shuffles — and since
    // `md5_long` ≡ DuckDB's `md5_number_upper` bit-for-bit, the hashed
    // form is STILL oracle-exact (a collision would be the identical
    // collision on both engines).
    "llm_dedup_passage" -> QuerySpec(
      fn = (s, dir) => passagePairsFromWins(
        nearFeat(s, dir).select(col("doc_id"), explode(col("wins")).as("w"))),
      oracle = Some(s"""
        WITH $nearCorpusSql,
        wins AS (
          SELECT DISTINCT doc_id, md5_number_upper(substr(text, i + 1, 40)) AS w
          FROM corpus, LATERAL unnest(range(1, len(text) - 39)) AS t(i)
          WHERE substr(text, i, 1) = ' '),
        shared AS (
          SELECT w FROM wins GROUP BY w HAVING COUNT(*) BETWEEN 2 AND 50)
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared
        FROM wins a
        JOIN wins b ON a.w = b.w AND a.doc_id < b.doc_id
        JOIN shared s ON s.w = a.w
        GROUP BY 1, 2""")),

    // Containment (Broder): |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 — detects a
    // document SUBSUMED by another even when symmetric Jaccard is low
    // (quote-inside-article, header-plus-body). Computed over the
    // rare-shingle profile: shingles with document frequency > 500 are
    // dropped from BOTH numerator and denominator before the candidate
    // join — the standard stopword-shingle suppression that bounds the
    // equi-join blowup (candidates ≤ df·|postings| with df capped), spelled
    // identically in the oracle so the cut is part of the checked
    // semantics, not an approximation. All inputs to the division are
    // exact integers — thresholding is bit-stable across engines.
    "llm_dedup_containment" -> QuerySpec(
      fn = (s, dir) => {
        val f = nearFeat(s, dir)
        containmentPairsFromKeys(
          f.select(col("doc_id"), explode(col("shm")).as("shingle")), f)
      },
      oracle = Some(s"""
        WITH $nearCorpusSql, $shinglesSql,
        shh AS (SELECT doc_id, md5_number_upper(shingle) AS shingle FROM sh),
        rare AS (SELECT shingle FROM shh GROUP BY shingle
                 HAVING COUNT(*) <= GREATEST(500,
                   (SELECT COUNT(*) FROM corpus) // 2000)),
        shf AS (SELECT doc_id, shh.shingle FROM shh
                JOIN rare ON rare.shingle = shh.shingle),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM shf GROUP BY 1),
        inter AS (
          SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
          FROM shf a JOIN shf b
            ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
          GROUP BY 1, 2)
        SELECT d1, d2,
               CAST(inter AS DOUBLE) / CAST(sz AS DOUBLE) AS containment
        FROM inter JOIN sizes ON sizes.doc_id = d1
        WHERE CAST(inter AS DOUBLE) / CAST(sz AS DOUBLE) >= 0.9""")),

    // Near-dup ground truth: shingle-Jaccard pairs ≥ 0.8 at audit-grade
    // confidence. Declared plan: banded LSH candidates at r=4/b=64 —
    // per-true-pair miss probability (1 − 0.8⁴)⁶⁴ ≈ 4e-15, i.e. below
    // one expected missed pair per ~10¹⁴ true pairs — with exact
    // per-pair verification, so every emitted pair is exactly correct
    // and completeness holds to a bound far past fixture/cluster scale.
    // Candidate volume is Σ_buckets C(sz,2) (signature agreement), which
    // stays LINEAR on df-saturated corpora where the prefix-filtered
    // exact plan's Σ df² bound goes quadratic (measured e=1.87/decade,
    // 962 s at sf10 vs 62 s for the banded plan producing the identical
    // pair set — asserted equal by DedupSpec). The guaranteed-complete
    // PPJoin plan remains available as the non-declared audit API
    // [[exactJaccardPairs]] for bounded forensic runs.
    "llm_dedup_jaccard" -> QuerySpec(
      fn = (s, dir) => lshJaccardPairsFeat(nearFeat(s, dir), tau = 0.8, r = 4, b = 64),
      oracle = Some(jaccardOracle)),

    // Threshold calibration sweep: pair counts at several Jaccard cut
    // points from ONE candidate pass at the loosest threshold (0.7) —
    // how an operator picks the dedup threshold before committing to a
    // corpus-wide run. Candidates come from banded LSH at r=3/b=42 (the
    // loose threshold needs shorter band slices: survival at J=0.7 is
    // 1-(1-0.7³)⁴² = 1 − 2.2e-8, vs 1.5e-4 missed with the default
    // 4×32), verified with the exact per-pair Jaccard; the naive-join
    // oracle still checks the result pair-for-pair at the gate scales.
    // Replaced the prefix-filtered exact pass in round 7: its Σ df²
    // candidate bound went quadratic on the df-saturated fixture
    // (1570 s at sf10); LSH candidates stay linear (61 s, e≈0.94/decade).
    "llm_dedup_threshold_sweep" -> QuerySpec(
      fn = (s, dir) => {
        val pairs = lshJaccardPairsFeat(nearFeat(s, dir), tau = 0.7, r = 3, b = 42)
        pairs.agg(
          sum(when(col("jaccard") >= 0.7, 1).otherwise(0)).cast("long").as("ge_070"),
          sum(when(col("jaccard") >= 0.8, 1).otherwise(0)).cast("long").as("ge_080"),
          sum(when(col("jaccard") >= 0.9, 1).otherwise(0)).cast("long").as("ge_090"),
          sum(when(col("jaccard") >= 0.95, 1).otherwise(0)).cast("long").as("ge_095"))
      },
      oracle = Some(s"""
        WITH $nearCorpusSql, ${pairsFromCorpusSqlAt(0.7)}
        SELECT
          CAST(SUM(CASE WHEN jaccard >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS ge_070,
          CAST(SUM(CASE WHEN jaccard >= 0.8 THEN 1 ELSE 0 END) AS BIGINT) AS ge_080,
          CAST(SUM(CASE WHEN jaccard >= 0.9 THEN 1 ELSE 0 END) AS BIGINT) AS ge_090,
          CAST(SUM(CASE WHEN jaccard >= 0.95 THEN 1 ELSE 0 END) AS BIGINT) AS ge_095
        FROM pairs""")),

    // MinHash-LSH near-dup: must reproduce the exact-Jaccard pair set.
    "llm_dedup_minhash" -> QuerySpec(
      fn = (s, dir) => minhashPairsFeat(nearFeat(s, dir)),
      oracle = Some(jaccardOracle),
      bench = true),

    // SimHash near-dup candidates (chunk-join, hamming ≤ 6), differential-
    // checked: `simhash_md5` hashes tokens with the MD5-upper-64 hash that
    // DuckDB exposes as `md5_number_upper`, so the oracle rebuilds the
    // SAME fingerprints bit-for-bit (as 0/1 lists — DuckDB's 64-bit shifts
    // overflow-check, so the oracle stays in INT bit-array space).
    //
    // Scale bound: exact-match on 16-bit chunks means expected bucket size
    // N/65536 — quadratic candidate blowup on pathological buckets (all
    // docs sharing a chunk, e.g. boilerplate). [[simhashBucketCap]] drops
    // buckets larger than the cap, bounding candidates by
    // 4 · cap · N pairs total; content degenerate enough to overflow a
    // bucket is exact-dup territory, handled by `llm_dedup_exact` first.
    // The cap is mirrored in the oracle (QUALIFY) and guarded by DedupSpec.
    "llm_dedup_simhash" -> QuerySpec(
      fn = (s, dir) => simhashPairsFromHashes(
        nearFeat(s, dir).select("doc_id", "simhash")),
      oracle = Some(s"""
        WITH $nearCorpusSql, $simhashCtes
        SELECT doc_a, doc_b, hamming FROM scand WHERE hamming <= 6""")),

    // Approximation-quality evaluation: the SimHash candidate detector
    // (hamming ≤ 6) scored against the exact-Jaccard-≥0.8 ground truth on
    // the SAME corpus — the confusion counts + precision/recall a curator
    // reads before trusting a cheap detector at 100 TB. Both legs are the
    // library's own declared plans (each independently oracle-checked);
    // the full-outer join of two pair sets costs no more than the larger
    // leg, and the final aggregate is a single row. Ratios are int/int in
    // double — bit-identical across engines.
    "llm_dedup_eval" -> QuerySpec(
      fn = (s, dir) => {
        val f = nearFeat(s, dir)
        val cand = simhashPairsFromHashes(f.select("doc_id", "simhash"))
          .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
        val truth = lshJaccardPairsFeat(f, tau = 0.8)
          .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
        cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            sum(when(col("c").isNotNull && col("t").isNotNull, 1).otherwise(0))
              .cast("long").as("tp"),
            sum(when(col("c").isNotNull && col("t").isNull, 1).otherwise(0))
              .cast("long").as("fp"),
            sum(when(col("c").isNull && col("t").isNotNull, 1).otherwise(0))
              .cast("long").as("fn"))
          .select(col("tp"), col("fp"), col("fn"),
            (col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
            (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"))
      },
      oracle = Some(s"""
        WITH $nearCorpusSql, $simhashCtes, $pairsFromCorpusSql,
        cnd AS (SELECT doc_a, doc_b FROM scand WHERE hamming <= 6),
        conf AS (
          SELECT c.doc_a IS NOT NULL AS in_c, p.doc_a IS NOT NULL AS in_t
          FROM cnd c FULL OUTER JOIN pairs p
            ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b)
        SELECT tp, fp, fn,
               CAST(tp AS DOUBLE) / (tp + fp) AS precision,
               CAST(tp AS DOUBLE) / (tp + fn) AS recall
        FROM (
          SELECT CAST(SUM(CASE WHEN in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                 CAST(SUM(CASE WHEN in_c AND NOT in_t THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                 CAST(SUM(CASE WHEN NOT in_c AND in_t THEN 1 ELSE 0 END) AS BIGINT) AS fn
          FROM conf)""")),

    // The persisted [[TextFeatures]] table ITSELF, differentially checked:
    // per document the shingle count, the full sorted md5 shingle-key set
    // (md5_long ≡ DuckDB md5_number_upper bit-for-bit), and the sorted
    // passage window-key set — rebuilt from raw text by the oracle. The
    // xxhash64-keyed sh/sig columns have no DuckDB twin; their equality to
    // the from-text derivation is pinned per column by TextFeaturesSpec,
    // and every query consuming them is oracle-checked downstream.
    "llm_text_features" -> QuerySpec(
      fn = (s, dir) => nearFeat(s, dir).select(
        col("doc_id"), col("n"),
        array_join(expr("transform(array_sort(shm), x -> CAST(x AS STRING))"),
          ",").as("shm"),
        array_join(expr("transform(array_sort(wins), x -> CAST(x AS STRING))"),
          ",").as("wins")),
      oracle = Some(s"""
        WITH $nearCorpusSql, $shinglesSql,
        f AS (
          -- md5_number_upper is UNSIGNED; the engine's md5_long is the
          -- SIGNED reinterpretation of the same 64 bits (equality-joins in
          -- the other oracles never see the difference; emitted values
          -- do). Wrap ≥ 2⁶³ down by 2⁶⁴ in HUGEINT, THEN sort, so value
          -- and order both match the signed column.
          SELECT doc_id, CAST(COUNT(*) AS INT) AS n,
                 array_to_string(list_sort(list(
                   CAST(CAST(md5_number_upper(shingle) AS HUGEINT) -
                     CASE WHEN md5_number_upper(shingle)
                               >= CAST(9223372036854775808 AS HUGEINT)
                          THEN CAST(18446744073709551616 AS HUGEINT)
                          ELSE CAST(0 AS HUGEINT) END AS BIGINT))), ',')
                   AS shm
          FROM sh GROUP BY doc_id),
        wn AS (
          SELECT DISTINCT doc_id,
                 CAST(CAST(md5_number_upper(substr(text, i + 1, 40)) AS HUGEINT) -
                   CASE WHEN md5_number_upper(substr(text, i + 1, 40))
                             >= CAST(9223372036854775808 AS HUGEINT)
                        THEN CAST(18446744073709551616 AS HUGEINT)
                        ELSE CAST(0 AS HUGEINT) END AS BIGINT) AS w
          FROM corpus, LATERAL unnest(range(1, len(text) - 39)) AS t(i)
          WHERE substr(text, i, 1) = ' '),
        wl AS (
          SELECT doc_id, array_to_string(list_sort(list(w)), ',') AS wins
          FROM wn GROUP BY doc_id)
        SELECT f.doc_id, f.n, f.shm, COALESCE(wl.wins, '') AS wins
        FROM f LEFT JOIN wl ON f.doc_id = wl.doc_id""")),

    // LSH-candidate recall scored against the exact PPJoin ground truth —
    // the eval a curator reads before trusting banded LSH as the declared
    // jaccard plan (llm_dedup_eval grades SimHash only; this grades the
    // OTHER cheap detector). Truth leg: the prefix-filtered exact
    // similarity join ([[exactJaccardPairs]], its only declared-query
    // appearance); candidate leg: banded LSH at the audit parameters
    // (r=4/b=64, analytic per-pair miss ≈ 4e-15). A true pair among the
    // candidates always survives exact verification, so verified-pair
    // recall EQUALS candidate recall w.r.t. the truth set. Both legs
    // reduce to the naive-join pair set when correct, so the oracle pins
    // the confusion row at tp=|pairs|, fn=fp=0 — one lost or invented
    // pair on EITHER leg and the counts hash-diverge. The gated sf1 soak
    // (DedupSpec) re-scores recall on a corpus whose vocabulary is
    // non-vacuous at 600k docs.
    "llm_dedup_eval_lsh" -> QuerySpec(
      fn = (s, dir) => {
        val feat = nearFeat(s, dir)
        val cand = lshJaccardPairsFeat(feat, tau = 0.8, r = 4, b = 64)
          .select(col("doc_a"), col("doc_b"), lit(1).as("c"))
        // Truth leg from the STORED md5 shingle keys (shingle-once): the
        // from-text spelling re-tokenized + re-hashed the whole corpus a
        // second time inside this one query (round-15 stage profile: ~1 s
        // of 32-task CPU + 2.3 s GC; `Bench <query>`'s record re-measures). Keys are bit-identical
        // (TextFeaturesSpec), so the PPJoin pair set — and the oracle
        // hash — are unchanged.
        val truth = exactJaccardPairsFromKeys(
          feat.select(col("doc_id"), explode(col("shm")).as("shingle")),
          tau = 0.8)
          .select(col("doc_a"), col("doc_b"), lit(1).as("t"))
        cand.join(truth, Seq("doc_a", "doc_b"), "full_outer")
          .agg(
            sum(when(col("c").isNotNull && col("t").isNotNull, 1).otherwise(0))
              .cast("long").as("tp"),
            sum(when(col("c").isNotNull && col("t").isNull, 1).otherwise(0))
              .cast("long").as("fp"),
            sum(when(col("c").isNull && col("t").isNotNull, 1).otherwise(0))
              .cast("long").as("fn"))
          .select(col("tp"), col("fp"), col("fn"),
            (col("tp").cast("double") / (col("tp") + col("fp"))).as("precision"),
            (col("tp").cast("double") / (col("tp") + col("fn"))).as("recall"))
      },
      oracle = Some(s"""
        WITH $jaccardPairsCtes
        SELECT tp, fp, fn,
               CAST(tp AS DOUBLE) / (tp + fp) AS precision,
               CAST(tp AS DOUBLE) / (tp + fn) AS recall
        FROM (SELECT CAST(COUNT(*) AS BIGINT) AS tp,
                     CAST(0 AS BIGINT) AS fp,
                     CAST(0 AS BIGINT) AS fn
              FROM pairs)""")),

    // Near-dup clusters: connected components over the LSH-found pair set,
    // checked against a recursive-CTE transitive closure in DuckDB. The
    // member list is serialized to a CSV string on both engines (the
    // differential gate cannot canonicalize array cells).
    "llm_dedup_clusters" -> QuerySpec(
      fn = (s, dir) => clusters(minhashPairsFeat(nearFeat(s, dir)))
        .select(col("cluster_id"), col("n_members"),
          array_join(expr("transform(members, x -> CAST(x AS STRING))"), ",")
            .as("members")),
      oracle = Some(s"""
        WITH RECURSIVE $jaccardPairsCtes, $closureCtes
        SELECT cluster AS cluster_id, COUNT(*) AS n_members,
               array_to_string(list_sort(list(node)), ',') AS members
        FROM labels GROUP BY cluster""")),

    // The dedup deliverable: the surviving document set after near-dup
    // clustering (cluster representative = min id; singletons all kept).
    "llm_dedup_keep" -> QuerySpec(
      fn = (s, dir) => {
        val f = nearFeat(s, dir)
        keepSet(f, minhashPairsFeat(f))
      },
      oracle = Some(s"""
        WITH RECURSIVE $jaccardPairsCtes, $closureCtes
        SELECT doc_id FROM corpus
        WHERE doc_id NOT IN (SELECT node FROM labels WHERE cluster <> node)""")),

    // The curation CAPSTONE: the full pipeline a training-data batch runs,
    // composed from the library's own operators — quality gate (language +
    // length), near-dup SURVIVORS over the naturally-occurring duplicate
    // pairs among the documents themselves, then a reproducible 50%
    // hash-bucket sample. One oracle checks the whole composition.
    "llm_curate_e2e" -> QuerySpec(
      fn = (s, dir) => {
        val f = plainFeat(s, dir)
        val survivors = keepSet(f, minhashPairsFeat(f))
        docs(s, dir)
          .filter(col("lang").isin("en", "fr", "es") &&
            col("n_chars").between(100, 500))
          .join(survivors, "doc_id")
          .filter(expr("(md5_long(concat('cur42:', CAST(doc_id AS STRING))) & 1023) < 512"))
          .select(col("doc_id"), col("lang"))
      },
      oracle = Some(s"""
        WITH RECURSIVE corpus AS (SELECT doc_id, lower(text) AS text FROM documents),
        $pairsFromCorpusSql, $closureCtes
        SELECT doc_id, lang FROM documents
        WHERE lang IN ('en', 'fr', 'es') AND n_chars BETWEEN 100 AND 500
          AND doc_id NOT IN (SELECT node FROM labels WHERE cluster <> node)
          AND (md5_number_upper('cur42:' || CAST(doc_id AS VARCHAR)) & 1023) < 512""")),

    // STREAMING curation e2e as a declared, oracle-checked query: the
    // documents table arrives in two waves through CurateStream — quality
    // gate (lang + length), then INCREMENTAL LSH dedup where each
    // micro-batch joins only the persisted band index (never re-dedups
    // ingested text) — and the final keep set must equal a from-scratch
    // batch dedup of the gated corpus (LSH is a pure per-doc function, so
    // accumulated pairs ≡ the full-corpus pair set; CurateStreamSpec pins
    // the equality across waves, restarts, and replays). Gate-then-dedup
    // ordering — the complement of llm_curate_e2e's dedup-then-gate.
    "llm_curate_stream" -> QuerySpec(
      fn = (s, dir) => {
        import graft.streaming.CurateStream
        val landing = graft.api.Scratch.dir("curate_landing")
        val state = graft.api.Scratch.dir("curate_state")
        val cp = graft.api.Scratch.dir("curate_cp")
        val d = Tables.load(s, dir, "documents")
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        val gate = CurateStream.GateConfig(
          langs = Seq("en", "fr", "es"), minChars = 100, maxChars = 500)
        // maxFilesPerTrigger = 2: each wave's two files drain in ONE
        // micro-batch (guide §2.2 "fewer, larger triggers" — measured
        // round 15: per-batch overhead, not data, dominated this query at
        // four batches). Batch boundaries don't affect the result: LSH is
        // a pure per-doc function, so accumulated pairs ≡ the full-corpus
        // pair set on any batching (the incrementPairs invariant,
        // spec-pinned; the wave boundary still exercises restart +
        // persisted-index probing).
        (0 to 1).foreach { wave =>
          d.filter(pmod(col("doc_id"), lit(2)) === wave)
            .coalesce(2).write.mode("append").parquet(landing)
          CurateStream.runAvailableNow(s, landing, state, cp, gate,
            maxFilesPerTrigger = 2)
        }
        CurateStream.survivors(s, state)
          .join(s.read.parquet(s"$state/docs").select("doc_id", "lang"),
            "doc_id")
      },
      oracle = Some(s"""
        WITH RECURSIVE corpus AS (
          SELECT doc_id, lower(text) AS text FROM documents
          WHERE lang IN ('en', 'fr', 'es') AND n_chars BETWEEN 100 AND 500),
        $pairsFromCorpusSql, $closureCtes
        SELECT d.doc_id, d.lang FROM documents d
        JOIN corpus c ON c.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT node FROM labels WHERE cluster <> node)""")),

    // Embedding-cosine near-dup via hyperplane LSH + exact verification.
    "llm_dedup_embed" -> QuerySpec(
      fn = (s, dir) => embNearDupPairs(embCorpus(s, dir)),
      oracle = Some(s"""
        WITH $embCorpusSql,
        pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                 CASE WHEN list_reduce(list_transform(generate_series(1, 64),
                        i -> a.ve[i] * a.ve[i]), (x, y) -> x + y) = 0
                       OR list_reduce(list_transform(generate_series(1, 64),
                        i -> b.ve[i] * b.ve[i]), (x, y) -> x + y) = 0 THEN 0.0
                 ELSE list_reduce(list_transform(generate_series(1, 64),
                     i -> a.ve[i] * b.ve[i]), (x, y) -> x + y)
                 / (sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> a.ve[i] * a.ve[i]), (x, y) -> x + y))
                    * sqrt(list_reduce(list_transform(generate_series(1, 64),
                        i -> b.ve[i] * b.ve[i]), (x, y) -> x + y))) END AS cosine
          FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.95""")),

    // int8 vector quantization (per-vector absmax scale) + reconstruction
    // quality — the compression step a 100 TB embedding store runs before
    // ANN. floor(x+0.5) rounding keeps both engines bit-identical.
    "llm_embed_quantize" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "embeddings")
          .withColumn("ve", VectorOps.asDouble("embedding"))
        e.select(col("vec_id"), col("ve"))
          .withColumn("scale", expr(
            "aggregate(ve, CAST(0.0 AS DOUBLE), (m, x) -> greatest(m, abs(x)))"))
          .withColumn("q", expr(
            """CASE WHEN scale = 0.0 THEN transform(ve, x -> 0)
               ELSE transform(ve, x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT))
               END"""))
          .withColumn("dq", expr("transform(q, v -> CAST(v AS DOUBLE) * scale / 127.0)"))
          // Codes serialized to a CSV string on both engines (integer →
          // string is exact; the differential gate cannot sort array cells).
          .select(col("vec_id"), col("scale"),
            array_join(expr("transform(q, x -> CAST(x AS STRING))"), ",").as("q"),
            VectorOps.cosine("ve", "dq").as("recon_cosine"))
      },
      oracle = Some("""
        WITH v AS (
          SELECT vec_id,
                 [CAST(embedding[i] AS DOUBLE) for i in generate_series(1, 64)] AS ve
          FROM embeddings),
        s AS (
          SELECT *, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(ve, x -> abs(x))),
                    (m, x) -> greatest(m, x)) AS scale
          FROM v),
        q AS (
          SELECT *, CASE WHEN scale = 0.0 THEN list_transform(ve, x -> 0)
                         ELSE list_transform(ve, x -> CAST(floor(x * 127.0 / scale + 0.5) AS INT))
                    END AS q
          FROM s),
        d AS (
          SELECT *, list_transform(q, x -> CAST(x AS DOUBLE) * scale / 127.0) AS dq
          FROM q)
        SELECT vec_id, scale, array_to_string(q, ',') AS q,
               CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        [ve[i] * ve[i] for i in generate_series(1, 64)]), (a, b) -> a + b) = 0
                     OR list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        [dq[i] * dq[i] for i in generate_series(1, 64)]), (a, b) -> a + b) = 0
                    THEN 0.0
               ELSE list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                   [ve[i] * dq[i] for i in generate_series(1, 64)]), (a, b) -> a + b)
               / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [ve[i] * ve[i] for i in generate_series(1, 64)]), (a, b) -> a + b))
                  * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                     [dq[i] * dq[i] for i in generate_series(1, 64)]), (a, b) -> a + b)))
               END AS recon_cosine
        FROM d""")),

    // ------------------------------------------------------------------
    // Leakage-safe dataset split: the content-addressed ~10% val split,
    // with the NEAR-DUP GUARD a careful eval protocol requires — a val
    // document whose shingle-Jaccard with ANY train document reaches 0.8
    // is marked `leaky_val` (evaluating on it would test memorization of
    // a train near-copy, not generalization; Lee et al. 2021 measure
    // exactly this contamination). Split membership is a pure hash
    // function of the row (rerun/partitioning/engine-stable, like every
    // sampler here); the guard reuses the banded-LSH pair machinery at
    // audit-grade r=4/b=64, so the pair pass is linear in the corpus, the
    // directed-edge join is pair-scale, and the final verdict is one
    // broadcast semi-join — no corpus×corpus work anywhere.
    "llm_dataset_split" -> QuerySpec(
      fn = (s, dir) => {
        val d = Tables.load(s, dir, "documents")
        val pairs = lshJaccardPairsFeat(plainFeat(s, dir), tau = 0.8, r = 4, b = 64)
          .select("doc_a", "doc_b")
        val splits = d.select(col("doc_id"),
          when(expr("md5_long(concat('split:', CAST(doc_id AS STRING))) & 1023")
            < 102, lit("val")).otherwise(lit("train")).as("split"))
        // One reference to `pairs`: the direction swap rides an explode
        // instead of a unionAll of two selects, which would plant the
        // whole banded-LSH pair pipeline TWICE in the plan (the r=4/b=64
        // candidate join + exact verify re-ran once per leg; only the
        // exchanges were dedup'd at runtime).
        val edges = pairs
          .select(explode(array(
            struct(col("doc_a"), col("doc_b")),
            struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))).as("e"))
          .select(col("e.doc_a").as("doc_a"), col("e.doc_b").as("doc_b"))
        val trainIds = splits.filter(col("split") === "train")
          .select(col("doc_id").as("partner"))
        val leaky = edges
          .join(trainIds, edges("doc_b") === trainIds("partner"), "left_semi")
          .select(col("doc_a").as("doc_id")).distinct()
        splits
          .join(broadcast(leaky.withColumn("leak", lit(1))), Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("split") === "val" && col("leak").isNotNull,
              lit("leaky_val")).otherwise(col("split")).as("split"))
      },
      oracle = Some(s"""
        WITH corpus AS (SELECT doc_id, lower(text) AS text FROM documents),
        ${pairsFromCorpusSqlAt(0.8)},
        s AS (
          SELECT doc_id,
                 CASE WHEN md5_number_upper('split:' || CAST(doc_id AS VARCHAR))
                           & 1023 < 102
                      THEN 'val' ELSE 'train' END AS split
          FROM documents),
        leaky AS (
          SELECT DISTINCT v.doc_id
          FROM s v
          JOIN pairs p ON p.doc_a = v.doc_id OR p.doc_b = v.doc_id
          JOIN s t ON t.doc_id = CASE WHEN p.doc_a = v.doc_id
                                      THEN p.doc_b ELSE p.doc_a END
          WHERE t.split = 'train')
        SELECT s.doc_id,
               CASE WHEN s.split = 'val' AND l.doc_id IS NOT NULL
                    THEN 'leaky_val' ELSE s.split END AS split
        FROM s LEFT JOIN leaky l ON l.doc_id = s.doc_id""")))
}
