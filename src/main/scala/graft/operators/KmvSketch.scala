package graft.operators

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** KMV (k-minimum-values / bottom-k theta) sketch — the set-OPERATION
  * member of the mergeable sketch family (HLL counts one set,
  * `rel_hll_distinct`; Bloom answers membership; CMS answers frequency;
  * CDF answers quantiles). KMV's extra power is that two sketches
  * support INTERSECTION estimates: keep the k smallest distinct 63-bit
  * hashes of each set; the k smallest of a union are computable from the
  * two sketches alone, and the fraction of union-sketch members present
  * in both sides estimates the Jaccard — so overlap cardinality between
  * two corpora (the train⋈eval contamination question
  * [[graft.llm.CurationOps]] answers exactly by joining) is estimable
  * from two kilobyte-sized summaries with NO join and one pass per
  * corpus. At 100 TB that is the difference between a daily
  * contamination report that shuffles both corpora and one that merges
  * 8 KB per shard.
  *
  * Scale shape: state is a sorted array of ≤ k=1024 distinct hashes.
  * Insertion is threshold-gated (once full, a row whose hash exceeds the
  * current kth value is rejected in O(1) — at N ≫ k that is ~100% of
  * rows), merge is a sorted-array merge keeping k — partials combine
  * map-side, two shards' (or two days') sketches merge exactly, shuffle
  * volume is O(groups × k) regardless of input size.
  *
  * Determinism: hashes are the engine's portable `md5_long` masked
  * positive (bit-identical to DuckDB's `md5_number_upper`), the sketch
  * content is then a pure function of the key SET (order- and
  * duplicate-insensitive, spec-pinned), and the estimators are fixed
  * IEEE expressions — so the DuckDB oracle rebuilds the identical
  * sketch row-wise (ORDER BY hash LIMIT k) and the estimates
  * hash-compare EXACTLY, not approximately. Below k distinct values the
  * sketch IS the distinct hash set and every estimate is exact by
  * construction.
  *
  * Estimator: with hashes uniform on [0, 2^63), E[#distinct] =
  * (k−1)·2^63 / h_k (the classic KMV estimator); union via the merged
  * sketch; intersection = Jaccard(union sketch) × union estimate.
  */
object KmvSketch extends QueryModule {

  val k = 1024

  /** The positive-63-bit portable hash both engines share — Spark
    * spelling; the oracle's twin is
    * `md5_number_upper(CAST(x AS VARCHAR)) & 9223372036854775807`. */
  def hashExpr(colSql: String): String =
    s"md5_long(CAST($colSql AS STRING)) & 9223372036854775807"

  final case class Buf(arr: Array[Long], n: Int)

  /** Bottom-k distinct hashes as a typed `Aggregator`. Input rows are the
    * already-hashed longs ([[hashExpr]]); nulls are the caller's to drop. */
  val agg: Aggregator[Long, Buf, Array[Long]] =
    new Aggregator[Long, Buf, Array[Long]] {
      override def zero: Buf = Buf(new Array[Long](k), 0)

      override def reduce(b: Buf, h: Long): Buf = {
        if (b.n == k && h >= b.arr(k - 1)) return b // O(1) reject path
        var lo = 0; var hi = b.n
        while (lo < hi) { // insertion point in the sorted prefix
          val mid = (lo + hi) >>> 1
          if (b.arr(mid) < h) lo = mid + 1 else hi = mid
        }
        if (lo < b.n && b.arr(lo) == h) return b // duplicate
        val keep = math.min(b.n, k - 1) // last slot drops off when full
        System.arraycopy(b.arr, lo, b.arr, lo + 1, keep - lo)
        b.arr(lo) = h
        if (b.n < k) Buf(b.arr, b.n + 1) else b
      }

      override def merge(x: Buf, y: Buf): Buf = {
        // Sorted-distinct two-pointer merge keeping the k smallest; equal
        // heads consume from both sides (the union stays a set).
        val out = new Array[Long](k)
        var i = 0; var j = 0; var o = 0
        while (o < k && (i < x.n || j < y.n)) {
          out(o) =
            if (j >= y.n) { val t = x.arr(i); i += 1; t }
            else if (i >= x.n) { val t = y.arr(j); j += 1; t }
            else if (x.arr(i) < y.arr(j)) { val t = x.arr(i); i += 1; t }
            else if (y.arr(j) < x.arr(i)) { val t = y.arr(j); j += 1; t }
            else { val t = x.arr(i); i += 1; j += 1; t }
          o += 1
        }
        Buf(out, o)
      }

      override def finish(b: Buf): Array[Long] = java.util.Arrays.copyOf(b.arr, b.n)
      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Register the SQL door: `kmv_sketch(hash) → array<bigint>` (≤ k). */
  def register(spark: SparkSession): Unit =
    spark.udf.register("kmv_sketch", udaf(agg))

  private val maxH: Column = lit(Long.MaxValue).cast("double")

  /** Distinct-count estimate from a sketch column: exact size below k,
    * else ((k−1)·2^63)/h_k — both engines evaluate the identical IEEE
    * expression, so oracle rows match bitwise. */
  def estDistinct(s: Column): Column =
    when(size(s) < k, size(s).cast("double"))
      .otherwise((lit((k - 1).toDouble) * maxH) /
        element_at(s, k).cast("double"))

  /** The union's own KMV sketch, computed from two sketches alone —
    * the closure property that makes set algebra on summaries work. */
  def unionSketch(a: Column, b: Column): Column =
    slice(array_sort(array_distinct(concat(a, b))), 1, k)

  /** Members of the union sketch present in BOTH input sketches. All three
    * arrays are duplicate-free, so the count equals a chained
    * `array_intersect` — O(|u|+|a|+|b|) per pair via hash-set lookup,
    * where the original `filter(u, x -> array_contains(a, x) && ...)`
    * spelling was O(|u|·(|a|+|b|)) linear scans (measured: the 190-pair
    * estimate project was 5.1 s of llm_kmv_matrix's 6.5 s at sf0.1,
    * single-task). Same count, same results. */
  def interCount(u: Column, a: Column, b: Column): Column =
    // (A round-15 respelling of the outer step through the native
    // intersect_count measured WORSE here — k-sized sketch arrays make
    // the per-row probe-table allocation cost more than the boxed set it
    // avoids (llm_kmv_matrix 1.05/1.45 → 1.15/2.13 s across paired warm
    // runs) — and was reverted; the native expression stays in the
    // dedup verify joins whose ~52-element arrays it measurably wins on.)
    size(array_intersect(array_intersect(u, a), b))

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Grouped distinct estimation: one kmv_sketch aggregation per
    // event_type (bounded k-long state, map-side combinable), estimate vs
    // exact COUNT(DISTINCT), relative error reported. The oracle rebuilds
    // the identical bottom-k per group with a window row_number.
    "rel_kmv_distinct" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val sk = udaf(agg)
        val ev = Tables.load(s, dir, "events")
        // No fanout here: one md5 per row is ~1 µs — measured cheaper to
        // hash single-task than to pay a repartition of the 100k rows
        // (0.48 s → 1.05 s with the widen; reverted).
        val sketches = ev
          .select($"event_type", expr(hashExpr("user_id")).as("h"))
          .groupBy($"event_type").agg(sk($"h").as("s"))
          .select($"event_type", size($"s").cast("long").as("sketch_size"),
            estDistinct($"s").as("est_distinct"))
        val exact = ev.groupBy($"event_type")
          .agg(countDistinct($"user_id").as("exact_distinct"))
        sketches.join(exact, "event_type")
          .select($"event_type", $"sketch_size", $"est_distinct",
            $"exact_distinct",
            (abs($"est_distinct" - $"exact_distinct".cast("double"))
              / $"exact_distinct".cast("double")).as("rel_err"))
      },
      oracle = distinctOracleSql,
      doc = "Per-group bottom-k distinct estimate vs exact, oracle-exact."),

    // ------------------------------------------------------------------
    // The contamination question as set algebra on summaries: a "train"
    // and an "eval" slice of documents (engineered 2-decile overlap),
    // one KMV sketch each, overlap cardinality estimated from the two
    // sketches alone — no join touches the corpora. Exact overlap and
    // relative error reported beside it; llm_decontaminate_* remain the
    // exact-join spellings this estimates cheaply.
    "llm_kmv_overlap" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val sk = udaf(agg)
        val docs = Tables.load(s, dir, "documents")
        def side(cond: Column, name: String) = docs.filter(cond)
          .select(expr(hashExpr("doc_id")).as("h"))
          .agg(sk($"h").as(name))
        val a = side(pmod($"doc_id", lit(10)) < 6, "sa")
        val b = side(pmod($"doc_id", lit(10)) >= 4, "sb")
        val exact = docs
          .filter(pmod($"doc_id", lit(10)) >= 4 && pmod($"doc_id", lit(10)) < 6)
          .agg(countDistinct($"doc_id").as("exact_overlap"))
        val u = unionSketch($"sa", $"sb")
        a.crossJoin(b).crossJoin(exact)
          .select(
            estDistinct($"sa").as("est_a"),
            estDistinct($"sb").as("est_b"),
            estDistinct(u).as("est_union"),
            (interCount(u, $"sa", $"sb").cast("double")
              / size(u).cast("double")).as("jaccard_est"),
            ((interCount(u, $"sa", $"sb").cast("double")
              / size(u).cast("double")) * estDistinct(u)).as("est_overlap"),
            $"exact_overlap",
            (abs((interCount(u, $"sa", $"sb").cast("double")
                / size(u).cast("double")) * estDistinct(u)
              - $"exact_overlap".cast("double"))
              / $"exact_overlap".cast("double")).as("rel_err"))
      },
      oracle = Some(s"""
        WITH ha AS (
          SELECT DISTINCT md5_number_upper(CAST(doc_id AS VARCHAR))
                   & 9223372036854775807 AS h
          FROM documents WHERE doc_id % 10 < 6),
        hb AS (
          SELECT DISTINCT md5_number_upper(CAST(doc_id AS VARCHAR))
                   & 9223372036854775807 AS h
          FROM documents WHERE doc_id % 10 >= 4),
        ka AS (SELECT h FROM ha ORDER BY h LIMIT $k),
        kb AS (SELECT h FROM hb ORDER BY h LIMIT $k),
        u AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) t
              ORDER BY h LIMIT $k),
        m AS (SELECT
          (SELECT COUNT(*) FROM ka) AS na, (SELECT MAX(h) FROM ka) AS ma,
          (SELECT COUNT(*) FROM kb) AS nb, (SELECT MAX(h) FROM kb) AS mb,
          (SELECT COUNT(*) FROM u) AS nu, (SELECT MAX(h) FROM u) AS mu,
          (SELECT COUNT(*) FROM u
            WHERE h IN (SELECT h FROM ka) AND h IN (SELECT h FROM kb)) AS ni,
          (SELECT COUNT(DISTINCT doc_id) FROM documents
            WHERE doc_id % 10 >= 4 AND doc_id % 10 < 6) AS exact_overlap)
        SELECT
          CASE WHEN na < $k THEN CAST(na AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(ma AS DOUBLE) END AS est_a,
          CASE WHEN nb < $k THEN CAST(nb AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(mb AS DOUBLE) END AS est_b,
          CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(mu AS DOUBLE) END AS est_union,
          CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE) AS jaccard_est,
          (CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE)) *
            (CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
                  ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                       / CAST(mu AS DOUBLE) END) AS est_overlap,
          exact_overlap,
          abs((CAST(ni AS DOUBLE) / CAST(nu AS DOUBLE)) *
            (CASE WHEN nu < $k THEN CAST(nu AS DOUBLE)
                  ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                       / CAST(mu AS DOUBLE) END)
            - CAST(exact_overlap AS DOUBLE))
            / CAST(exact_overlap AS DOUBLE) AS rel_err
        FROM m"""),
      doc = "Join-free corpus-overlap (contamination) estimate from two KMV sketches."),

    // ------------------------------------------------------------------
    // The |sources|² daily report from summaries alone: ONE pass computes
    // a KMV sketch of every source's 5-gram set (the same element
    // universe `llm_source_overlap` intersects EXACTLY by joining
    // gram→source postings), then the full pairwise overlap matrix —
    // distinct-gram estimates, union, Jaccard, overlap cardinality — is
    // set algebra over the 20 sketch rows. No distinct, no self-join of
    // postings: the sketch is duplicate-insensitive, so raw gram rows
    // feed groupBy(source) directly with map-side combine, shuffle volume
    // |sources|·k whatever the corpus size. The pair join below is a
    // nested-loop over the ~|sources|-row AGGREGATED sketches — bounded
    // by construction, never by the corpus. The oracle rebuilds every
    // per-source bottom-k and every pair's union sketch row-wise; all
    // estimates hash-match exactly.
    "llm_kmv_matrix" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val sk = udaf(agg)
        // Fanout: the 5-gram md5 pass is the CPU-heavy map stage and the
        // fixture scan is one row group — widen the narrow (source, text)
        // projection so it parallelizes (no-op at cluster scale).
        val grams = graft.api.Fanout.widen(
            Tables.load(s, dir, "documents").select($"source", $"text"))
          .withColumn("toks", split(lower($"text"), "\\s+"))
          .select($"source", explode(expr(
            """transform(sequence(1, greatest(size(toks) - 4, 1)),
                 i -> md5_long(concat_ws(' ', slice(toks, i, 5)))
                      & 9223372036854775807)""")).as("h"))
        val sketches = grams.groupBy($"source").agg(sk($"h").as("s"))
        val a = sketches.select($"source".as("src_a"), $"s".as("sa"))
        val b = sketches.select($"source".as("src_b"), $"s".as("sb"))
        // Staged projects: the union sketch, the jaccard, and the union
        // estimate are each evaluated ONCE and referenced by column — the
        // inlined spelling re-ran the array_sort(array_distinct(concat))
        // chain for every output column that mentioned it (CollapseProject
        // keeps the stages because the aliases are non-cheap and
        // multiply-referenced). Values are bit-identical.
        a.join(b, $"src_a" < $"src_b")
          .select($"src_a", $"src_b", $"sa", $"sb",
            unionSketch($"sa", $"sb").as("u"))
          .select($"src_a", $"src_b",
            estDistinct($"sa").as("est_a"),
            estDistinct($"sb").as("est_b"),
            estDistinct($"u").as("est_union"),
            (interCount($"u", $"sa", $"sb").cast("double") /
              size($"u").cast("double")).as("jaccard_est"))
          .select($"src_a", $"src_b", $"est_a", $"est_b", $"est_union",
            $"jaccard_est",
            ($"jaccard_est" * $"est_union").as("est_overlap"))
      },
      oracle = Some(s"""
        WITH sh AS (
          SELECT source,
                 unnest([md5_number_upper(array_to_string(toks[i:i+4], ' '))
                           & 9223372036854775807
                         for i in generate_series(1, greatest(len(toks) - 4, 1))])
                   AS h
          FROM (SELECT source, string_split_regex(lower(text), '\\s+') AS toks
                FROM documents)),
        d AS (SELECT DISTINCT source, h FROM sh),
        r AS (SELECT source, h,
                     ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
              FROM d),
        kv AS (SELECT source, h FROM r WHERE rn <= $k),
        st AS (SELECT source, COUNT(*) AS n, MAX(h) AS hk
               FROM kv GROUP BY source),
        pairs AS (SELECT a.source AS src_a, b.source AS src_b
                  FROM st a JOIN st b ON a.source < b.source),
        u0 AS (SELECT p.src_a, p.src_b, kv.h
               FROM pairs p JOIN kv ON kv.source IN (p.src_a, p.src_b)
               GROUP BY 1, 2, 3),
        ur AS (SELECT src_a, src_b, h,
                      ROW_NUMBER() OVER (PARTITION BY src_a, src_b
                                         ORDER BY h) AS rn
               FROM u0),
        uk AS (SELECT src_a, src_b, h FROM ur WHERE rn <= $k),
        us AS (SELECT src_a, src_b, COUNT(*) AS nu, MAX(h) AS mu
               FROM uk GROUP BY 1, 2),
        inter AS (
          SELECT uk.src_a, uk.src_b, COUNT(*) AS ni
          FROM uk
          JOIN kv ka ON ka.source = uk.src_a AND ka.h = uk.h
          JOIN kv kb ON kb.source = uk.src_b AND kb.h = uk.h
          GROUP BY 1, 2)
        SELECT us.src_a, us.src_b,
          CASE WHEN sa.n < $k THEN CAST(sa.n AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(sa.hk AS DOUBLE) END AS est_a,
          CASE WHEN sb.n < $k THEN CAST(sb.n AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(sb.hk AS DOUBLE) END AS est_b,
          CASE WHEN us.nu < $k THEN CAST(us.nu AS DOUBLE)
               ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                    / CAST(us.mu AS DOUBLE) END AS est_union,
          CAST(COALESCE(inter.ni, 0) AS DOUBLE) / CAST(us.nu AS DOUBLE)
            AS jaccard_est,
          (CAST(COALESCE(inter.ni, 0) AS DOUBLE) / CAST(us.nu AS DOUBLE)) *
            (CASE WHEN us.nu < $k THEN CAST(us.nu AS DOUBLE)
                  ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                       / CAST(us.mu AS DOUBLE) END) AS est_overlap
        FROM us
        JOIN st sa ON sa.source = us.src_a
        JOIN st sb ON sb.source = us.src_b
        LEFT JOIN inter ON inter.src_a = us.src_a AND inter.src_b = us.src_b"""),
      doc = "Full |sources|² overlap matrix estimated from one sketch per source."),

    // ------------------------------------------------------------------
    // The streamed maintainer end-to-end: three waves of events land and
    // drain ([[graft.streaming.KmvStream]] — per-batch bottom-k deltas,
    // checkpointed AvailableNow), the accumulated sketch folds from the
    // deltas alone, and the estimates hash-match the SAME oracle as the
    // batch spelling — streamed == batch, differentially proven.
    "rel_kmv_stream" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import graft.streaming.KmvStream
        val landing = graft.api.Scratch.dir("kmv_landing")
        val state = graft.api.Scratch.dir("kmv_state")
        val cp = graft.api.Scratch.dir("kmv_cp")
        val ev = Tables.load(s, dir, "events")
        val obs = ev.select($"event_type".as("g"),
          expr(hashExpr("user_id")).as("h"), $"event_id")
        (0 to 2).foreach { wave =>
          obs.filter(pmod($"event_id", lit(3)) === wave).select("g", "h")
            .coalesce(2).write.mode("append").parquet(landing)
          KmvStream.runAvailableNow(s, landing, state, cp,
            maxFilesPerTrigger = 2)
        }
        val exact = ev.groupBy($"event_type")
          .agg(countDistinct($"user_id").as("exact_distinct"))
        KmvStream.sketches(s, state)
          .select($"g".as("event_type"),
            size($"s").cast("long").as("sketch_size"),
            estDistinct($"s").as("est_distinct"))
          .join(exact, "event_type")
          .select($"event_type", $"sketch_size", $"est_distinct",
            $"exact_distinct",
            (abs($"est_distinct" - $"exact_distinct".cast("double"))
              / $"exact_distinct".cast("double")).as("rel_err"))
      },
      oracle = distinctOracleSql,
      doc = "Streamed KMV maintenance == batch sketch, same oracle."))

  /** Shared verbatim by `rel_kmv_distinct` and `rel_kmv_stream`: streamed
    * maintenance is proven by hash-matching the batch oracle. */
  private val distinctOracleSql: Option[String] = Some(s"""
        WITH h AS (
          SELECT DISTINCT event_type,
                 md5_number_upper(CAST(user_id AS VARCHAR))
                   & 9223372036854775807 AS h
          FROM events),
        r AS (
          SELECT event_type, h,
                 ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h),
        kk AS (
          SELECT event_type, COUNT(*) AS nk, MAX(h) AS hk
          FROM r WHERE rn <= $k GROUP BY event_type),
        est AS (
          SELECT event_type, CAST(nk AS BIGINT) AS sketch_size,
                 CASE WHEN nk < $k THEN CAST(nk AS DOUBLE)
                      ELSE (${k - 1}.0 * CAST(9223372036854775807 AS DOUBLE))
                           / CAST(hk AS DOUBLE) END AS est_distinct
          FROM kk),
        e AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
              FROM events GROUP BY event_type)
        SELECT est.event_type, sketch_size, est_distinct, exact_distinct,
               abs(est_distinct - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE) AS rel_err
        FROM est JOIN e ON est.event_type = e.event_type""")
}
