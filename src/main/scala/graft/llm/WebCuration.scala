package graft.llm

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation operators: the document-rewriting and policy-gate
  * passes a crawl-to-training-set pipeline runs between raw ingest and
  * tokenization (reference analog: the bronze→silver quality gating of
  * `02_silver_layer_transformation.py`; these are its web-scale cousins).
  *
  *   - `llm_line_dedup`      — C4-style cross-document exact LINE dedup:
  *                             a line occurring in ≥3 distinct documents is
  *                             boilerplate (nav bars, footers, cookie
  *                             banners) and is removed from every document,
  *                             which is then reassembled in original line
  *                             order. Unlike `llm_dedup_*` (whole-doc /
  *                             chunk PAIR detection) this REWRITES the
  *                             surviving documents.
  *   - `llm_pii_audit`       — per-source PII exposure report: emails,
  *                             NANP phone numbers, IPv4 addresses and
  *                             16-digit card numbers, cards validated with
  *                             the real Luhn checksum (planted check digits
  *                             are computed, half correct, half off by 3 —
  *                             so validity is measured, not assumed).
  *   - `llm_domain_filter`   — URL normalization (case, query/fragment,
  *                             trailing slash), registrable-domain
  *                             extraction with a public-suffix rule for
  *                             multi-label TLDs (co.uk/com.au), blocklist
  *                             anti-join, per-domain corpus share.
  *   - `llm_gopher_gate`     — the Gopher/MassiveText word-level quality
  *                             rule battery (Rae et al. 2021, §A1.1):
  *                             word-count bounds, mean-word-length bounds,
  *                             symbol-to-word ratio, alphabetic-word
  *                             fraction, stopword presence; per-rule flags
  *                             plus the conjunctive keep decision.
  *
  * Scale posture (100 TB): line dedup is two shuffles keyed on line text
  * (partial-agg'd count-distinct, then a join Spark broadcasts only when
  * the banned set is small); everything else is a single embarrassing
  * scan with per-row HOF work and an O(sources|domains) final aggregate.
  * Numeric discipline: every reported fraction is ONE IEEE division of
  * exact integer aggregates — never a float SUM, whose partial-aggregation
  * order would differ between engines (see [[graft.api.Exact]] for the
  * decimal-accumulation rule a float sum would need).
  */
object WebCuration extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  // ------------------------------------------------------------------
  // llm_line_dedup: plants two high-frequency boilerplate footers (every
  // 3rd / every 4th doc) and one rare footer on exactly two docs — below
  // the ≥3-docs ban threshold, proving the threshold edge both ways.
  private val FooterA = "copyright footer terms apply all rights reserved"
  private val FooterB = "subscribe to our newsletter for more updates"
  private val FooterRare = "rare footer only two documents share this"

  /** The fixture corpus with the planted footer lines (public so the
    * streaming spec can feed the identical corpus). */
  def linedDocs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).withColumn("aug", concat(
      col("text"),
      when(pmod(col("doc_id"), lit(3)) === 0, lit("\n" + FooterA)).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(4)) === 0, lit("\n" + FooterB)).otherwise(lit("")),
      when(col("doc_id").isin(1, 2), lit("\n" + FooterRare)).otherwise(lit(""))))

  /** (doc_id, pos, line) exploded view of a (doc_id, aug) frame. */
  def explodedLines(lined: DataFrame): DataFrame =
    lined.select(col("doc_id"),
      posexplode(split(col("aug"), "\n")).as(Seq("pos", "line")))

  /** Boilerplate = a line seen in >= minDocs DISTINCT documents. Partial
    * aggregation bounds the shuffle at O(distinct lines); the ban list is
    * usually tiny relative to the corpus, so AQE broadcasts the join the
    * consumer runs against it ([[lineDedup]]'s flagged left join). Shared
    * with [[graft.streaming.BoilerplateStream]], whose incremental ban
    * set must equal this batch definition. */
  def bannedLines(lines: DataFrame, minDocs: Int): DataFrame =
    lines.groupBy("line")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") >= minDocs)
      .select("line")

  /** C4-style line dedup over any (doc_id, aug) frame: one row per
    * document with the line count, kept-line count, and the document
    * reassembled from surviving lines in original order. ONE corpus scan:
    * the exploded side left-joins the (small, AQE-broadcast) ban list and
    * a single per-document aggregate computes total, kept, and the
    * reassembly together (collect_list skips the nulled-out banned
    * entries; concat_ws of an empty array is '', covering the
    * all-lines-banned document). */
  def lineDedup(lined: DataFrame, minDocs: Int): DataFrame = {
    val lines = explodedLines(lined)
    val banned = bannedLines(lines, minDocs).withColumn("banned", lit(true))
    lines.join(banned, Seq("line"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_lines"),
        sum(when(col("banned").isNull, 1).otherwise(0)).cast("int").as("n_kept"),
        expr("""concat_ws(chr(10), transform(array_sort(
             collect_list(CASE WHEN banned IS NULL THEN struct(pos, line) END)),
             x -> x.line))""").as("cleaned"))
  }

  // ------------------------------------------------------------------
  // llm_pii_audit: the Luhn checksum, written once as a dialect-neutral
  // CASE over a 1-based position `i` (doubling every second digit from the
  // right; payload length 15 + check digit keeps the same parity, so one
  // fragment serves both the planting and the detection pass).
  private def luhnDigit(s: String): String =
    s"""CASE WHEN i % 2 = 1
          THEN (CASE WHEN CAST(substring($s, i, 1) AS INT) * 2 > 9
                     THEN CAST(substring($s, i, 1) AS INT) * 2 - 9
                     ELSE CAST(substring($s, i, 1) AS INT) * 2 END)
          ELSE CAST(substring($s, i, 1) AS INT) END"""

  private def sparkLuhn(s: String, len: Int): String =
    s"aggregate(sequence(1, $len), 0, (acc, i) -> acc + (${luhnDigit(s)}))"

  private def duckLuhn(s: String, len: Int): String =
    s"CAST(list_sum([${luhnDigit(s)} for i in generate_series(1, $len)]) AS INT)"

  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val CardRe = "\\b\\d{16}\\b"

  /** Per-document PII detail (exposed for the spec's reference-Luhn check):
    * planted email/phone/IPv4/card occurrences, regex counts, and the Luhn
    * verdict on the extracted card. */
  def piiDetail(d: DataFrame): DataFrame =
    d.withColumn("pay", lpad(col("doc_id").cast("string"), 15, "0"))
      .withColumn("s15", expr(sparkLuhn("pay", 15)))
      .withColumn("c0", pmod(lit(10) - pmod(col("s15"), lit(10)), lit(10)))
      .withColumn("chk",
        when(pmod(col("doc_id"), lit(2)) === 0, col("c0"))
          .otherwise(pmod(col("c0") + 3, lit(10))))
      .withColumn("card", concat(col("pay"), col("chk").cast("string")))
      .withColumn("aug", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit(" contact alice@example.com")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit(" call 415-555-0137")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit(" from 10."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".2.3"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" card "), col("card"))).otherwise(lit(""))))
      .withColumn("n_emails", size(regexp_extract_all(col("aug"), lit(EmailRe), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(col("aug"), lit(PhoneRe), lit(0))))
      .withColumn("n_ipv4", size(regexp_extract_all(col("aug"), lit(Ipv4Re), lit(0))))
      .withColumn("n_cards", size(regexp_extract_all(col("aug"), lit(CardRe), lit(0))))
      // Fallback card is Luhn-INVALID (sum 24) so the flag can never leak
      // true through a doc with no card; both dialects evaluate the Luhn
      // fold on a safe fixed-width string (no empty-substring cast).
      .withColumn("cardx",
        when(col("n_cards") > 0, regexp_extract(col("aug"), "(\\d{16})", 1))
          .otherwise(lit("1111111111111111")))
      .withColumn("card_valid",
        when(col("n_cards") > 0 && pmod(expr(sparkLuhn("cardx", 16)), lit(10)) === 0,
          lit(1)).otherwise(lit(0)))

  // ------------------------------------------------------------------
  // llm_domain_filter: 16-slot host table (repeats give the realistic
  // skew), two blocklisted registrable domains, multi-label TLD hosts to
  // exercise the public-suffix rule, uppercase/query/fragment/trailing-
  // slash variants to exercise normalization.
  private val Hosts = Seq(
    "www.corpus.com", "news.corpus.com", "blog.openweb.org", "www.openweb.org",
    "docs.tools.io", "tracker.biz", "ads.tracker.biz", "spamfarm.net",
    "www.spamfarm.net", "news.example.co.uk", "shop.example.co.uk", "mirror.corpus.com",
    "www.corpus.com", "cdn.corpus.com", "forum.openweb.org", "wiki.tools.io")
  private val Blocked = Seq("tracker.biz", "spamfarm.net")
  private val MultiLabelSuffixes = Seq("co.uk", "com.au")

  /** Normalize a raw URL column and extract host + registrable domain. */
  def registrableDomains(d: DataFrame): DataFrame =
    d.withColumn("norm",
      regexp_replace(regexp_replace(lower(col("raw_url")), "[?#].*$", ""), "/$", ""))
      .withColumn("host", regexp_extract(col("norm"), "^https?://([^/]+)", 1))
      .withColumn("labels", split(col("host"), "\\."))
      .withColumn("suffix2",
        concat_ws(".", element_at(col("labels"), -2), element_at(col("labels"), -1)))
      .withColumn("domain",
        when(col("suffix2").isin(MultiLabelSuffixes: _*),
          concat_ws(".", element_at(col("labels"), -3), col("suffix2")))
          .otherwise(col("suffix2")))

  def domainFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withUrl = docs(s, dir)
      .withColumn("host0",
        element_at(array(Hosts.map(lit): _*), (pmod(col("doc_id"), lit(16)) + 1).cast("int")))
      .withColumn("url0", concat(lit("https://"), col("host0"), lit("/p/"),
        col("doc_id").cast("string"),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("?utm=x#frag")).otherwise(lit("/"))))
      .withColumn("raw_url",
        when(pmod(col("doc_id"), lit(9)) === 0, upper(col("url0"))).otherwise(col("url0")))
    val blocklist = Blocked.toDF("domain")
    registrableDomains(withUrl)
      .join(broadcast(blocklist), Seq("domain"), "left_anti")
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct("host").as("n_hosts"),
        sum("n_chars").as("total_chars"))
      .withColumn("doc_share",
        col("n_docs").cast("double") / sum("n_docs").over(Window.partitionBy()))
      .orderBy(col("n_docs").desc, col("domain"))
  }

  // ------------------------------------------------------------------
  // llm_dedup_url: canonical-URL dedup — the FIRST dedup pass a crawl
  // pipeline runs (before any text is hashed): re-crawls and mirror
  // variants of the same page differ only in case / tracking params /
  // trailing slash, so normalization alone collapses them. Consecutive
  // doc pairs share a page URL; the odd member carries the decoration
  // noise. Survivor = most content (n_chars), ties to the smallest id —
  // the content-aware keep rule, spelled as one rank window per URL
  // (group sizes are bounded by variant counts, never corpus size).
  private def pagedUrls(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("page", col("doc_id") - pmod(col("doc_id"), lit(2)))
      .withColumn("host0",
        element_at(array(Hosts.map(lit): _*), (pmod(col("page"), lit(16)) + 1).cast("int")))
      .withColumn("url0", concat(lit("https://"), col("host0"), lit("/p/"),
        col("page").cast("string")))
      .withColumn("raw_url",
        when(pmod(col("doc_id"), lit(2)) === 1,
          upper(concat(col("url0"), lit("/?utm_source=mirror#top"))))
          .otherwise(col("url0")))

  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("norm")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    registrableDomains(pagedUrls(s, dir))
      .withColumn("rk", row_number().over(w))
      .withColumn("n_variants", count(lit(1)).over(Window.partitionBy("norm")))
      .filter(col("rk") === 1)
      .select(col("norm").as("url"), col("n_variants"),
        col("doc_id").as("kept_doc"), col("n_chars").as("kept_chars"))
  }

  // ------------------------------------------------------------------
  // llm_gopher_gate: planted degeneracies — every 13th doc truncated to 5
  // tokens (fails the word-count floor), every 6th doc gets 8 pure-symbol
  // tokens (fails symbol-ratio / alpha-fraction when the doc is short
  // enough for 8 symbols to matter — measured, not assumed).
  private val SymbolToks = Seq("###", "$$$", "%%%", "@@@", "!!!", "^^^", "&&&", "***")
  private val Stopwords = Seq("the", "a", "and", "to", "of", "in", "is", "that")

  def gopherGate(s: SparkSession, dir: String): DataFrame = {
    docs(s, dir)
      .withColumn("toks0", split(lower(col("text")), "\\s+"))
      .withColumn("toks1",
        when(pmod(col("doc_id"), lit(13)) === 0, slice(col("toks0"), 1, 5))
          .otherwise(col("toks0")))
      .withColumn("toks",
        when(pmod(col("doc_id"), lit(6)) === 0,
          concat(col("toks1"), array(SymbolToks.map(lit): _*)))
          .otherwise(col("toks1")))
      // One compiled pass for the five gate statistics (guide §4 — see
      // [[graft.functions.GopherStats]]): the HOF spelling paid a length
      // fold + two interpreted per-token rlike filters + a string
      // array_intersect per document. Values are bit-identical
      // (GopherStatsSpec pins the struct against the HOF spelling).
      .withColumn("_gs", call_function("gopher_stats", col("toks"),
        array(Stopwords.map(lit): _*)))
      .withColumn("n_words", col("_gs.n_words"))
      .withColumn("sum_len", col("_gs.sum_len"))
      .withColumn("n_sym", col("_gs.n_sym"))
      .withColumn("n_alpha", col("_gs.n_alpha"))
      .withColumn("n_stop", col("_gs.n_stop"))
      .withColumn("mean_word_len", col("sum_len").cast("double") / col("n_words"))
      .withColumn("symbol_frac", col("n_sym").cast("double") / col("n_words"))
      .withColumn("alpha_frac", col("n_alpha").cast("double") / col("n_words"))
      .withColumn("f_words", col("n_words").between(10, 5000))
      .withColumn("f_mwl", col("mean_word_len").between(2.0, 10.0))
      .withColumn("f_symbol", col("symbol_frac") <= 0.1)
      .withColumn("f_alpha", col("alpha_frac") >= 0.8)
      .withColumn("f_stop", col("n_stop") >= 2)
      .withColumn("keep",
        col("f_words") && col("f_mwl") && col("f_symbol") && col("f_alpha") && col("f_stop"))
      .select("doc_id", "n_words", "mean_word_len", "symbol_frac", "alpha_frac",
        "n_stop", "f_words", "f_mwl", "f_symbol", "f_alpha", "f_stop", "keep")
  }

  // ------------------------------------------------------------------
  // llm_html_extract: half the corpus is wrapped in a realistic HTML
  // shell (title, style, script, comment, entity-encoded nav div) and the
  // extractor must recover the readable text: drop script/style bodies,
  // drop comments, strip tags, THEN decode entities (the order matters —
  // an entity-encoded '<nav>' must survive as text, not be re-stripped),
  // collapse whitespace. RE2 (DuckDB) has no backreferences, so script
  // and style are two separate non-greedy replaces — the fragment is
  // dialect-neutral and shared verbatim with the oracle.
  private def htmlWrap(idExpr: String, textExpr: String): String =
    s"""'<html><head><title>Doc ' || CAST($idExpr AS STRING) || '</title>'
       || '<style>p{color:red}</style><script>var x=1;</script></head>'
       || '<body><h1>Doc ' || CAST($idExpr AS STRING) || '</h1><p>'
       || $textExpr || '</p><!-- tracking pixel -->'
       || '<div class="nav">&amp; &lt;nav&gt; links &copy; here</div>'
       || '</body></html>'"""

  /** Dialect-shared extraction chain. `g` is the global-replace suffix:
    * empty for Spark (always global), ", 'g'" for DuckDB (first-match by
    * default). The whitespace collapse is written `' +'` (the constructed
    * text has only plain spaces) because a `\s` class cannot be spelled
    * identically in both dialects: Spark string literals process the
    * backslash escape, DuckDB's do not. Entity decode runs `&amp;` LAST
    * (the standard order): decoding it first would double-decode nested
    * encodings like `&amp;lt;` to `<` instead of the literal `&lt;`. */
  private[graft] def htmlExtractSql(c: String, g: String): String =
    s"""trim(regexp_replace(
          replace(replace(replace(replace(replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(
                  regexp_replace($c, '<script[^>]*>.*?</script>', ' '$g),
                  '<style[^>]*>.*?</style>', ' '$g),
                '<!--.*?-->', ' '$g),
              '<[^>]+>', ' '$g),
            '&lt;', '<'), '&gt;', '>'), '&copy;', '©'), '&nbsp;', ' '),
            '&amp;', '&'),
          ' +', ' '$g))"""

  def htmlExtract(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("aug",
        when(pmod(col("doc_id"), lit(2)) === 0,
          expr(htmlWrap("doc_id", "text"))).otherwise(col("text")))
      .withColumn("is_html", col("aug").startsWith("<html"))
      .withColumn("extracted", expr(htmlExtractSql("aug", "")))
      .select(col("doc_id"), col("is_html"), col("extracted"),
        length(col("extracted")).as("n_chars_extracted"))

  // ------------------------------------------------------------------
  // llm_license_filter: per-(source, license) exposure report. Planted
  // license sentences (MIT / CC-BY / all-rights-reserved) on 3 of every 5
  // docs; classification is first-match-wins, keep = anything not
  // proprietary. The report is what a corpus counsel review reads before
  // a training run.
  private val LicMit = "released under the mit license"
  private val LicCc = "licensed under creative commons attribution 4.0"
  private val LicProp = "all rights reserved unauthorized reproduction prohibited"

  def licenseFilter(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("aug", concat(col("text"),
        when(pmod(col("doc_id"), lit(5)) === 1, lit(" " + LicMit))
          .otherwise(when(pmod(col("doc_id"), lit(5)) === 2, lit(" " + LicCc))
            .otherwise(when(pmod(col("doc_id"), lit(5)) === 3, lit(" " + LicProp))
              .otherwise(lit(""))))))
      .withColumn("license",
        when(col("aug").contains("mit license"), "mit")
          .otherwise(when(col("aug").contains("creative commons"), "cc-by")
            .otherwise(when(col("aug").contains("all rights reserved"), "proprietary")
              .otherwise("unknown"))))
      .withColumn("keep", col("license") =!= "proprietary")
      .groupBy("source", "license")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1).otherwise(0)).as("n_kept"))
      .orderBy("source", "license")

  // ------------------------------------------------------------------
  // llm_web_e2e: the operators composed in pipeline order — the query a
  // user of this family actually runs. HTML extraction feeds line dedup
  // feeds the Gopher gate feeds license filtering, and the per-source
  // funnel (docs → gate failures → license drops → kept) is checked as
  // ONE differential oracle over the whole chain, so a regression in any
  // stage's interaction with the next (e.g. extraction's whitespace
  // collapse vs line splitting, line removal vs word-count floors)
  // breaks the hash even if each stage's own oracle stays green.
  def webE2e(s: SparkSession, dir: String): DataFrame = {
    // (A round-15 Fanout widen on this scan measured WORSE — 1.84 →
    // 2.70 s: the round-robin exchange pre-sorts full-text rows
    // (SPARK-23207) and both consumer legs pay it — and was reverted.)
    val base = docs(s, dir)
      .withColumn("aug0",
        when(pmod(col("doc_id"), lit(2)) === 0,
          expr(htmlWrap("doc_id", "text"))).otherwise(col("text")))
      .withColumn("ext", expr(htmlExtractSql("aug0", "")))
      .withColumn("aug", concat(
        col("ext"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\n" + FooterA)).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(4)) === 0, lit("\n" + FooterB)).otherwise(lit("")),
        when(col("doc_id").isin(1, 2), lit("\n" + FooterRare)).otherwise(lit(""))))
    val cleaned = lineDedup(base.select(col("doc_id"), col("aug")), minDocs = 3)
      .select(col("doc_id"), col("cleaned"))
    base.select(col("doc_id"), col("source"))
      .join(cleaned, Seq("doc_id"))
      .withColumn("toks", split(lower(col("cleaned")), "\\s+"))
      // Same compiled gate statistics as gopherGate (GopherStatsSpec).
      .withColumn("_gs", call_function("gopher_stats", col("toks"),
        array(Stopwords.map(lit): _*)))
      .withColumn("n_words", col("_gs.n_words"))
      .withColumn("sum_len", col("_gs.sum_len"))
      .withColumn("n_sym", col("_gs.n_sym"))
      .withColumn("n_alpha", col("_gs.n_alpha"))
      .withColumn("n_stop", col("_gs.n_stop"))
      .withColumn("gate",
        col("n_words").between(10, 5000) &&
          (col("sum_len").cast("double") / col("n_words")).between(2.0, 10.0) &&
          col("n_sym").cast("double") / col("n_words") <= 0.1 &&
          col("n_alpha").cast("double") / col("n_words") >= 0.8 &&
          col("n_stop") >= 2)
      .withColumn("aug3", concat(col("cleaned"),
        when(pmod(col("doc_id"), lit(5)) === 1, lit(" " + LicMit))
          .otherwise(when(pmod(col("doc_id"), lit(5)) === 2, lit(" " + LicCc))
            .otherwise(when(pmod(col("doc_id"), lit(5)) === 3, lit(" " + LicProp))
              .otherwise(lit(""))))))
      .withColumn("proprietary", col("aug3").contains("all rights reserved"))
      .withColumn("kept", col("gate") && !col("proprietary"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("gate"), 1).otherwise(0)).as("n_gate_fail"),
        sum(when(col("gate") && col("proprietary"), 1).otherwise(0)).as("n_license_drop"),
        sum(when(col("kept"), 1).otherwise(0)).as("n_kept"),
        sum(when(col("kept"), col("n_words")).otherwise(0)).as("kept_tokens"),
        (sum(when(col("kept"), 1).otherwise(0)).cast("double") / count(lit(1)))
          .as("kept_frac"))
      .orderBy("source")
  }

  val queries: Map[String, QuerySpec] = Map(

    "llm_web_e2e" -> QuerySpec(
      fn = (s, dir) => webE2e(s, dir),
      oracle = Some(s"""
        WITH aug0 AS (
          SELECT doc_id, source,
                 CASE WHEN doc_id % 2 = 0 THEN ${htmlWrap("doc_id", "text")}
                      ELSE text END AS aug0
          FROM documents),
        lined AS (
          SELECT doc_id, source,
                 ${htmlExtractSql("aug0", ", 'g'")}
                 || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$FooterA' ELSE '' END
                 || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '$FooterB' ELSE '' END
                 || CASE WHEN doc_id IN (1, 2) THEN chr(10) || '$FooterRare' ELSE '' END
                   AS aug
          FROM aug0),
        lines AS (
          SELECT doc_id, i AS pos, ls[i] AS line
          FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
                FROM (SELECT doc_id, string_split(aug, chr(10)) AS ls FROM lined))),
        banned AS (
          SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
        cleaned AS (
          SELECT l.doc_id, l.source,
                 COALESCE(k.cleaned, '') AS cleaned
          FROM lined l LEFT JOIN (
            SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS cleaned
            FROM lines WHERE line NOT IN (SELECT line FROM banned)
            GROUP BY doc_id) k USING (doc_id)),
        gated AS (
          SELECT doc_id, source, cleaned,
                 (n_words BETWEEN 10 AND 5000)
                   AND (CAST(sum_len AS DOUBLE) / n_words BETWEEN 2.0 AND 10.0)
                   AND (CAST(n_sym AS DOUBLE) / n_words <= 0.1)
                   AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
                   AND (n_stop >= 2) AS gate,
                 n_words
          FROM (
            SELECT doc_id, source, cleaned,
                   CAST(len(toks) AS INT) AS n_words,
                   CAST(list_sum([length(x) for x in toks]) AS INT) AS sum_len,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '^[^a-z0-9]+$$')))
                     AS INT) AS n_sym,
                   CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                     AS INT) AS n_alpha,
                   CAST(len(list_intersect(list_distinct(toks),
                     [${Stopwords.map(x => s"'$x'").mkString(", ")}])) AS INT) AS n_stop
            FROM (SELECT doc_id, source, cleaned,
                         string_split_regex(lower(cleaned), '\\s+') AS toks
                  FROM cleaned))),
        lic AS (
          SELECT doc_id, source, gate, n_words,
                 contains(cleaned
                   || CASE WHEN doc_id % 5 = 1 THEN ' $LicMit'
                           WHEN doc_id % 5 = 2 THEN ' $LicCc'
                           WHEN doc_id % 5 = 3 THEN ' $LicProp'
                           ELSE '' END, 'all rights reserved') AS proprietary
          FROM gated)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN NOT gate THEN 1 ELSE 0 END) AS BIGINT) AS n_gate_fail,
               CAST(SUM(CASE WHEN gate AND proprietary THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_license_drop,
               CAST(SUM(CASE WHEN gate AND NOT proprietary THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept,
               CAST(SUM(CASE WHEN gate AND NOT proprietary THEN n_words ELSE 0 END)
                 AS BIGINT) AS kept_tokens,
               CAST(SUM(CASE WHEN gate AND NOT proprietary THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*) AS kept_frac
        FROM lic GROUP BY source ORDER BY source"""),
      doc = "end-to-end web curation: extract -> line dedup -> Gopher gate -> license filter"),

    "llm_html_extract" -> QuerySpec(
      fn = (s, dir) => htmlExtract(s, dir),
      oracle = Some(s"""
        WITH aug AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 2 = 0 THEN ${htmlWrap("doc_id", "text")}
                      ELSE text END AS aug
          FROM documents)
        SELECT doc_id,
               aug LIKE '<html%' AS is_html,
               ${htmlExtractSql("aug", ", 'g'")} AS extracted,
               CAST(length(${htmlExtractSql("aug", ", 'g'")}) AS INT) AS n_chars_extracted
        FROM aug"""),
      doc = "HTML-to-text extraction: strip script/style/comments/tags, decode entities"),

    "llm_license_filter" -> QuerySpec(
      fn = (s, dir) => licenseFilter(s, dir),
      oracle = Some(s"""
        WITH aug AS (
          SELECT doc_id, source,
                 text || CASE WHEN doc_id % 5 = 1 THEN ' $LicMit'
                              WHEN doc_id % 5 = 2 THEN ' $LicCc'
                              WHEN doc_id % 5 = 3 THEN ' $LicProp'
                              ELSE '' END AS aug
          FROM documents),
        lic AS (
          SELECT source,
                 CASE WHEN contains(aug, 'mit license') THEN 'mit'
                      WHEN contains(aug, 'creative commons') THEN 'cc-by'
                      WHEN contains(aug, 'all rights reserved') THEN 'proprietary'
                      ELSE 'unknown' END AS license
          FROM aug)
        SELECT source, license, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN license <> 'proprietary' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_kept
        FROM lic GROUP BY source, license ORDER BY source, license"""),
      doc = "license detection and filter report per (source, license)"),

    "llm_line_dedup" -> QuerySpec(
      fn = (s, dir) => lineDedup(linedDocs(s, dir), minDocs = 3),
      oracle = Some(s"""
        WITH aug AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 3 = 0 THEN chr(10) || '$FooterA' ELSE '' END
                 || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '$FooterB' ELSE '' END
                 || CASE WHEN doc_id IN (1, 2) THEN chr(10) || '$FooterRare' ELSE '' END
                   AS aug
          FROM documents),
        lines AS (
          SELECT doc_id, i AS pos, ls[i] AS line
          FROM (SELECT doc_id, ls, unnest(generate_series(1, len(ls))) AS i
                FROM (SELECT doc_id, string_split(aug, chr(10)) AS ls FROM aug))),
        banned AS (
          SELECT line FROM lines GROUP BY line HAVING COUNT(DISTINCT doc_id) >= 3),
        kept AS (
          SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
                 string_agg(line, chr(10) ORDER BY pos) AS cleaned
          FROM lines WHERE line NOT IN (SELECT line FROM banned)
          GROUP BY doc_id)
        SELECT a.doc_id,
               CAST(len(string_split(a.aug, chr(10))) AS INT) AS n_lines,
               COALESCE(k.n_kept, 0) AS n_kept,
               COALESCE(k.cleaned, '') AS cleaned
        FROM aug a LEFT JOIN kept k USING (doc_id)"""),
      doc = "C4-style cross-document exact line dedup (ban lines in >=3 docs)"),

    "llm_pii_audit" -> QuerySpec(
      fn = (s, dir) => piiDetail(docs(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_emails") > 0, 1).otherwise(0)).as("docs_email"),
          sum("n_phones").as("n_phones"),
          sum("n_ipv4").as("n_ipv4"),
          sum("n_cards").as("n_cards"),
          sum("card_valid").as("n_cards_valid"),
          (sum(when(col("n_emails") + col("n_phones") + col("n_ipv4") + col("n_cards") > 0,
            1).otherwise(0)).cast("double") / count(lit(1))).as("pii_doc_frac"))
        .orderBy("source"),
      oracle = Some(s"""
        WITH pay AS (
          SELECT doc_id, source, text,
                 lpad(CAST(doc_id AS VARCHAR), 15, '0') AS pay
          FROM documents),
        chk AS (
          SELECT doc_id, source, text, pay, ${duckLuhn("pay", 15)} AS s15
          FROM pay),
        card AS (
          SELECT doc_id, source, text,
                 pay || CAST(CASE WHEN doc_id % 2 = 0
                                  THEN (10 - s15 % 10) % 10
                                  ELSE ((10 - s15 % 10) % 10 + 3) % 10 END AS VARCHAR)
                   AS card
          FROM chk),
        aug AS (
          SELECT doc_id, source,
                 text
                 || CASE WHEN doc_id % 5 = 0 THEN ' contact alice@example.com' ELSE '' END
                 || CASE WHEN doc_id % 7 = 0 THEN ' call 415-555-0137' ELSE '' END
                 || CASE WHEN doc_id % 4 = 0
                         THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.2.3'
                         ELSE '' END
                 || CASE WHEN doc_id % 3 = 0 THEN ' card ' || card ELSE '' END AS aug
          FROM card),
        det AS (
          SELECT doc_id, source,
                 CAST(len(regexp_extract_all(aug, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}')) AS INT) AS n_emails,
                 CAST(len(regexp_extract_all(aug, '\\b\\d{3}-\\d{3}-\\d{4}\\b')) AS INT) AS n_phones,
                 CAST(len(regexp_extract_all(aug, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INT) AS n_ipv4,
                 CAST(len(regexp_extract_all(aug, '\\b\\d{16}\\b')) AS INT) AS n_cards,
                 aug
          FROM aug),
        safe AS (
          SELECT *, CASE WHEN n_cards > 0 THEN regexp_extract(aug, '(\\d{16})', 1)
                         ELSE '1111111111111111' END AS cardx
          FROM det),
        v AS (
          SELECT *, CASE WHEN n_cards > 0 AND (${duckLuhn("cardx", 16)}) % 10 = 0
                         THEN 1 ELSE 0 END AS card_valid
          FROM safe)
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_email,
               CAST(SUM(n_phones) AS BIGINT) AS n_phones,
               CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4,
               CAST(SUM(n_cards) AS BIGINT) AS n_cards,
               CAST(SUM(card_valid) AS BIGINT) AS n_cards_valid,
               CAST(SUM(CASE WHEN n_emails + n_phones + n_ipv4 + n_cards > 0
                             THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS pii_doc_frac
        FROM v GROUP BY source ORDER BY source"""),
      doc = "per-source PII exposure audit with real Luhn card validation"),

    "llm_domain_filter" -> QuerySpec(
      fn = (s, dir) => domainFilter(s, dir),
      oracle = Some(s"""
        WITH u AS (
          SELECT doc_id, n_chars,
                 CASE WHEN doc_id % 9 = 0 THEN upper(url) ELSE url END AS raw_url
          FROM (SELECT doc_id, n_chars,
                  'https://' || ([${Hosts.map(h => s"'$h'").mkString(", ")}])[CAST(doc_id % 16 AS INT) + 1]
                  || '/p/' || CAST(doc_id AS VARCHAR)
                  || CASE WHEN doc_id % 2 = 0 THEN '?utm=x#frag' ELSE '/' END AS url
                FROM documents)),
        n AS (
          SELECT doc_id, n_chars,
                 regexp_replace(regexp_replace(lower(raw_url), '[?#].*$$', ''), '/$$', '')
                   AS norm
          FROM u),
        h AS (
          SELECT doc_id, n_chars,
                 regexp_extract(norm, '^https?://([^/]+)', 1) AS host,
                 string_split(regexp_extract(norm, '^https?://([^/]+)', 1), '.') AS labels
          FROM n),
        r AS (
          SELECT doc_id, n_chars, host,
                 CASE WHEN labels[-2] || '.' || labels[-1]
                        IN (${MultiLabelSuffixes.map(x => s"'$x'").mkString(", ")})
                      THEN labels[-3] || '.' || labels[-2] || '.' || labels[-1]
                      ELSE labels[-2] || '.' || labels[-1] END AS domain
          FROM h),
        k AS (SELECT * FROM r
              WHERE domain NOT IN (${Blocked.map(x => s"'$x'").mkString(", ")}))
        SELECT domain, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT host) AS BIGINT) AS n_hosts,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER () AS doc_share
        FROM k GROUP BY domain ORDER BY n_docs DESC, domain"""),
      doc = "URL normalization + registrable-domain blocklist filter"),

    "llm_dedup_url" -> QuerySpec(
      fn = (s, dir) => urlDedup(s, dir),
      oracle = Some(s"""
        WITH p AS (
          SELECT doc_id, n_chars, doc_id - doc_id % 2 AS page
          FROM documents),
        u AS (
          SELECT doc_id, n_chars,
                 'https://' || ([${Hosts.map(h => s"'$h'").mkString(", ")}])[CAST(page % 16 AS INT) + 1]
                 || '/p/' || CAST(page AS STRING) AS url0
          FROM p),
        r AS (
          SELECT doc_id, n_chars,
                 CASE WHEN doc_id % 2 = 1
                      THEN upper(url0 || '/?utm_source=mirror#top')
                      ELSE url0 END AS raw_url
          FROM u),
        n AS (
          SELECT doc_id, n_chars,
                 regexp_replace(regexp_replace(lower(raw_url), '[?#].*$$', ''), '/$$', '')
                   AS norm
          FROM r),
        ranked AS (
          SELECT norm, doc_id, n_chars,
                 row_number() OVER (PARTITION BY norm
                                    ORDER BY n_chars DESC, doc_id ASC) AS rk,
                 COUNT(*) OVER (PARTITION BY norm) AS n_variants
          FROM n)
        SELECT norm AS url, CAST(n_variants AS BIGINT) AS n_variants,
               doc_id AS kept_doc, n_chars AS kept_chars
        FROM ranked WHERE rk = 1"""),
      doc = "canonical-URL dedup: normalize, group by URL, keep most-content variant"),

    "llm_gopher_gate" -> QuerySpec(
      fn = (s, dir) => gopherGate(s, dir),
      oracle = Some(s"""
        WITH t0 AS (
          SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks0
          FROM documents),
        t1 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 13 = 0 THEN toks0[1:5] ELSE toks0 END AS toks1
          FROM t0),
        t AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 6 = 0
                      THEN list_concat(toks1,
                        [${SymbolToks.map(x => s"'$x'").mkString(", ")}])
                      ELSE toks1 END AS toks
          FROM t1),
        m AS (
          SELECT doc_id,
                 CAST(len(toks) AS INT) AS n_words,
                 CAST(list_sum([length(x) for x in toks]) AS INT) AS sum_len,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '^[^a-z0-9]+$$')))
                   AS INT) AS n_sym,
                 CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                   AS INT) AS n_alpha,
                 CAST(len(list_intersect(list_distinct(toks),
                   [${Stopwords.map(x => s"'$x'").mkString(", ")}])) AS INT) AS n_stop
          FROM t)
        SELECT doc_id, n_words,
               CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
               CAST(n_sym AS DOUBLE) / n_words AS symbol_frac,
               CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
               n_stop,
               n_words BETWEEN 10 AND 5000 AS f_words,
               CAST(sum_len AS DOUBLE) / n_words BETWEEN 2.0 AND 10.0 AS f_mwl,
               CAST(n_sym AS DOUBLE) / n_words <= 0.1 AS f_symbol,
               CAST(n_alpha AS DOUBLE) / n_words >= 0.8 AS f_alpha,
               n_stop >= 2 AS f_stop,
               (n_words BETWEEN 10 AND 5000)
                 AND (CAST(sum_len AS DOUBLE) / n_words BETWEEN 2.0 AND 10.0)
                 AND (CAST(n_sym AS DOUBLE) / n_words <= 0.1)
                 AND (CAST(n_alpha AS DOUBLE) / n_words >= 0.8)
                 AND (n_stop >= 2) AS keep
        FROM m"""),
      doc = "Gopher/MassiveText word-level quality rule battery"))
}
