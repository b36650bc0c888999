package graft

import org.apache.spark.sql.functions._

/** Pins the native `gopher_stats` expression against the HOF spelling it
  * replaced in the Gopher quality gates: `size`, a `length` fold, two
  * `rlike` filters and `size(array_intersect(array_distinct(toks), stops))`.
  * Its generated code is checked in NativeFunctionsSpec. */
class GopherStatsSpec extends SparkSpec {

  private val stops = "array('the', 'a', 'and', 'to', 'of', 'in', 'is', 'that')"

  private val legacy = Seq(
    "n_words" -> "size(toks)",
    "sum_len" -> "aggregate(toks, 0, (acc, t) -> acc + length(t))",
    "n_sym" -> "size(filter(toks, t -> t rlike '^[^a-z0-9]+$'))",
    "n_alpha" -> "size(filter(toks, t -> t rlike '[a-z]'))",
    "n_stop" -> s"size(array_intersect(array_distinct(toks), $stops))")

  /** Rows where any of the five statistics differs from its HOF spelling. */
  private def divergent(toks: org.apache.spark.sql.DataFrame): Long = {
    val gs = toks.withColumn("gs", expr(s"gopher_stats(toks, $stops)"))
    gs.filter(legacy.map { case (f, e) =>
      not(col(s"gs.$f") <=> expr(e))
    }.reduce(_ || _)).count()
  }

  test("gopher_stats equals the HOF spelling on the gate inputs") {
    // The llm_gopher_gate token arrays: lowercased whitespace split, every
    // 13th doc truncated, every 6th augmented with pure-symbol tokens.
    val symbols = array(Seq("###", "$$$", "%%%", "@@@", "!!!", "^^^", "&&&", "***").map(lit): _*)
    val toks = graft.sources.Tables.load(spark, sfDir, "documents")
      .withColumn("toks0", split(lower(col("text")), "\\s+"))
      .withColumn("toks1", when(pmod(col("doc_id"), lit(13)) === 0,
        slice(col("toks0"), 1, 5)).otherwise(col("toks0")))
      .withColumn("toks", when(pmod(col("doc_id"), lit(6)) === 0,
        concat(col("toks1"), symbols)).otherwise(col("toks1")))
      .select("toks")
    assert(toks.count() > 0)
    assert(divergent(toks) === 0L, "gopher_stats diverged from the HOF spelling")
  }

  test("gopher_stats matches on empty, unicode, symbol and null tokens") {
    val toks = spark.sql(s"""
      SELECT explode(array(
        array('the', 'cat', 'and', 'the', 'hat'),
        array(''),
        CAST(array() AS ARRAY<STRING>),
        array('', '###', 'a1', '9', '—', 'über', 'ÆØÅ', '日本語', 'x'),
        array('é#', '#é', 'Zz', 'ZZ', '...', 'of', 'OF'),
        array('to', CAST(NULL AS STRING), 'is'),
        array(CAST(NULL AS STRING)))) AS toks""")
    assert(divergent(toks) === 0L, "gopher_stats diverged from the HOF spelling")
    val nullToks = spark.sql(s"SELECT gopher_stats(CAST(NULL AS ARRAY<STRING>), $stops) AS gs")
    assert(nullToks.head().isNullAt(0))
  }
}
