package graft

import graft.functions.{GopherOps, GopherStats}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Pins the native `gopher_stats` expression against the HOF spelling it
  * replaced in the Gopher quality gates: `size`, a `length` fold, two
  * `rlike` filters and `size(array_intersect(array_distinct(toks), stops))`.
  * Also checks that its generated code compiles: when it does not, Spark
  * silently falls back to the interpreted path. */
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
    graft.functions.GraftFunctions.register(spark)
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

  test("gopher_stats compiles in generated code") {
    val arr = ArrayType(StringType, containsNull = true)
    val expr = GopherStats(BoundReference(0, arr, nullable = true),
      BoundReference(1, arr, nullable = true))
    // Throws if janino cannot compile the generated call.
    val proj = GenerateUnsafeProjection.generate(Seq(expr))
    def strs(xs: String*) = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    val in = InternalRow(strs("the", "###", "cat", "the"), strs("the", "a"))
    val got = proj(in).getStruct(0, 5)
    val want = GopherOps.stats(in.getArray(0), in.getArray(1))
    assert((0 until 5).map(got.getInt) === (0 until 5).map(want.getInt))
    assert((0 until 5).map(got.getInt) === Seq(4, 12, 1, 3, 1))
  }
}
