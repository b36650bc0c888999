package graft

import org.apache.spark.sql.functions._

/** Pins the native `bpe_token_count` expression (round-15 codegen rewrite
  * of the BPE-apply program) bit-for-bit against the historical built-in
  * spelling — serialize each word to '|c1||c2||…|', apply the ordered
  * merges via replace, count tokens via split — on the real corpus with
  * the real learned merges, plus adversarial words ('|' characters, empty
  * arrays, multi-byte code points).
  */
class BpeTokenCountSpec extends SparkSpec {

  private def builtinProgram(merges: Seq[(String, String)]): String = {
    def lit_(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    val serialized =
      "'|' || array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '||') || '|'"
    val applied = merges.foldLeft(serialized) { case (acc, (a, b)) =>
      s"replace($acc, '|' || ${lit_(a)} || '||' || ${lit_(b)} || '|', " +
        s"'|' || ${lit_(a)} || ${lit_(b)} || '|')"
    }
    s"""aggregate(transform(ws, w -> $applied), CAST(0 AS BIGINT),
        (acc, r) -> acc + CAST(size(split(substring(r, 2, length(r) - 2),
                                          '\\\\|\\\\|')) AS BIGINT))"""
  }

  private def nativeCall(merges: Seq[(String, String)]): String = {
    def lit_(v: String) = "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    s"bpe_token_count(ws${merges.map { case (a, b) => s", ${lit_(a)}, ${lit_(b)}" }.mkString})"
  }

  test("bpe_token_count equals the built-in program on the corpus with learned merges") {
    val merges = graft.llm.TextAnalysis.bpeTrainDf(spark, sfDir)
      .orderBy("round").collect().map(r => (r.getString(1), r.getString(2))).toSeq
    val ws = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr("filter(split(lower(text), '\\\\s+'), w -> length(w) >= 1)").as("ws"))
    val diff = ws
      .withColumn("native", expr(nativeCall(merges)))
      .withColumn("builtin", expr(builtinProgram(merges)))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diff === 0L, "bpe_token_count diverged from the built-in program")
  }

  test("bpe_token_count matches the built-in on adversarial words") {
    val merges = Seq(("a", "b"), ("ab", "c"), ("|", "x"))
    // Words are non-empty per the call-site contract (every caller filters
    // length(w) >= 1; the built-in program itself degenerates on "" —
    // sequence(1, 0) walks backwards).
    val rows = Seq(
      Seq("abc", "aabbc", "ababab"),
      Seq("|x", "||", "a|b", "|"),
      Seq("héllo", "日本語", "aéb"),
      Seq.empty[String])
    val s = spark
    import s.implicits._
    val df = rows.toDF("ws")
    val diff = df
      .withColumn("native", expr(nativeCall(merges)))
      .withColumn("builtin", expr(builtinProgram(merges)))
      .filter(col("native") =!= col("builtin"))
      .count()
    assert(diff === 0L, "bpe_token_count diverged on adversarial input")
  }
}
