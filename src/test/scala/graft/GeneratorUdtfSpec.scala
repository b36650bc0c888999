package graft

import org.apache.spark.sql.execution.GenerateExec

/** The UDTF surface ([[graft.functions.TokenWindows]], SURVEY §2.9):
  * windowing semantics on known inputs, LATERAL VIEW (OUTER) row semantics,
  * and the physical shape — a custom Generator plans as GenerateExec, the
  * same streaming operator the built-in explode uses.
  */
class GeneratorUdtfSpec extends SparkSpec {
  private val s0 = spark
  import s0.implicits._

  private def windows(text: String, size: Int, stride: Int): Seq[(Int, Int, Int, String)] = {
    Seq(text).toDF("text").createOrReplaceTempView("one_doc")
    spark.sql(
      s"""SELECT w.win_id, w.tok_start, w.tok_count, w.win_text
          FROM one_doc
          LATERAL VIEW token_windows(text, $size, $stride) w
            AS win_id, tok_start, tok_count, win_text""")
      .as[(Int, Int, Int, String)].collect().toSeq.sortBy(_._1)
  }

  test("sliding windows cover the token stream with the declared overlap") {
    assert(windows("a b c d e f g", 3, 2) === Seq(
      (0, 0, 3, "a b c"),
      (1, 2, 3, "c d e"),
      (2, 4, 3, "e f g"),
      (3, 6, 1, "g")))
  }

  test("tokenization collapses whitespace runs and ignores leading/trailing space") {
    assert(windows("  x \t y \n z  ", 2, 2) === Seq(
      (0, 0, 2, "x y"),
      (1, 2, 1, "z")))
  }

  test("empty and null text generate no rows; LATERAL VIEW OUTER keeps the row") {
    Seq(("d1", "a b"), ("d2", "   "), ("d3", null))
      .toDF("doc_id", "text").createOrReplaceTempView("tw_docs")
    val inner = spark.sql(
      """SELECT doc_id FROM tw_docs
         LATERAL VIEW token_windows(text, 4, 4) w AS i, s, n, t""")
    assert(inner.as[String].collect().toSeq === Seq("d1"))
    val outer = spark.sql(
      """SELECT doc_id, w.t FROM tw_docs
         LATERAL VIEW OUTER token_windows(text, 4, 4) w AS i, s, n, t""")
    val rows = outer.as[(String, Option[String])].collect().sortBy(_._1)
    assert(rows === Seq(("d1", Some("a b")), ("d2", None), ("d3", None)))
  }

  test("plans as GenerateExec (the streaming generator operator)") {
    Seq("a b c").toDF("text").createOrReplaceTempView("one_doc")
    val df = spark.sql(
      """SELECT w.t FROM one_doc
         LATERAL VIEW token_windows(text, 2, 1) w AS i, s, n, t""")
    df.collect()
    val gens = df.queryExecution.executedPlan.collect { case g: GenerateExec => g }
    assert(gens.nonEmpty, "expected GenerateExec in the physical plan")
    assert(gens.head.generator.isInstanceOf[graft.functions.TokenWindows])
  }

  test("non-constant size is rejected at analysis time") {
    Seq((1, "a b")).toDF("n", "text").createOrReplaceTempView("bad_tw")
    val e = intercept[Exception] {
      spark.sql(
        """SELECT w.t FROM bad_tw
           LATERAL VIEW token_windows(text, n, 1) w AS i, s, n2, t""").collect()
    }
    assert(e.getMessage.toLowerCase.contains("foldable") ||
      e.getMessage.toLowerCase.contains("constant"))
  }
}
