package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression:
  * `bpe_token_count(ws, a1, b1, …, ak, bk) → bigint` — the total
  * post-merge BPE token count of a word array under k ordered merges,
  * bit-identical to the historical built-in program
  *
  * {{{
  * aggregate(transform(ws, w -> replace×k('|'||join(chars(w),'||')||'|')),
  *           0L, (acc, r) -> acc + size(split(substr(r, 2, len-2), '\|\|')))
  * }}}
  *
  * Why a custom expression (guide §4): everything inside a higher-order
  * lambda evaluates INTERPRETED, and the serialize step alone allocates a
  * per-character array per word (`transform(sequence(1, length(w)), i ->
  * substring(w, i, 1))`). The three BPE-apply queries spent their entire
  * runtime in that program (round-15 bench: llm_bpe_apply 1.75 s,
  * llm_tokenizer_fertility 2.03 s, llm_sft_bpe_tokens 1.69 s at sf0.1).
  *
  * Bit-compatibility with the built-in spelling, step by step:
  *   - `substring(w, i, 1)` walks CHARACTERS (code points) — reproduced
  *     by code-point iteration;
  *   - `replace` is literal, all occurrences, left-to-right
  *     non-overlapping (UTF8String.replace ≡ java.lang.String.replace);
  *   - `size(split(interior, '\|\|'))` with Spark's keep-trailing-empties
  *     split is exactly (non-overlapping left-to-right occurrences of
  *     "||" in the interior) + 1.
  * BpeTokenCountSpec pins the equality against the built-in program on
  * the real corpus.
  *
  * Contract: words must be NON-EMPTY (every caller filters
  * `length(w) >= 1`); the built-in program itself degenerates on "" —
  * `sequence(1, 0)` walks backwards and serializes two phantom chars.
  */
case class BpeTokenCount(child: Expression, merges: Seq[(String, String)])
    extends NativeUnary[ArrayData, java.lang.Long] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_token_count expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "bpe_token_count"

  // Precomputed literal search/replacement pairs, in merge order.
  @transient private lazy val programs: Array[(String, String)] =
    merges.map { case (a, b) => (s"|$a||$b|", s"|$a$b|") }.toArray

  /** One word's post-merge token count — the exact per-word program. */
  private def tokensOf(word: String): Long = {
    val sb = new java.lang.StringBuilder(word.length * 3 + 2)
    sb.append('|')
    var i = 0
    var first = true
    while (i < word.length) {
      val cp = word.codePointAt(i)
      if (!first) sb.append("||")
      sb.appendCodePoint(cp)
      first = false
      i += Character.charCount(cp)
    }
    sb.append('|')
    var s = sb.toString
    var m = 0
    while (m < programs.length) {
      s = s.replace(programs(m)._1, programs(m)._2)
      m += 1
    }
    // interior = substring(s, 2, length(s) - 2): strip the outer pipes
    // (single chars). Token count = "||" occurrences inside + 1.
    var cnt = 1L
    var idx = s.indexOf("||", 1)
    val last = s.length - 2 // last valid start so the match ends before the final '|'
    while (idx >= 0 && idx <= last - 1) {
      cnt += 1
      idx = s.indexOf("||", idx + 2)
    }
    cnt
  }

  // Boxed so a null ELEMENT yields a null total — exactly what the
  // built-in aggregate-over-replace program produced (null propagates).
  def kernel(input: ArrayData): java.lang.Long = {
    var total = 0L
    var i = 0
    while (i < input.numElements()) {
      if (input.isNullAt(i)) return null
      total += tokensOf(input.getUTF8String(i).toString)
      i += 1
    }
    java.lang.Long.valueOf(total)
  }

  override def nullable: Boolean = true

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      java.lang.Long ${ev.value}Boxed = ${NativeKernel.call(ctx, this, c)};
      if (${ev.value}Boxed == null) {
        ${ev.isNull} = true;
      } else {
        ${ev.value} = ${ev.value}Boxed.longValue();
      }""")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}
