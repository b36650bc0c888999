package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expression: `gopher_stats(toks, stops)` →
  * `struct<n_words int, sum_len int, n_sym int, n_alpha int, n_stop int>`
  * — the five Gopher-gate token statistics in one compiled pass over the
  * token array.
  *
  * Replaces (guide §4) four interpreted passes per document in
  * [[graft.llm.WebCuration]]'s quality gates: a `length` fold, two
  * `filter(t rlike …)` lambdas (regex per token, interpreted), and
  * `size(array_intersect(array_distinct(toks), stops))`. Semantics are
  * reproduced exactly:
  *
  *   - `n_words`  = size(toks) — counts null elements like size does;
  *   - `sum_len`  = Σ length(t) (code points); null if any element is
  *     null, matching the fold's null propagation;
  *   - `n_sym`    = #tokens matching `^[^a-z0-9]+$`: non-empty and no
  *     character in [a-z0-9]. Byte-safe: every byte of a UTF-8 multibyte
  *     character is ≥ 0x80, so a byte scan equals the character-class
  *     test. Null elements are dropped, as `filter` drops null lambda
  *     results;
  *   - `n_alpha`  = #tokens matching `[a-z]` (some byte in 0x61–0x7A);
  *   - `n_stop`   = |distinct(toks) ∩ stops| — counted from the stops
  *     side (stops are distinct), identical to the array_intersect count.
  *
  * GopherStatsSpec pins the struct against the historical spelling on
  * the real gate inputs (including the symbol-token augmentation and
  * empty/unicode tokens).
  */
case class GopherStats(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, InternalRow] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"gopher_stats expects two array<string>, got ${l.catalogString}, ${r.catalogString}")
    }

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("sum_len", IntegerType, nullable = true),
    StructField("n_sym", IntegerType, nullable = false),
    StructField("n_alpha", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))
  override def prettyName: String = "gopher_stats"

  def kernel(toks: ArrayData, stops: ArrayData): InternalRow = {
    val n = toks.numElements()
    var sumLen = 0
    var sumLenNull = false
    var nSym = 0
    var nAlpha = 0
    var i = 0
    while (i < n) {
      if (toks.isNullAt(i)) sumLenNull = true
      else {
        val t = toks.getUTF8String(i)
        sumLen += t.numChars()
        val bytes = t.getBytes
        var allSym = bytes.length > 0
        var hasAlpha = false
        var j = 0
        while (j < bytes.length && (allSym || !hasAlpha)) {
          val b = bytes(j)
          val lower = b >= 'a' && b <= 'z'
          if (lower) hasAlpha = true
          if (lower || (b >= '0' && b <= '9')) allSym = false
          j += 1
        }
        if (allSym) nSym += 1
        if (hasAlpha) nAlpha += 1
      }
      i += 1
    }
    var nStop = 0
    val ns = stops.numElements()
    var si = 0
    while (si < ns) {
      val s = stops.getUTF8String(si)
      var found = false
      var ti = 0
      while (!found && ti < n) {
        if (!toks.isNullAt(ti) && toks.getUTF8String(ti).equals(s)) found = true
        ti += 1
      }
      if (found) nStop += 1
      si += 1
    }
    new GenericInternalRow(Array[Any](
      n, if (sumLenNull) null else sumLen, nSym, nAlpha, nStop))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GopherStats =
    copy(left = newLeft, right = newRight)
}
