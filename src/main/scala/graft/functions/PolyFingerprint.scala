package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `poly_fingerprint(string) → array<bigint>`
  * of `[full_hash, min_window_hash]` — the rolling-hash document
  * fingerprint pair.
  *
  * Semantics are identical to the oracle SQL definition (and the previous
  * higher-order-function implementation): a `h = (h*31 + code) mod 1e9+7`
  * fold over the text's characters for `full_hash`, and the minimum of the
  * same fold over every 8-character window for `min_window_hash` (the
  * winnowing primitive). Codepoints are consumed the way `split(text, '')`
  * + `ascii()` consumed them: one value per Java char position (the
  * fixtures are ASCII; both paths agree there).
  *
  * One codegen loop per row replaces an interpreted fold per character plus
  * an interpreted fold per window — O(len × 8) work that previously ran on
  * the expression interpreter.
  */
case class PolyFingerprint(child: Expression)
    extends NativeUnary[UTF8String, ArrayData] {
  import PolyFingerprint.{Mod, WindowLen}

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"poly_fingerprint expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "poly_fingerprint"

  /** [full_hash, min_window_hash]. */
  def kernel(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    var full = 0L
    var i = 0
    while (i < n) { full = (full * 31 + s.charAt(i)) % Mod; i += 1 }
    // min over windows [i, i+8) for i in 0 until max(n-7, 1)
    var minWin = Long.MaxValue
    val windows = math.max(n - WindowLen + 1, 1)
    var w = 0
    while (w < windows) {
      var h = 0L
      var j = w
      val end = math.min(w + WindowLen, n)
      while (j < end) { h = (h * 31 + s.charAt(j)) % Mod; j += 1 }
      if (h < minWin) minWin = h
      w += 1
    }
    // (n == 0 falls out naturally: one empty window → minWin = 0)
    ArrayData.toArrayData(Array(full, minWin))
  }

  override protected def withNewChildInternal(newChild: Expression): PolyFingerprint =
    copy(child = newChild)
}

object PolyFingerprint {
  private final val Mod = 1000000007L
  private final val WindowLen = 8
}
