package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `cdc_chunks(string) →
  * array<struct<idx:int, start:int, len:int, hash:bigint>>` — content-
  * defined chunking in one pass per document.
  *
  * Semantics are EXACTLY the declarative definition the DuckDB oracle runs
  * (and the previous higher-order-function plan): a chunk boundary opens at
  * every 1-based position `i ≤ max(len−7, 1)` where the polynomial hash
  * `h = (h·31 + code) mod 1e9+7` of the 8-character window starting at `i`
  * is ≡ 0 (mod 64); position 1 always opens a chunk; each chunk also
  * carries the same polynomial hash over its full span. Codepoints are
  * consumed like `split(text, '') + ascii()` (one value per Java char; the
  * fixtures are ASCII, where both agree).
  *
  * One codegen loop per row replaces an interpreted `filter(sequence(...))`
  * whose predicate re-ran an interpreted fold over a fresh `substring` per
  * candidate position — the difference between O(len·8) JIT-compiled char
  * reads and O(len·8) interpreter dispatches with per-window allocations.
  */
case class CdcChunks(child: Expression)
    extends NativeUnary[UTF8String, ArrayData] {
  import CdcChunks._

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cdc_chunks expects string, got ${other.catalogString}")
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", IntegerType, nullable = false),
      StructField("start", IntegerType, nullable = false),
      StructField("len", IntegerType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)

  override def prettyName: String = "cdc_chunks"

  def kernel(in: UTF8String): ArrayData = {
    val s = in.toString
    val n = s.length
    val windows = math.max(n - WindowLen + 1, 1)
    val starts = new java.util.ArrayList[Integer]()
    var i = 0
    while (i < windows) {
      if (windowHash(s, i, math.min(i + WindowLen, n)) % BoundaryMod == 0)
        starts.add(i + 1) // 1-based
      i += 1
    }
    if (starts.isEmpty || starts.get(0) != 1) starts.add(0, 1)
    val m = starts.size
    val rows = new Array[Any](m)
    var k = 0
    while (k < m) {
      val s0: Int = starts.get(k)
      val len = (if (k + 1 < m) starts.get(k + 1): Int else n + 1) - s0
      rows(k) = InternalRow(k, s0, len, windowHash(s, s0 - 1, s0 - 1 + len))
      k += 1
    }
    new GenericArrayData(rows)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

object CdcChunks {
  private final val Mod = 1000000007L
  private final val WindowLen = 8
  private final val BoundaryMod = 64

  private def windowHash(s: String, from: Int, until: Int): Long = {
    var h = 0L
    var j = from
    while (j < until) { h = (h * 31 + s.charAt(j)) % Mod; j += 1 }
    h
  }
}
