package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `hyperplane_codes_md5(array<double>) →
  * array<int>` — sign-random-projection LSH codes (4 tables × 16 bits) with
  * RADEMACHER (±1) hyperplane entries derived from the cross-engine MD5
  * hash ([[Md5Hash]]):
  *
  *   - ±1 entries make each dot product a signed SUM of vector elements in
  *     fixed order — multiplication by ±1.0 is IEEE-exact — so a DuckDB
  *     oracle can rebuild the exact same bits with an ordered
  *     `list_reduce` and `md5_number_upper`. Rademacher projections carry
  *     the same Johnson–Lindenstrauss guarantees as Gaussian ones
  *     (Achlioptas 2001), so nothing is lost statistically.
  *   - entries for the common (≤128-dim) case are precomputed ONCE per JVM
  *     into a flat table at class load — the per-row hot loop is pure
  *     multiply-accumulate, no hashing at all.
  */
case class HyperplaneCodesMd5(child: Expression)
    extends NativeUnary[ArrayData, ArrayData] {
  import HyperplaneCodesMd5.{Tables, Bits, weight}

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_codes_md5 expects array<double>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "hyperplane_codes_md5"

  def kernel(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val codes = new Array[Int](Tables)
    var t = 0
    while (t < Tables) {
      var code = 0
      var j = 0
      while (j < Bits) {
        var dot = 0.0
        var i = 0
        while (i < n) {
          dot += v.getDouble(i) * weight(t, j, i)
          i += 1
        }
        code = (code << 1) | (if (dot >= 0.0) 1 else 0)
        j += 1
      }
      codes(t) = code
      t += 1
    }
    ArrayData.toArrayData(codes)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneCodesMd5 =
    copy(child = newChild)
}

object HyperplaneCodesMd5 {
  val Tables = 4
  val Bits = 16

  /** Dimensions covered by the precomputed table; higher dims hash lazily. */
  val MaxCachedDim = 128

  /** ±1 from the low bit of md5_long("hp:t:j:i") — the exact expression the
    * DuckDB oracle writes as
    * `md5_number_upper('hp:'||t||':'||j||':'||i) & 1`. */
  def rademacher(t: Int, j: Int, i: Int): Double =
    if ((Md5Hash.hash(UTF8String.fromString(s"hp:$t:$j:$i")) & 1L) == 1L) 1.0
    else -1.0

  private val cache: Array[Double] = {
    val a = new Array[Double](Tables * Bits * MaxCachedDim)
    var t = 0
    while (t < Tables) {
      var j = 0
      while (j < Bits) {
        var i = 0
        while (i < MaxCachedDim) {
          a((t * Bits + j) * MaxCachedDim + i) = rademacher(t, j, i)
          i += 1
        }
        j += 1
      }
      t += 1
    }
    a
  }

  def weight(t: Int, j: Int, i: Int): Double =
    if (i < MaxCachedDim) cache((t * Bits + j) * MaxCachedDim + i)
    else rademacher(t, j, i)
}
