package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native product-quantization kernels (guide §4: eliminate interpreted
  * HOF programs in the hot path). Both are bit-identical re-spellings of
  * the built-in fold programs in [[graft.llm.Knn]] — same left-to-right
  * double addition order, same strict-comparison tie rules — pinned by
  * PqOpsSpec against the built-in spellings on the real corpus.
  *
  * `pq_encode(ve, cb) → array<int>`: the 8-nibble PQ code of a 64-dim
  * vector against a c-sorted 16-entry codebook — per subspace s, the
  * strict-min-L2 codeword (first minimum wins ≡ smallest codeword id).
  * The HOF spelling evaluated 16 codewords × 8 subspaces × 8 dims of
  * interpreted expression tree per vector.
  *
  * `pq_adc(dtab, code) → double`: asymmetric distance from a flattened
  * 8×16 per-query distance table — Σ_s dtab[s·16 + code_s], s ascending.
  */
case class PqEncode(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, ArrayData] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(StructType(fields), _))
          if fields.length == 2 && fields(0).dataType == IntegerType &&
            fields(1).dataType.isInstanceOf[ArrayType] &&
            fields(1).dataType.asInstanceOf[ArrayType].elementType == DoubleType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_encode expects (array<double>, array<struct<c:int,vc:array<double>>>), got $other")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  def kernel(veData: ArrayData, cbData: ArrayData): ArrayData = {
    val nCb = cbData.numElements()
    // Decode the codebook once per call: (c, vc) pairs in array order
    // (callers sort_array by c, so iteration order == ascending c).
    val cs = new Array[Int](nCb)
    val vcs = new Array[Array[Double]](nCb)
    var w = 0
    while (w < nCb) {
      val row = cbData.getStruct(w, 2)
      cs(w) = row.getInt(0)
      vcs(w) = row.getArray(1).toDoubleArray()
      w += 1
    }
    val ve = veData.toDoubleArray()
    val out = new Array[Int](8)
    var s = 0
    while (s < 8) {
      var bestC = -1
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < nCb) {
        val vc = vcs(i)
        var d = 0.0
        var j = 0
        while (j < 8) {
          val diff = ve(s * 8 + j) - vc(s * 8 + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) { bestD = d; bestC = cs(i) }
        i += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

/** `pq_recon_err(ve, cb) → double`: Σ_s of the MINIMUM subspace L2 — the
  * PQ reconstruction error of a vector against its own code. Identical
  * arithmetic to encode-then-re-measure (the chosen codeword's distance is
  * the fold's minimum, bit-for-bit), s ascending, left-to-right adds. */
case class PqReconErr(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    PqEncode(left, right).checkInputDataTypes() match {
      case TypeCheckResult.TypeCheckSuccess => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"pq_recon_err expects (array<double>, array<struct<c:int,vc:array<double>>>)")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_recon_err"

  def kernel(veData: ArrayData, cbData: ArrayData): Double = {
    val nCb = cbData.numElements()
    val vcs = new Array[Array[Double]](nCb)
    var w = 0
    while (w < nCb) {
      vcs(w) = cbData.getStruct(w, 2).getArray(1).toDoubleArray()
      w += 1
    }
    val ve = veData.toDoubleArray()
    var acc = 0.0
    var s = 0
    while (s < 8) {
      var bestD = Double.PositiveInfinity
      var i = 0
      while (i < nCb) {
        val vc = vcs(i)
        var d = 0.0
        var j = 0
        while (j < 8) {
          val diff = ve(s * 8 + j) - vc(s * 8 + j)
          d += diff * diff
          j += 1
        }
        if (d < bestD) bestD = d
        i += 1
      }
      acc += bestD
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqReconErr =
    copy(left = newLeft, right = newRight)
}

case class PqAdc(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_adc expects (array<double>, array<int>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  def kernel(dtabData: ArrayData, codeData: ArrayData): Double = {
    var acc = 0.0
    var s = 0
    while (s < 8) {
      acc += dtabData.getDouble(s * 16 + codeData.getInt(s))
      s += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}
