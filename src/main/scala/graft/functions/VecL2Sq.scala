package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: `vec_l2sq(array<double>, array<double>) →
  * double` — squared euclidean distance in one codegen loop.
  *
  * Replaces the interpreted spelling
  * `aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0.0, (acc, v) -> acc+v)`
  * in the k-means assignment paths (guide §4): the HOF pair evaluates
  * INTERPRETED and allocates the zipped array per (vector, centroid) —
  * measured ~200–350 ms per single-task Lloyd-round stage on 2 000×8
  * pairs at sf0.1. Accumulation is left-to-right from zero in ascending
  * index order — the identical IEEE sequence of the fold it replaces and
  * of DuckDB's list_reduce — so distances (hence assignments, hence every
  * downstream centroid) stay bit-identical (VecL2SqSpec pins it on the
  * real embeddings). Like [[VecCosine]], the loop runs over the common
  * prefix; every declared caller feeds equal-length (64-dim) vectors.
  */
case class VecL2Sq(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_l2sq expects two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_l2sq"

  def kernel(va: ArrayData, vb: ArrayData): Double = {
    val n = math.min(va.numElements(), vb.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = va.getDouble(i) - vb.getDouble(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}
