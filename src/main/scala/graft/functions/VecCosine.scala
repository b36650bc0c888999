package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression: `vec_cosine(array<double>, array<double>) →
  * double` — cosine similarity in one codegen loop.
  *
  * Replaces the three interpreted `aggregate`/`zip_with` folds per row in
  * the ANN/near-dup scoring paths. Accumulation is left-to-right from zero,
  * exactly like the folds it replaces and DuckDB's list_reduce, so scores
  * stay bit-identical to the oracle.
  *
  * Zero/empty vectors score 0.0 (not NaN): a NaN here silently corrupts
  * every comparison-based consumer — IVF cell assignment (NaN loses all
  * strict comparisons → phantom cell), top-k ranking (engines order NaN
  * differently), threshold filters. The oracles mirror the same guard.
  */
case class VecCosine(left: Expression, right: Expression)
    extends NativeBinary[ArrayData, ArrayData, Double] {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"vec_cosine expects two array<double>, got ${l.catalogString}, ${r.catalogString}")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  def kernel(va: ArrayData, vb: ArrayData): Double = {
    val n = math.min(va.numElements(), vb.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = va.getDouble(i); val y = vb.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0
    else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)
}
