package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: `band_hashes(sig, r, b) → array<bigint>` —
  * the banded-LSH band identities of a MinHash signature: element `bb` is
  * the multi-argument `xxhash64` of signature slice
  * `sig[bb·r] .. sig[bb·r + r − 1]`.
  *
  * Why a custom expression (guide: eliminate non-codegen expressions in
  * the hot path): the same computation spelled
  * `transform(sequence(0, b-1), bb -> xxhash64(element_at(sig, bb*r+1), …))`
  * is a higher-order lambda, which Spark evaluates INTERPRETED — a round-15
  * per-stage profile measured the band Generate stages at ~0.5 s of task time
  * per 300 documents, dominating every LSH candidate build (`graft.Bench
  * <query>`'s record re-measures the task time). This is one
  * tight codegen loop per row over the already-stored signature.
  *
  * Bit-compatibility: Spark's multi-arg `xxhash64` folds left with seed 42
  * (`hash = XXH64.hashLong(arg, hash)` per argument) — reproduced here
  * exactly, so band identities equal the historical spelling bit-for-bit
  * (BandHashesSpec pins it against the built-in pipeline).
  */
case class BandHashes(child: Expression, r: Int, b: Int)
    extends NativeUnary[ArrayData, ArrayData] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_hashes expects array<bigint>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  def kernel(arr: ArrayData): ArrayData = {
    val out = new Array[Long](b)
    var bb = 0
    while (bb < b) {
      var h = 42L
      var j = 0
      while (j < r) {
        h = XXH64.hashLong(arr.getLong(bb * r + j), h)
        j += 1
      }
      out(bb) = h
      bb += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BandHashes =
    copy(child = newChild)
}
