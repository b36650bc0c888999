package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression: `minhash_sig(array<string>) → array<bigint>`,
  * the 128-permutation MinHash signature of a shingle set.
  *
  * Why a custom expression (the one place built-ins genuinely fall short):
  * the same computation composed from built-ins either (a) nests
  * higher-order lambdas, which Spark evaluates interpreted — an order of
  * magnitude slower per row — or (b) explodes every (shingle × permutation)
  * pair into 128× rows through a join + re-aggregation shuffle. This
  * expression does one tight loop per row inside whole-stage codegen: hash
  * each shingle once (XXH64, Spark's own hash kernel), then fold the 128
  * seeded re-hashes with a running min. No extra rows, no shuffle, no
  * boxing.
  *
  * The permutation family is `xxh64(xxh64(shingle, 42), p)` — identical to
  * what the built-in `xxhash64(xxhash64(shingle), p)` pipeline produced, so
  * signatures are stable across the implementations.
  */
case class MinHashSig(child: Expression, numPerms: Int = 128)
    extends NativeUnary[ArrayData, ArrayData] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  def kernel(arr: ArrayData): ArrayData = {
    val sig = new Array[Long](numPerms)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h = XXH64.hashUTF8String(arr.getUTF8String(i), 42L)
      var p = 0
      while (p < numPerms) {
        val hp = XXH64.hashLong(h, p.toLong)
        if (hp < sig(p)) sig(p) = hp
        p += 1
      }
      i += 1
    }
    ArrayData.toArrayData(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}
