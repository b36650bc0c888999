package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Cross-engine 64-bit string hash: the first 8 bytes of the MD5 digest
  * interpreted little-endian — exactly DuckDB's `md5_number_upper` (DuckDB
  * 1.0, verified byte-for-byte), reinterpreted as a signed long. Bit
  * patterns are identical on both engines, so any bit-level construction
  * over it (sampling buckets, SimHash tallies) is differential-testable
  * against a DuckDB oracle, which Spark's `xxhash64` is not (DuckDB has no
  * xxhash).
  *
  * xxhash64 remains the faster choice when no oracle is needed; these MD5
  * variants exist where cross-engine bit equality is the point.
  */
object Md5Hash {
  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 8 MD5 digest bytes, little-endian (== DuckDB md5_number_upper). */
  def hash(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val bytes = d.digest(s.getBytes)
    var h = 0L
    var i = 7
    while (i >= 0) { h = (h << 8) | (bytes(i) & 0xffL); i -= 1 }
    h
  }
}

/** `md5_long(string) → bigint` — see [[Md5Hash.hash]]. */
case class Md5Long(child: Expression) extends NativeUnary[UTF8String, Long] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"md5_long expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_long"

  def kernel(in: UTF8String): Long = Md5Hash.hash(in)

  override protected def withNewChildInternal(newChild: Expression): Md5Long =
    copy(child = newChild)
}

/** `simhash_md5(array<string>) → bigint` — 64-bit SimHash with MD5 token
  * hashes: each non-null token votes +1/−1 per bit of its [[Md5Hash.hash]];
  * a bit is set when its tally is ≥ 0. */
case class SimHashMd5(child: Expression) extends NativeUnary[ArrayData, Long] {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_md5 expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_md5"

  def kernel(tokens: ArrayData): Long = {
    val tally = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = Md5Hash.hash(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (tally(b) >= 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashMd5 =
    copy(child = newChild)
}
