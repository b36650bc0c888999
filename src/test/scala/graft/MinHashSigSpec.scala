package graft

import org.apache.spark.sql.functions._

/** The custom Catalyst expression must behave identically in its codegen
  * and interpreted paths, and degrade sanely on edge inputs. */
class MinHashSigSpec extends CodegenParity {

  private def sigs(df: org.apache.spark.sql.DataFrame) =
    df.select(col("id"), expr("minhash_sig(sh)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  test("codegen and interpreted evaluation agree") {
    val s = spark
    import s.implicits._
    val in = Seq(Seq("a b c", "b c d", "c d e"), Seq("a b c"), Seq.empty[String]).toDF("sh")
    // parity asserts generated == interpreted on every row.
    val gen = parity(bound(in, expr("minhash_sig(sh)")), rowsOf(in))
      .map(_.getArray(0).toLongArray().toSeq)
    assert(gen.head.length === 128)
    // Empty shingle set → identity signature (all Long.MaxValue), not null.
    assert(gen(2).forall(_ == Long.MaxValue))
    // Signatures of overlapping sets share mins; disjoint positions differ.
    assert(gen(0).zip(gen(1)).count { case (a, b) => a == b } > 0)
  }

  test("signature min-property: superset signature is elementwise <=") {
    val s = spark
    import s.implicits._
    val data = Seq(
      (1L, Seq("x y z", "y z w")),
      (2L, Seq("x y z", "y z w", "z w v"))).toDF("id", "sh")
    val m = sigs(data)
    assert(m(1L).zip(m(2L)).forall { case (sub, sup) => sup <= sub })
  }
}
