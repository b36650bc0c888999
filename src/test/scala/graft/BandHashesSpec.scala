package graft

import org.apache.spark.sql.functions._

/** Pins the native `band_hashes` expression (round-15 codegen rewrite of
  * the banded-LSH identity derivation) bit-for-bit against the historical
  * built-in spelling `transform(sequence(0, b-1), bb -> xxhash64(<r
  * element_at slices>))` — the equality every LSH candidate set (and the
  * CurateStream persisted band index) rests on.
  */
class BandHashesSpec extends SparkSpec {

  private def legacy(r: Int, b: Int): String = {
    val slices = (1 to r).map(i => s"element_at(sig, bb * $r + $i)").mkString(", ")
    s"transform(sequence(0, ${b - 1}), bb -> xxhash64($slices))"
  }

  test("band_hashes equals the built-in xxhash64 fold for every stored signature") {
    val sigs = graft.llm.TextFeatures
      .features(spark, sfDir, "near").select(col("doc_id"), col("sig"))
    for ((r, b) <- Seq((4, 32), (4, 64), (3, 42))) {
      val diff = sigs
        .withColumn("native", expr(s"band_hashes(sig, $r, $b)"))
        .withColumn("builtin", expr(legacy(r, b)))
        .filter(col("native") =!= col("builtin"))
        .count()
      assert(diff === 0L, s"band_hashes(r=$r, b=$b) diverged from the built-in spelling")
    }
  }

  test("band_hashes on a synthetic signature matches hand-folded xxhash64") {
    val row = spark.sql(
      """SELECT band_hashes(array(1L, 2L, 3L, 4L, 5L, 6L), 3, 2) AS bh,
                array(xxhash64(1L, 2L, 3L), xxhash64(4L, 5L, 6L)) AS ref""")
      .head()
    assert(row.getSeq[Long](0) === row.getSeq[Long](1))
  }
}
