package graft

import org.apache.spark.sql.functions._

/** Pins the native `intersect_count` expression (round-15 count-only
  * rewrite of the dedup verify intersections) against the built-in
  * spelling `size(array_intersect(a, b))` — the equality every
  * candidate-pair verification (jaccard family, containment,
  * decontamination) rests on.
  */
class IntersectCountSpec extends SparkSpec {

  test("intersect_count equals size(array_intersect) on stored feature arrays") {
    val feat = graft.llm.TextFeatures.features(spark, sfDir, "near")
    // Cross a sample of real shingle-set pairs (every doc against a
    // rotated copy) — the exact arrays the verify joins intersect.
    val a = feat.select(col("doc_id"), col("sh").as("sa"))
    val b = feat.select((col("doc_id") + 7).as("doc_id"), col("sh").as("sb"))
    val diff = a.join(b, "doc_id")
      .filter(expr("intersect_count(sa, sb)") =!=
        size(array_intersect(col("sa"), col("sb"))))
      .count()
    assert(diff === 0L, "intersect_count diverged from size(array_intersect)")
    val self = feat
      .filter(expr("intersect_count(sh, sh)") =!= size(col("sh")))
      .count()
    assert(self === 0L, "self-intersection must equal the (distinct) set size")
  }

  test("intersect_count matches array_intersect on duplicates, nulls, empties") {
    val cases = Seq(
      "array(1L, 2L, 3L)" -> "array(2L, 3L, 4L)",
      // duplicates on either side count once, like array_intersect
      "array(1L, 1L, 2L, 2L)" -> "array(1L, 2L, 2L, 9L)",
      "array(5L, 5L, 5L)" -> "array(5L)",
      // nulls: one null in the result iff both sides hold one
      "array(CAST(NULL AS BIGINT), 1L)" -> "array(CAST(NULL AS BIGINT), 2L)",
      "array(CAST(NULL AS BIGINT), 1L)" -> "array(1L, 2L)",
      "array(1L, 2L)" -> "array(CAST(NULL AS BIGINT), 2L)",
      // empties
      "array(1L, 2L)" -> "CAST(array() AS ARRAY<BIGINT>)",
      "CAST(array() AS ARRAY<BIGINT>)" -> "array(1L)",
      // disjoint
      "array(1L, 2L)" -> "array(3L, 4L)",
      // collision-prone values for the open-probe table
      "array(0L, -1L, 9223372036854775807L, -9223372036854775808L)" ->
        "array(-9223372036854775808L, 0L, 42L)")
    cases.foreach { case (x, y) =>
      val row = spark.sql(
        s"SELECT intersect_count($x, $y) AS n, size(array_intersect($x, $y)) AS ref")
        .head()
      assert(row.getInt(0) === row.getInt(1), s"diverged on ($x, $y)")
    }
  }
}
