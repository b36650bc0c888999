package graft

import org.apache.spark.sql.functions._

/** Pins the native PQ kernels (round-15 codegen rewrites) bit-for-bit
  * against the historical built-in fold programs on the real embeddings:
  * `pq_encode` vs the strict-min argmin HOF, `pq_adc` vs the
  * lookup-and-add aggregate, and `pq_recon_err` vs
  * encode-then-re-measure.
  */
class PqOpsSpec extends SparkSpec {

  private def subdist(v1: String, v2: String, sExpr: String): String =
    s"""aggregate(sequence(1, 8), CAST(0.0 AS DOUBLE),
        (a, j) -> a + (element_at($v1, ($sExpr) * 8 + j) - element_at($v2, ($sExpr) * 8 + j))
                    * (element_at($v1, ($sExpr) * 8 + j) - element_at($v2, ($sExpr) * 8 + j)))"""

  private val builtinEncode = s"""
    transform(sequence(0, 7), s ->
      aggregate(
        transform(cb, w -> named_struct('c', w.c, 'd', ${subdist("ve", "w.vc", "s")})),
        named_struct('c', -1, 'd', CAST('Infinity' AS DOUBLE)),
        (acc, p) -> CASE WHEN p.d < acc.d THEN p ELSE acc END).c)"""

  private val builtinErr = s"""
    aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE),
      (acc, s) -> acc + ${subdist("ve", "element_at(cb, element_at(bcode, s + 1) + 1).vc", "s")})"""

  private def corpus = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .withColumn("ve", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("ve"))
    val n = base.count()
    val mod = math.max(1L, n / 16)
    val w = org.apache.spark.sql.expressions.Window.orderBy("vec_id")
    val cb = base.filter(col("vec_id") % mod === 0)
      .withColumn("c", row_number().over(w) - 1)
      .filter(col("c") < 16)
      .select(col("c"), col("ve").as("vc"))
    val cbArr = cb.agg(sort_array(collect_list(struct(col("c"), col("vc")))).as("cb"))
    base.crossJoin(broadcast(cbArr))
  }

  test("pq_encode / pq_recon_err / pq_adc equal the built-in fold programs") {
    val coded = corpus
      .withColumn("ncode", expr("pq_encode(ve, cb)"))
      .withColumn("bcode", expr(builtinEncode))
      .withColumn("nerr", expr("pq_recon_err(ve, cb)"))
      .withColumn("berr", expr(builtinErr))
      // ADC compared on each vector's own code against a synthetic dtab
      // (first vector's subspace distances — shape is all that matters).
      .withColumn("dtab", expr(s"""
        flatten(transform(sequence(0, 7), s -> transform(cb, w -> ${subdist("ve", "w.vc", "s")})))"""))
      .withColumn("nadc", expr("pq_adc(dtab, ncode)"))
      .withColumn("badc", expr("""
        aggregate(sequence(0, 7), CAST(0.0 AS DOUBLE),
          (acc, s) -> acc + element_at(dtab, s * 16 + element_at(bcode, s + 1) + 1))"""))
    val bad = coded.filter(
      col("ncode") =!= col("bcode") ||
        col("nerr") =!= col("berr") ||
        col("nadc") =!= col("badc")).count()
    assert(bad === 0L, "native PQ kernels diverged from the built-in programs")
  }
}
