package graft

import org.apache.spark.sql.functions._

/** Pins the native `vec_l2sq` expression (round-15 codegen rewrite of the
  * k-means assignment distance) bit-for-bit against the interpreted HOF
  * spelling it replaces — the fold whose IEEE order the kmeans oracles
  * unroll. */
class VecL2SqSpec extends SparkSpec {

  private val hof = """
    aggregate(zip_with(ve, cv, (a, b) -> (a - b) * (a - b)),
      CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"""

  test("vec_l2sq equals the aggregate/zip_with fold on the real embeddings") {
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
      .withColumn("ve", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .select(col("vec_id"), col("ve"))
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("ve").as("cv"))
    val diff = e.crossJoin(broadcast(cents))
      .filter(expr("vec_l2sq(ve, cv)") =!= expr(hof))
      .count()
    assert(diff === 0L, "vec_l2sq diverged from the HOF fold")
  }

  test("vec_l2sq edge cases: empty, zero, identical, sign") {
    val rows = spark.sql("""
      SELECT vec_l2sq(CAST(array() AS ARRAY<DOUBLE>),
                      CAST(array() AS ARRAY<DOUBLE>)) AS empty,
             vec_l2sq(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS same,
             vec_l2sq(array(0.0D, 0.0D), array(3.0D, -4.0D)) AS z,
             vec_l2sq(array(-1.5D), array(2.5D)) AS sgn""").head()
    assert(rows.getDouble(0) === 0.0)
    assert(rows.getDouble(1) === 0.0)
    assert(rows.getDouble(2) === 25.0)
    assert(rows.getDouble(3) === 16.0)
  }
}
