package graft

import org.apache.spark.sql.functions._

/** Pins the native `rocchio_best` expression (round-15 codegen rewrite of
  * the nearest-centroid assignment) bit-for-bit against the historical
  * HOF spelling — run-length ‖f‖², token-order dot folds, zero-norm
  * guard, and the (cosine desc, clabel asc) tie rule. */
class RocchioBestSpec extends SparkSpec {

  private val legacy = """
    array_sort(
      transform(cs, s -> struct(
        CASE WHEN nf2 = CAST(0.0 AS DOUBLE) OR s.nc2 = CAST(0.0 AS DOUBLE)
             THEN CAST(0.0 AS DOUBLE)
             ELSE aggregate(toksh, CAST(0.0 AS DOUBLE),
                    (acc, h) -> acc + element_at(s.c, CAST(h AS INT) + 1))
                  / (sqrt(nf2) * sqrt(s.nc2)) END AS cosine,
        s.clabel AS clabel)),
      (a, b) -> CASE WHEN a.cosine > b.cosine THEN -1
                     WHEN a.cosine < b.cosine THEN 1
                     WHEN a.clabel < b.clabel THEN -1
                     WHEN a.clabel > b.clabel THEN 1
                     ELSE 0 END)[0]"""

  private val legacyNf2 = """
    aggregate(array_sort(toksh),
      named_struct('p', CAST(-1 AS BIGINT), 'r', CAST(0 AS BIGINT),
                   's', CAST(0.0 AS DOUBLE)),
      (a, h) -> CASE WHEN h = a.p
                     THEN named_struct('p', a.p, 'r', a.r + CAST(1 AS BIGINT),
                                       's', a.s)
                     ELSE named_struct('p', h, 'r', CAST(1 AS BIGINT),
                                       's', a.s + CAST(a.r * a.r AS DOUBLE)) END,
      a -> a.s + CAST(a.r * a.r AS DOUBLE))"""

  test("rocchio_best equals the HOF spelling on the real corpus") {
    val toks = graft.llm.Training.tokens(
      graft.sources.Tables.load(spark, sfDir, "documents"), "lang")
    val cents = graft.llm.Training.centroids(toks)
    val packed = cents
      .withColumn("nc2",
        expr("aggregate(c, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x * x)"))
      .agg(expr("sort_array(collect_list(struct(label AS clabel, c, nc2)))").as("cs"))
    val diff = toks.crossJoin(broadcast(packed))
      .withColumn("nf2", expr(legacyNf2))
      .withColumn("ref", expr(legacy))
      .withColumn("native", expr("rocchio_best(toksh, cs)"))
      .filter(col("native.cosine") =!= col("ref.cosine") ||
        col("native.clabel") =!= col("ref.clabel"))
      .count()
    assert(diff === 0L, "rocchio_best diverged from the HOF spelling")
  }

  test("rocchio_best ties break to the smallest label; zero norms score 0.0") {
    // Two identical centroids under different labels: equal cosines, so
    // the smaller label must win. Empty token list: nf2 = 0 -> all
    // cosines 0.0 -> smallest label.
    val row = spark.sql("""
      SELECT rocchio_best(array(1L, 1L, 2L),
               array(struct('b' AS clabel, array(0.0D, 1.0D, 1.0D) AS c, 2.0D AS nc2),
                     struct('a' AS clabel, array(0.0D, 1.0D, 1.0D) AS c, 2.0D AS nc2)))
               AS t,
             rocchio_best(CAST(array() AS ARRAY<BIGINT>),
               array(struct('z' AS clabel, array(1.0D) AS c, 1.0D AS nc2),
                     struct('y' AS clabel, array(1.0D) AS c, 1.0D AS nc2)))
               AS z""").head()
    val t = row.getStruct(0)
    assert(t.getString(1) === "a")
    assert(t.getDouble(0) > 0.9)
    val z = row.getStruct(1)
    assert(z.getString(1) === "y")
    assert(z.getDouble(0) === 0.0)
  }
}
