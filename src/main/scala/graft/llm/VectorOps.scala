package graft.llm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.expr

/** Shared vector expressions for the embedding operators. All pure Catalyst
  * (codegen-able higher-order functions) — no UDFs, no driver-side math.
  */
object VectorOps {

  /** float[] → double[] so all arithmetic is in double (matches the oracle's
    * explicit CAST ... AS DOUBLE element math). */
  def asDouble(colName: String): Column =
    expr(s"transform($colName, x -> CAST(x AS DOUBLE))")

  /** Cosine between two double-array columns — the native codegen
    * expression [[graft.functions.VecCosine]]. Accumulation is
    * left-to-right from zero, matching DuckDB's list_reduce, so scores are
    * bit-identical to the oracle. Needs a session that carries the graft
    * functions: one from `Graft.session`, or any other after
    * `Graft.install`. */
  def cosine(a: String, b: String): Column = expr(s"vec_cosine($a, $b)")

  /** Random-hyperplane LSH codes over a double-array column `ve` — the
    * native codegen expression [[graft.functions.HyperplaneCodesMd5]]
    * (4 tables × 16 sign bits, MD5-seeded Rademacher hyperplanes), exposed
    * as (table, code) rows. The MD5 variant is both the faster plan (the
    * ±1 entries are a precomputed static table — no per-element hashing)
    * and DuckDB-reconstructible, which is what lets the ANN and embedding
    * dedup queries be differential-checked bit-for-bit. */
  def lshCoded(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    df.select(df.columns.toIndexedSeq.map(org.apache.spark.sql.functions.col) :+
      org.apache.spark.sql.functions.posexplode(expr("hyperplane_codes_md5(ve)")): _*)
      .withColumnRenamed("pos", "t")
      .withColumnRenamed("col", "code")
  }
}
