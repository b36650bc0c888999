package graft.operators

import graft.api.{QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Count-min sketch — the frequency-estimation member of the mergeable
  * sketch family (HLL cardinality `rel_hll_distinct`, Bloom membership
  * `rel_bloom_prune`, CDF quantiles `rel_cdf_sketch`, Misra–Gries heavy
  * hitters `llm_text_heavyhitters`). Like the others it is built so the
  * aggregation IS the merge:
  *
  *   - state = a (depth × width) counter grid, here 4 × 8192 rows of
  *     (seed, bucket, count). Partials combine by SUM — map-side combine
  *     on a 1000-executor cluster shuffles at most 32,768 rows per
  *     partition regardless of corpus size, and two shards' sketches (or
  *     two days' sketches) union by the same SUM.
  *   - point query = min over the key's `depth` counters; misses read 0.
  *     The estimate NEVER undercounts (each counter upper-bounds the true
  *     frequency), overcounts only by hash-collision mass — both
  *     properties are measured exactly in the result, not assumed.
  *
  * Hashing is the engine's portable `md5_long` (upper 64 md5 bits as a
  * signed long — DuckDB's `md5_number_upper` is bit-identical), salted per
  * seed row, masked to the low 13 bits; the oracle replays the identical
  * construction so counts hash-compare exactly.
  */
object CountMin extends QueryModule {

  val depth = 4
  val width = 8192
  val cells: Int = depth * width

  /** Row i's bucket for `key` — the builder-side JVM twin of the plan
    * expression `md5_long(concat('cms', i, ':', key)) & 8191` (same
    * [[graft.functions.Md5Hash]] bits), so an aggregator-built sketch is
    * bit-identical to the query spelling's grid. */
  private def slot(i: Int, key: String): Int =
    (i * width) + (graft.functions.Md5Hash.hash(
      UTF8String.fromString(s"cms$i:$key")) & (width - 1)).toInt

  final case class Buf(counts: Array[Long])

  /** The grid as a typed `Aggregator` — one 4×8192 flat array per group
    * (256 KB buffer: meant for ungrouped or low-cardinality grouping, the
    * same envelope as the query spelling's broadcast). Merge = element-wise
    * SUM, so partials combine map-side and two shards' sketches union into
    * the corpus sketch exactly. */
  val agg: Aggregator[String, Buf, Array[Long]] =
    new Aggregator[String, Buf, Array[Long]] {
      override def zero: Buf = Buf(new Array[Long](cells))
      override def reduce(b: Buf, key: String): Buf = {
        if (key != null) {
          var i = 0
          while (i < depth) { b.counts(slot(i, key)) += 1; i += 1 }
        }
        b
      }
      override def merge(x: Buf, y: Buf): Buf = {
        var i = 0
        while (i < cells) { x.counts(i) += y.counts(i); i += 1 }
        x
      }
      override def finish(b: Buf): Array[Long] = b.counts
      override def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      override def outputEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    }

  /** Register the SQL door: `cms_sketch(key)` → array<bigint>[32768]. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("cms_sketch", udaf(agg))

  /** Point estimate from a sketch column: min over the key's `depth`
    * counters — the plan-side twin of the aggregator's hashing (the same
    * registered `md5_long`), usable against a sketch from EITHER build
    * path. `element_at` is 1-based. */
  def estimate(sketch: Column, key: Column): Column =
    least((0 until depth).map { i =>
      val b = call_function("md5_long",
        concat(lit(s"cms$i:"), key.cast("string"))).bitwiseAND(lit(8191L))
      element_at(sketch, (lit(i * width) + b + lit(1L)).cast("int"))
    }: _*)

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // The query spelling's pipeline re-expressed through the registered
    // aggregate: ONE ungrouped cms_sketch aggregation replaces the
    // explode×4 grid (same bits — slot() reuses the md5_long hash), the
    // 256 KB sketch broadcasts as a scalar, and estimates read it with
    // element_at. Hash-matches the SAME DuckDB oracle as rel_cms_freq.
    "rel_cms_agg" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val sketchUdaf = udaf(agg)
        val li = Tables.load(s, dir, "lineitem")
        // Fanout (keyed — no round-robin pre-sort; l_partkey is 20k-distinct
        // at sf0.1, far above the 32-partition collision floor): 4 md5
        // slots per row inside the aggregator behind a single-row-group
        // scan — widen so partial sketches build in parallel (no-op at
        // cluster scale).
        val sk = graft.api.Fanout.widenBy(li.select($"l_partkey"), $"l_partkey")
          .agg(sketchUdaf($"l_partkey".cast("string")).as("sk"))
        val probe = Tables.load(s, dir, "part")
          .filter($"p_size" <= 2).select($"p_partkey")
        val est = probe.crossJoin(broadcast(sk))
          .select($"p_partkey", estimate($"sk", $"p_partkey").as("est_cnt"))
        val exact = li.groupBy($"l_partkey").agg(count(lit(1)).as("exact_cnt"))
        est.join(exact, est("p_partkey") === exact("l_partkey"), "left")
          .select(
            $"p_partkey",
            coalesce($"exact_cnt", lit(0L)).as("exact_cnt"),
            $"est_cnt",
            ($"est_cnt" - coalesce($"exact_cnt", lit(0L))).as("overcount"),
            ($"est_cnt" >= coalesce($"exact_cnt", lit(0L))).as("never_under"))
      },
      oracle = Some("""
        WITH seeds AS (SELECT UNNEST([0, 1, 2, 3]) AS i),
        grid AS (
          SELECT i,
                 CAST(md5_number_upper(concat('cms', CAST(i AS VARCHAR), ':',
                   CAST(l_partkey AS VARCHAR))) & 8191 AS BIGINT) AS b,
                 COUNT(*) AS c
          FROM lineitem CROSS JOIN seeds
          GROUP BY 1, 2),
        probe AS (SELECT p_partkey FROM part WHERE p_size <= 2),
        hashed AS (
          SELECT p_partkey, i,
                 CAST(md5_number_upper(concat('cms', CAST(i AS VARCHAR), ':',
                   CAST(p_partkey AS VARCHAR))) & 8191 AS BIGINT) AS b
          FROM probe CROSS JOIN seeds),
        est AS (
          SELECT p_partkey, MIN(COALESCE(c, 0)) AS est_cnt
          FROM hashed LEFT JOIN grid USING (i, b)
          GROUP BY p_partkey),
        ex AS (SELECT l_partkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1)
        SELECT p_partkey,
               COALESCE(exact_cnt, 0) AS exact_cnt,
               est_cnt,
               est_cnt - COALESCE(exact_cnt, 0) AS overcount,
               est_cnt >= COALESCE(exact_cnt, 0) AS never_under
        FROM est LEFT JOIN ex ON p_partkey = l_partkey""")),
    // Part-frequency sketch over lineitem: build the 4×8192 grid in one
    // partial-aggregable shuffle, broadcast it (≤32k rows) onto a bounded
    // probe set (p_size ≤ 2), and report per key the exact count, the CMS
    // estimate, the collision overcount, and the no-undercount invariant.
    "rel_cms_freq" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = Tables.load(s, dir, "lineitem")
        val seeds = expr("explode(sequence(0, 3))").as("i")
        // Fanout (keyed — no round-robin pre-sort): the explode×4 md5 grid
        // build was 2.3 s of this query's 2.7 s on ONE task at sf0.1
        // (single-row-group scan) — widen the one-column projection first
        // (no-op at cluster scale).
        val grid = graft.api.Fanout
          .widenBy(li.select($"l_partkey"), $"l_partkey")
          .select($"l_partkey", seeds)
          .select($"i", expr(
            "md5_long(concat('cms', CAST(i AS STRING), ':', CAST(l_partkey AS STRING))) & 8191")
            .as("b"))
          .groupBy($"i", $"b").agg(count(lit(1)).as("c"))
        val probe = Tables.load(s, dir, "part")
          .filter($"p_size" <= 2).select($"p_partkey")
        val est = probe.select($"p_partkey", seeds)
          .withColumn("b", expr(
            "md5_long(concat('cms', CAST(i AS STRING), ':', CAST(p_partkey AS STRING))) & 8191"))
          .join(broadcast(grid), Seq("i", "b"), "left")
          .groupBy($"p_partkey")
          .agg(min(coalesce($"c", lit(0L))).as("est_cnt"))
        val exact = li.groupBy($"l_partkey").agg(count(lit(1)).as("exact_cnt"))
        est.join(exact, est("p_partkey") === exact("l_partkey"), "left")
          .select(
            $"p_partkey",
            coalesce($"exact_cnt", lit(0L)).as("exact_cnt"),
            $"est_cnt",
            ($"est_cnt" - coalesce($"exact_cnt", lit(0L))).as("overcount"),
            ($"est_cnt" >= coalesce($"exact_cnt", lit(0L))).as("never_under"))
      },
      oracle = Some("""
        WITH seeds AS (SELECT UNNEST([0, 1, 2, 3]) AS i),
        grid AS (
          SELECT i,
                 CAST(md5_number_upper(concat('cms', CAST(i AS VARCHAR), ':',
                   CAST(l_partkey AS VARCHAR))) & 8191 AS BIGINT) AS b,
                 COUNT(*) AS c
          FROM lineitem CROSS JOIN seeds
          GROUP BY 1, 2),
        probe AS (SELECT p_partkey FROM part WHERE p_size <= 2),
        hashed AS (
          SELECT p_partkey, i,
                 CAST(md5_number_upper(concat('cms', CAST(i AS VARCHAR), ':',
                   CAST(p_partkey AS VARCHAR))) & 8191 AS BIGINT) AS b
          FROM probe CROSS JOIN seeds),
        est AS (
          SELECT p_partkey, MIN(COALESCE(c, 0)) AS est_cnt
          FROM hashed LEFT JOIN grid USING (i, b)
          GROUP BY p_partkey),
        ex AS (SELECT l_partkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1)
        SELECT p_partkey,
               COALESCE(exact_cnt, 0) AS exact_cnt,
               est_cnt,
               est_cnt - COALESCE(exact_cnt, 0) AS overcount,
               est_cnt >= COALESCE(exact_cnt, 0) AS never_under
        FROM est LEFT JOIN ex ON p_partkey = l_partkey"""))
  )
}
