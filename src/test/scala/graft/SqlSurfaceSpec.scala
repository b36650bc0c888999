package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame

/** The SQL door (SURVEY §8 stretch): users of an analytics engine expect to
  * type SQL, not only the DataFrame API. This spec registers the fixture
  * tables as views plus the engine's injected functions and re-expresses
  * flagship queries as `spark.sql` strings, asserting each produces
  * EXACTLY the library query's rows (same canonicalization the oracle gate
  * uses: column-name sort, stringified values, sorted rows).
  *
  * Spelling notes that make the equivalence exact rather than approximate:
  * decimal-exact aggregates are written out (`CAST(SUM(CAST(… AS
  * DECIMAL(30,6))) AS DOUBLE)`), and float literals carry the `D` suffix —
  * Spark SQL parses a bare `1.0` as DECIMAL(2,1), which would silently
  * change the arithmetic's type lattice vs the DataFrame's `lit(1.0)`.
  */
class SqlSurfaceSpec extends SparkSpec {

  private def registerViews(): Unit = {
    Seq("lineitem", "orders", "customer", "supplier", "nation", "part",
      "documents", "events").foreach { t =>
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    }
  }

  private def canon(df: DataFrame): (Seq[String], Seq[Seq[String]]) = {
    val cols = df.columns.sorted.toSeq
    val rows = df.selectExpr(cols.map(c => s"`$c`"): _*).collect().toSeq
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("\u0000"))
    (cols, rows)
  }

  private def checkSame(name: String, sql: String): Unit = {
    registerViews()
    val (libCols, libRows) = canon(SparkEntry.queries(name)(spark, sfDir))
    val (sqlCols, sqlRows) = canon(spark.sql(sql))
    assert(sqlCols === libCols, s"$name: column sets differ")
    assert(sqlRows === libRows,
      s"$name: SQL rows (${sqlRows.size}) != library rows (${libRows.size})")
  }

  test("rel_q1_pricing_summary through spark.sql") {
    checkSame("rel_q1_pricing_summary", """
      SELECT l_returnflag, l_linestatus,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_base_price,
             CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price,
             CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount) * (1.0D + l_tax) AS DECIMAL(30,6))) AS DOUBLE) AS sum_charge,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
             CAST(SUM(CAST(l_discount AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus""")
  }

  test("rel_q3_shipping_priority through spark.sql") {
    checkSame("rel_q3_shipping_priority", """
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
             date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
             o_orderpriority
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1998-01-01'
        AND l_shipdate > TIMESTAMP '1998-01-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, l_orderkey
      LIMIT 10""")
  }

  test("rel_window_rank through spark.sql") {
    checkSame("rel_window_rank", """
      SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
               DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM orders)
      WHERE rnk <= 3""")
  }

  test("rel_sort_topk through spark.sql") {
    checkSame("rel_sort_topk", """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")
  }

  test("rel_basket_pairs through spark.sql") {
    // The SQL door reaches the round-6 surface too: the readable self-join
    // spelling must reproduce the library's HOF pair expansion exactly.
    checkSame("rel_basket_pairs", """
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS support
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      ORDER BY support DESC, p1, p2 LIMIT 100""")
  }

  test("rel_agg_mode through spark.sql") {
    checkSame("rel_agg_mode", """
      SELECT l_returnflag, l_quantity AS modal_qty, cnt AS n_occurrences
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                 ORDER BY cnt DESC, l_quantity) AS rn
        FROM (SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
              FROM lineitem GROUP BY 1, 2))
      WHERE rn = 1""")
  }

  test("rel_abc_analysis through spark.sql") {
    checkSame("rel_abc_analysis", """
      SELECT l_partkey, revenue,
             CASE WHEN cum / total <= 0.8D THEN 'A'
                  WHEN cum / total <= 0.95D THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM (
        SELECT l_partkey, revenue,
               CAST(SUM(CAST(revenue AS DECIMAL(30,6))) OVER (
                 ORDER BY revenue DESC, l_partkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS DOUBLE) AS cum,
               CAST(SUM(CAST(revenue AS DECIMAL(30,6))) OVER () AS DOUBLE)
                 AS total
        FROM (
          SELECT l_partkey,
                 CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount)
                   AS DECIMAL(30,6))) AS DOUBLE) AS revenue
          FROM lineitem GROUP BY 1))""")
  }

  test("llm_text_fingerprint through spark.sql (injected native function)") {
    // The custom codegen expression is reachable from the SQL door too —
    // the function registry carries poly_fingerprint into plain SQL text.
    checkSame("llm_text_fingerprint", """
      SELECT doc_id, fp[0] AS full_hash, fp[1] AS min_window_hash
      FROM (SELECT doc_id, poly_fingerprint(text) AS fp FROM documents)""")
  }

  // ------------------------------------------------------------------
  // Round-10-family doors. The SFT spellings reuse the library's own
  // dialect-neutral fragments (transcript construction + turn parser) so
  // the SQL text and the DataFrame program share one source of truth.

  test("llm_sft_parse through spark.sql") {
    val wrap = graft.llm.SftOps.sftWrapSql("doc_id", "text")
    val turns = graft.llm.SftOps.turnsExpr
    checkSame("llm_sft_parse", s"""
      WITH base AS (SELECT doc_id, $wrap AS convo FROM documents),
      t AS (SELECT doc_id, $turns AS turns FROM base)
      SELECT doc_id,
             CAST(size(turns) AS INT) AS n_turns,
             CAST(size(filter(turns, t -> t.role = 'user')) AS INT) AS n_user,
             CAST(size(filter(turns, t -> t.role = 'assistant')) AS INT)
               AS n_assistant,
             size(filter(turns, t -> t.role = 'system')) > 0 AS has_system,
             array_join(transform(turns, t -> substr(t.role, 1, 1)), ',')
               AS roles,
             regexp_like(array_join(transform(turns, t -> substr(t.role, 1, 1)), ','),
               '^(s,)?u,a(,u,a)*$$') AS valid_alternation,
             right(array_join(transform(turns, t -> substr(t.role, 1, 1)), ','), 1) = 'a'
               AS ends_assistant,
             exists(turns, t -> t.content = '') AS has_empty_turn,
             regexp_like(array_join(transform(turns, t -> substr(t.role, 1, 1)), ','),
               '^(s,)?u,a(,u,a)*$$')
               AND NOT exists(turns, t -> t.content = '') AS is_valid
      FROM t""")
  }

  test("llm_sft_report through spark.sql") {
    val wrap = graft.llm.SftOps.sftWrapSql("doc_id", "text")
    val turns = graft.llm.SftOps.turnsExpr
    checkSame("llm_sft_report", s"""
      WITH base AS (SELECT doc_id, source, $wrap AS convo FROM documents),
      t AS (SELECT doc_id, source, $turns AS turns FROM base),
      d AS (
        SELECT source,
               CAST(size(turns) AS INT) AS n_turns,
               regexp_like(array_join(transform(turns, t -> substr(t.role, 1, 1)), ','),
                 '^(s,)?u,a(,u,a)*$$') AS valid_alternation,
               right(array_join(transform(turns, t -> substr(t.role, 1, 1)), ','), 1) = 'a'
                 AS ends_assistant,
               exists(turns, t -> t.content = '') AS has_empty_turn,
               aggregate(turns, CAST(0 AS BIGINT),
                 (acc, t) -> acc + CASE WHEN t.role = 'assistant'
                   THEN CAST(size(filter(split(t.content, ' '), w -> w <> ''))
                     AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS assistant_tokens,
               aggregate(turns, CAST(0 AS BIGINT),
                 (acc, t) -> acc +
                   CAST(size(filter(split(t.content, ' '), w -> w <> ''))
                     AS BIGINT)) AS total_tokens
        FROM t)
      SELECT source,
             COUNT(*) AS n_convos,
             SUM(CASE WHEN valid_alternation AND NOT has_empty_turn
                      THEN 1L ELSE 0L END) AS n_valid,
             SUM(CASE WHEN NOT valid_alternation THEN 1L ELSE 0L END)
               AS n_alt_violation,
             SUM(CASE WHEN has_empty_turn THEN 1L ELSE 0L END) AS n_empty_turn,
             SUM(CASE WHEN NOT ends_assistant THEN 1L ELSE 0L END)
               AS n_unanswered,
             CAST(SUM(CASE WHEN valid_alternation AND NOT has_empty_turn
                           THEN 1L ELSE 0L END) AS DOUBLE) / COUNT(*)
               AS pct_valid,
             CAST(SUM(CAST(n_turns AS BIGINT)) AS DOUBLE) / COUNT(*)
               AS avg_turns,
             CAST(SUM(assistant_tokens) AS DOUBLE) / SUM(total_tokens)
               AS assistant_token_share
      FROM d GROUP BY source""")
  }

  test("rel_hll_distinct through spark.sql (portable HLL via injected md5_long)") {
    import graft.functions.Hll
    checkSame("rel_hll_distinct", s"""
      WITH hsrc AS (
        SELECT event_type, ${Hll.hpExpr("user_id")} AS hp FROM events),
      rsrc AS (
        SELECT event_type, ${Hll.regExpr} AS reg, ${Hll.rhoExpr} AS rho
        FROM hsrc),
      regs AS (
        SELECT event_type, reg, MAX(rho) AS mrho
        FROM rsrc GROUP BY event_type, reg),
      folded AS (
        SELECT event_type, COUNT(*) AS n_present,
               aggregate(
                 sort_array(collect_list(named_struct('reg', reg, 'mrho', mrho))),
                 CAST(0.0 AS DOUBLE),
                 (acc, x) -> acc + power(CAST(2.0 AS DOUBLE),
                                         -CAST(x.mrho AS DOUBLE))) AS s_present
        FROM regs GROUP BY event_type),
      est AS (
        SELECT event_type, n_present,
               ${0.7213 / (1.0 + 1.079 / 4096)}D * 4096.0D * 4096.0D
                 / (s_present + CAST(4096 - n_present AS DOUBLE)) AS raw
        FROM folded),
      hllest AS (
        SELECT event_type, CAST(n_present AS BIGINT) AS n_registers,
               CASE WHEN raw <= 2.5D * 4096.0D AND n_present < 4096
                    THEN 4096.0D * ln(4096.0D / CAST(4096 - n_present AS DOUBLE))
                    ELSE raw END AS est_distinct
        FROM est),
      e AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY event_type)
      SELECT hllest.event_type, n_registers, est_distinct, exact_distinct,
             abs(est_distinct - CAST(exact_distinct AS DOUBLE))
               / CAST(exact_distinct AS DOUBLE) AS rel_err
      FROM hllest JOIN e USING (event_type)""")
  }

  test("rel_cdf_sketch through spark.sql") {
    checkSame("rel_cdf_sketch", """
      WITH stats AS (
        SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
        FROM lineitem),
      binned AS (
        SELECT l_linestatus AS g, mn,
               CASE WHEN mx = mn THEN 1.0D ELSE (mx - mn) / 512.0D END AS w,
               CAST(FLOOR((l_extendedprice - mn) /
                 CASE WHEN mx = mn THEN 1.0D ELSE (mx - mn) / 512.0D END)
                 AS BIGINT) AS bkt
        FROM lineitem CROSS JOIN stats),
      hist AS (
        SELECT g, bkt, COUNT(*) AS cnt, MAX(mn) AS mn, MAX(w) AS w
        FROM binned GROUP BY g, bkt),
      cumt AS (
        SELECT g, bkt, cnt, mn, w,
               SUM(cnt) OVER (PARTITION BY g ORDER BY bkt) AS cum,
               SUM(cnt) OVER (PARTITION BY g) AS n
        FROM hist)
      SELECT g AS l_linestatus, MAX(n) AS n, MAX(w) AS bucket_width,
             MAX(CASE WHEN cum >= CEIL(0.5D * n) AND cum - cnt < CEIL(0.5D * n)
                 THEN mn + w * (CAST(bkt AS DOUBLE) +
                   CAST(CEIL(0.5D * n) - (cum - cnt) AS DOUBLE)
                     / CAST(cnt AS DOUBLE)) END) AS p50_est,
             MAX(CASE WHEN cum >= CEIL(0.9D * n) AND cum - cnt < CEIL(0.9D * n)
                 THEN mn + w * (CAST(bkt AS DOUBLE) +
                   CAST(CEIL(0.9D * n) - (cum - cnt) AS DOUBLE)
                     / CAST(cnt AS DOUBLE)) END) AS p90_est,
             MAX(CASE WHEN cum >= CEIL(0.99D * n) AND cum - cnt < CEIL(0.99D * n)
                 THEN mn + w * (CAST(bkt AS DOUBLE) +
                   CAST(CEIL(0.99D * n) - (cum - cnt) AS DOUBLE)
                     / CAST(cnt AS DOUBLE)) END) AS p99_est
      FROM cumt GROUP BY g""")
  }

  test("rel_bloom_prune through spark.sql (mergeable bloom via bit_or)") {
    checkSame("rel_bloom_prune", """
      WITH keys AS (
        SELECT DISTINCT o_custkey AS k FROM orders
        WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 450000),
      pos AS (
        SELECT md5_long(concat('b', CAST(i AS STRING), ':', CAST(k AS STRING)))
                 & 262143 AS p
        FROM keys LATERAL VIEW explode(sequence(0, 3)) AS i),
      words AS (
        SELECT CAST(p / 64 AS BIGINT) AS w,
               bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) AS bm
        FROM pos GROUP BY 1),
      probe AS (
        SELECT c_custkey, c_mktsegment,
               md5_long(concat('b', CAST(i AS STRING), ':', CAST(c_custkey AS STRING)))
                 & 262143 AS p
        FROM customer LATERAL VIEW explode(sequence(0, 3)) AS i),
      hits AS (
        SELECT c_custkey, c_mktsegment,
               bool_and(bm IS NOT NULL
                 AND (shiftright(bm, CAST(p % 64 AS INT)) & 1) = 1) AS maybe
        FROM probe LEFT JOIN words ON CAST(p / 64 AS BIGINT) = w
        GROUP BY c_custkey, c_mktsegment)
      SELECT c_mktsegment,
             COUNT(*) AS n_customers,
             SUM(CASE WHEN a.k IS NOT NULL THEN 1L ELSE 0L END) AS n_actual,
             SUM(CASE WHEN maybe THEN 1L ELSE 0L END) AS n_maybe,
             SUM(CASE WHEN maybe AND a.k IS NULL THEN 1L ELSE 0L END)
               AS n_false_pos,
             CASE WHEN COUNT(*) = SUM(CASE WHEN a.k IS NOT NULL THEN 1L ELSE 0L END)
                  THEN 0.0D
                  ELSE CAST(SUM(CASE WHEN maybe AND a.k IS NULL THEN 1L ELSE 0L END)
                         AS DOUBLE)
                       / CAST(COUNT(*) - SUM(CASE WHEN a.k IS NOT NULL
                                             THEN 1L ELSE 0L END) AS DOUBLE)
             END AS fp_rate
      FROM hits h LEFT JOIN keys a ON a.k = h.c_custkey
      GROUP BY c_mktsegment""")
  }

  test("rel_graph_components through spark.sql (graph family door)") {
    // The DF's 8 bounded min-label rounds as chained CTEs — trade edges,
    // self-scaling strong-edge threshold, label propagation, all in one
    // SQL string. (A recursive-CTE spelling needs UNION-dedup semantics,
    // which Spark's WITH RECURSIVE does not support yet; UNION ALL on a
    // cyclic graph path-enumerates, so the bounded chain IS the honest
    // SQL spelling of the bounded DF iteration.)
    val dsumW = "CAST(SUM(CAST(w AS DECIMAL(30,6))) AS DOUBLE)"
    val rounds = (1 to 8).map { k =>
      s"""l$k AS (
           SELECT node, MIN(label) AS label FROM (
             SELECT node, label FROM l${k - 1}
             UNION ALL
             SELECT e.dst AS node, p.label
             FROM bidir e JOIN l${k - 1} p ON e.src = p.node) u
           GROUP BY node)"""
    }.mkString(",\n")
    checkSame("rel_graph_components", s"""
      WITH dir_edges AS (
        SELECT cn.n_name AS src, sn.n_name AS dst,
               CAST(SUM(CAST(l_extendedprice * (1.0D - l_discount)
                 AS DECIMAL(30,6))) AS DOUBLE) AS w
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        GROUP BY 1, 2),
      und AS (
        SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b, $dsumW AS w
        FROM dir_edges WHERE src <> dst GROUP BY 1, 2),
      thr AS (SELECT $dsumW / COUNT(w) AS t FROM und),
      keep AS (SELECT a, b FROM und CROSS JOIN thr WHERE w > t),
      bidir AS (SELECT a AS src, b AS dst FROM keep
                UNION ALL SELECT b, a FROM keep),
      l0 AS (SELECT n_name AS node, n_name AS label FROM nation),
      $rounds
      SELECT node, label AS component FROM l8""")
  }

  test("rel_geo_nearest through spark.sql (geo family door)") {
    checkSame("rel_geo_nearest", """
      WITH c AS (
        SELECT c_custkey, c_custkey * 7919 % 18000 AS cla,
               c_custkey * 104729 % 36000 AS clo
        FROM customer),
      s AS (
        SELECT s_suppkey, s_suppkey * 4099 % 18000 AS sla,
               s_suppkey * 9973 % 36000 AS slo
        FROM supplier),
      cand AS (
        SELECT c.c_custkey, s.s_suppkey,
               2.0D * 6371.0D * ASIN(LEAST(1.0D, SQRT(
                 POW(SIN(RADIANS((sla / 100.0D - 90.0D) - (cla / 100.0D - 90.0D)) / 2), 2) +
                 COS(RADIANS(cla / 100.0D - 90.0D)) * COS(RADIANS(sla / 100.0D - 90.0D)) *
                 POW(SIN(RADIANS((slo / 100.0D - 180.0D) - (clo / 100.0D - 180.0D)) / 2), 2)))) AS d
        FROM c JOIN s
          ON abs(cla div 1000 - sla div 1000) <= 1
         AND least(abs(clo div 1000 - slo div 1000),
                   36 - abs(clo div 1000 - slo div 1000)) <= 1),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY c_custkey ORDER BY d, s_suppkey) AS rn
        FROM cand)
      SELECT c_custkey, s_suppkey, ROUND(d, 4) AS dist_km
      FROM ranked WHERE rn = 1""")
  }

  test("ts_drawdown through spark.sql (finance family door)") {
    checkSame("ts_drawdown", """
      WITH c AS (
        SELECT user_id, ts, event_id,
               SUM(CAST(value AS DECIMAL(30,6))) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM events),
      p AS (
        SELECT user_id, cum,
               MAX(cum) OVER
                 (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        FROM c)
      SELECT user_id,
             CAST(MAX(peak - cum) AS DOUBLE) AS max_drawdown,
             CAST(MAX(peak) AS DOUBLE) AS peak_value,
             COUNT(*) AS n_events
      FROM p GROUP BY user_id""")
  }

  test("rel_aqp_sum through spark.sql (AQP family door, injected md5_long)") {
    checkSame("rel_aqp_sum", """
      WITH samp AS (
        SELECT l_extendedprice FROM lineitem
        WHERE (md5_long(concat('aqp:', CAST(l_orderkey AS STRING), '-',
                 CAST(l_linenumber AS STRING))) & 63) = 0),
      s AS (
        SELECT COUNT(*) AS n_sample,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE)
                 * 64.0D AS est_sum,
               SQRT(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                 AS DECIMAL(30,6))) AS DOUBLE) * (63.0D * 64.0D)) AS se
        FROM samp)
      SELECT n_sample, est_sum, se,
             est_sum - 1.96D * se AS ci_lo,
             est_sum + 1.96D * se AS ci_hi
      FROM s""")
  }

  test("rel_cms_freq through spark.sql (count-min sketch door)") {
    checkSame("rel_cms_freq", """
      WITH grid AS (
        SELECT i,
               md5_long(concat('cms', CAST(i AS STRING), ':',
                 CAST(l_partkey AS STRING))) & 8191 AS b,
               COUNT(*) AS c
        FROM lineitem LATERAL VIEW explode(sequence(0, 3)) s AS i
        GROUP BY 1, 2),
      probe AS (SELECT p_partkey FROM part WHERE p_size <= 2),
      hashed AS (
        SELECT p_partkey, i,
               md5_long(concat('cms', CAST(i AS STRING), ':',
                 CAST(p_partkey AS STRING))) & 8191 AS b
        FROM probe LATERAL VIEW explode(sequence(0, 3)) s AS i),
      est AS (
        SELECT p_partkey, MIN(COALESCE(c, 0L)) AS est_cnt
        FROM hashed LEFT JOIN grid USING (i, b)
        GROUP BY p_partkey),
      ex AS (SELECT l_partkey, COUNT(*) AS exact_cnt FROM lineitem GROUP BY 1)
      SELECT p_partkey,
             COALESCE(exact_cnt, 0L) AS exact_cnt,
             est_cnt,
             est_cnt - COALESCE(exact_cnt, 0L) AS overcount,
             est_cnt >= COALESCE(exact_cnt, 0L) AS never_under
      FROM est LEFT JOIN ex ON p_partkey = l_partkey""")
  }

  test("llm_sft_tokens through spark.sql (SFT loss-mask door)") {
    // Reuses the library's own dialect-neutral transcript fragment and
    // Spark-side turn parser verbatim — the SQL door to the loss-mask
    // accounting is the same program a user would type, not a
    // re-derivation. (llm_sft_parse / llm_sft_report doors exist above.)
    checkSame("llm_sft_tokens", s"""
      WITH base AS (
        SELECT doc_id, ${graft.llm.SftOps.sftWrapSql("doc_id", "text")} AS convo
        FROM documents),
      t AS (SELECT doc_id, ${graft.llm.SftOps.turnsExpr} AS turns FROM base),
      d AS (
        SELECT doc_id,
               CAST(size(turns) AS INT) AS n_turns,
               aggregate(turns, CAST(0 AS BIGINT), (acc, t) -> acc +
                 CASE WHEN t.role = 'assistant'
                   THEN CAST(size(filter(split(t.content, ' '), w -> w <> ''))
                        AS BIGINT)
                   ELSE 0L END) AS assistant_tokens,
               aggregate(turns, CAST(0 AS BIGINT), (acc, t) -> acc +
                 CAST(size(filter(split(t.content, ' '), w -> w <> ''))
                      AS BIGINT)) AS total_tokens
        FROM t)
      SELECT doc_id, n_turns,
             total_tokens - assistant_tokens AS prompt_tokens,
             assistant_tokens, total_tokens,
             CAST(assistant_tokens AS DOUBLE) / total_tokens AS loss_mask_ratio
      FROM d""")
  }

  test("llm_mm_meta through spark.sql (multimodal-meta family door)") {
    checkSame("llm_mm_meta", """
      SELECT doc_id AS asset_id,
             length(encode(text, 'UTF-8')) AS n_bytes,
             md5(encode(text, 'UTF-8')) AS digest,
             hex(encode(substring(text, 1, 4), 'UTF-8')) AS magic
      FROM documents""")
  }

  test("llm_gopher_gate through spark.sql (web-curation family door)") {
    checkSame("llm_gopher_gate", """
      WITH t0 AS (
        SELECT doc_id, split(lower(text), '\\s+') AS toks0 FROM documents),
      t1 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 13 = 0 THEN slice(toks0, 1, 5)
                    ELSE toks0 END AS toks1
        FROM t0),
      t AS (
        SELECT doc_id,
               CASE WHEN doc_id % 6 = 0 THEN concat(toks1,
                 array('###', '$$$', '%%%', '@@@', '!!!', '^^^', '&&&', '***'))
                    ELSE toks1 END AS toks
        FROM t1),
      m AS (
        SELECT doc_id,
               size(toks) AS n_words,
               aggregate(toks, 0, (acc, t) -> acc + length(t)) AS sum_len,
               size(filter(toks, t -> t rlike '^[^a-z0-9]+$')) AS n_sym,
               size(filter(toks, t -> t rlike '[a-z]')) AS n_alpha,
               size(array_intersect(array_distinct(toks),
                 array('the', 'a', 'and', 'to', 'of', 'in', 'is', 'that')))
                 AS n_stop
        FROM t)
      SELECT doc_id, n_words,
             CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
             CAST(n_sym AS DOUBLE) / n_words AS symbol_frac,
             CAST(n_alpha AS DOUBLE) / n_words AS alpha_frac,
             n_stop,
             n_words BETWEEN 10 AND 5000 AS f_words,
             CAST(sum_len AS DOUBLE) / n_words BETWEEN 2.0D AND 10.0D AS f_mwl,
             CAST(n_sym AS DOUBLE) / n_words <= 0.1D AS f_symbol,
             CAST(n_alpha AS DOUBLE) / n_words >= 0.8D AS f_alpha,
             n_stop >= 2 AS f_stop,
             n_words BETWEEN 10 AND 5000
               AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 2.0D AND 10.0D
               AND CAST(n_sym AS DOUBLE) / n_words <= 0.1D
               AND CAST(n_alpha AS DOUBLE) / n_words >= 0.8D
               AND n_stop >= 2 AS keep
      FROM m""")
  }

  test("rel_merge_upsert through spark.sql (merge/diff family door)") {
    checkSame("rel_merge_upsert", """
      WITH cust AS (
        SELECT c_custkey, c_acctbal, c_mktsegment, c_nationkey FROM customer),
      src AS (
        SELECT c_custkey, c_acctbal * 2 AS c_acctbal, c_mktsegment,
               c_nationkey, 'upsert' AS op
        FROM cust WHERE c_nationkey < 10
        UNION ALL
        SELECT c_custkey, c_acctbal, c_mktsegment, c_nationkey, 'delete'
        FROM cust WHERE c_nationkey >= 20 AND c_mktsegment = 'AUTOMOBILE'
        UNION ALL
        SELECT c_custkey + 10000000L, CAST(0.0 AS DOUBLE), 'NEW', 5L, 'upsert'
        FROM cust WHERE c_nationkey = 5)
      SELECT t.c_custkey, t.c_acctbal, t.c_mktsegment, t.c_nationkey
      FROM cust t LEFT ANTI JOIN src s ON t.c_custkey = s.c_custkey
      UNION ALL
      SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment, s.c_nationkey
      FROM cust t JOIN src s ON t.c_custkey = s.c_custkey
      WHERE s.op <> 'delete'
      UNION ALL
      SELECT s.c_custkey, s.c_acctbal, s.c_mktsegment, s.c_nationkey
      FROM src s LEFT ANTI JOIN cust t ON s.c_custkey = t.c_custkey
      WHERE s.op <> 'delete'""")
  }

  test("rel_mv_rollup through spark.sql (MV family door — and the SQL text is MV-served)") {
    checkSame("rel_mv_rollup", """
      SELECT l_returnflag,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
             COUNT(*) AS n,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem GROUP BY l_returnflag""")
    // The optimizer rule sees the VIEW's plan exactly as it sees the
    // DataFrame's (same LogicalRelation under the alias), so the SQL
    // spelling is served from the rollup too — checkSame above already
    // ran rel_mv_rollup's fn, which registered the fixture's MV.
    val p = spark.sql(
      "SELECT l_returnflag, COUNT(*) AS n FROM lineitem GROUP BY l_returnflag")
      .queryExecution.executedPlan.toString
    assert(!p.contains("lineitem.parquet"),
      s"SQL aggregate not MV-served:\n$p")
  }

  test("rel_mv_star through spark.sql (star join+aggregate is MV-served)") {
    checkSame("rel_mv_star", """
      SELECT o_orderpriority,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS sum_price,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n,
             MAX(l_extendedprice) AS max_price
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY o_orderpriority""")
    // checkSame ran rel_mv_star's fn → the star MV is registered; the
    // SQL text's own join+aggregate plan must then be rollup-served.
    val p = spark.sql("""
      SELECT o_orderpriority, COUNT(*) AS n
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority""").queryExecution.executedPlan.toString
    assert(!p.contains("lineitem.parquet") && !p.contains("orders.parquet"),
      s"SQL star aggregate not MV-served:\n$p")
  }

  test("rel_kmv_distinct through spark.sql (KMV estimator door)") {
    registerViews()
    graft.operators.KmvSketch.register(spark)
    checkSame("rel_kmv_distinct", """
      WITH sk AS (
        SELECT event_type,
               kmv_sketch(md5_long(CAST(user_id AS STRING))
                 & 9223372036854775807) AS s
        FROM events GROUP BY event_type),
      est AS (
        SELECT event_type, CAST(size(s) AS BIGINT) AS sketch_size,
               CASE WHEN size(s) < 1024 THEN CAST(size(s) AS DOUBLE)
                    ELSE 1023.0D * CAST(9223372036854775807 AS DOUBLE)
                         / CAST(element_at(s, 1024) AS DOUBLE)
               END AS est_distinct
        FROM sk),
      e AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
            FROM events GROUP BY event_type)
      SELECT est.event_type, sketch_size, est_distinct, exact_distinct,
             abs(est_distinct - CAST(exact_distinct AS DOUBLE))
               / CAST(exact_distinct AS DOUBLE) AS rel_err
      FROM est JOIN e ON est.event_type = e.event_type""")
  }

  test("ts_rsi_chunked through spark.sql (halo-chunked finance door)") {
    // The chunked plan is bit-identical to the global window by
    // construction (HaloChunkSpec + the shared oracle); this door proves
    // the same rows are reachable through plain SQL text.
    checkSame("ts_rsi_chunked", """
      WITH d AS (
        SELECT event_type, event_id, ts,
               CAST(value AS DECIMAL(30,6)) -
                 lag(CAST(value AS DECIMAL(30,6)), 1) OVER
                   (PARTITION BY event_type ORDER BY ts, event_id) AS delta,
               row_number() OVER
                 (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        FROM events),
      g AS (
        SELECT event_type, event_id, rn,
               SUM(CASE WHEN delta > 0 THEN delta
                        ELSE CAST(0 AS DECIMAL(30,6)) END) OVER
                 (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS gsum,
               SUM(CASE WHEN delta < 0 THEN -delta
                        ELSE CAST(0 AS DECIMAL(30,6)) END) OVER
                 (PARTITION BY event_type ORDER BY ts, event_id
                  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS lsum
        FROM d)
      SELECT event_type, event_id,
             CASE WHEN lsum = 0 THEN 100.0D
                  ELSE 100.0D - 100.0D /
                    (1.0D + CAST(gsum AS DOUBLE) / CAST(lsum AS DOUBLE))
             END AS rsi
      FROM g WHERE rn >= 15""")
  }

  test("llm_dedup_minhash through spark.sql (TextFeatures-fed dedup door)") {
    registerViews()
    graft.llm.TextFeatures.features(spark, sfDir, "near")
      .createOrReplaceTempView("textfeat")
    // Bands slice the STORED 256-perm signature (r=4, b=32 — the same
    // prefix the library query reads); verification reads the stored
    // shingle keys. The whole minhash dedup, from SQL over one table.
    checkSame("llm_dedup_minhash", """
      WITH bands AS (
        SELECT doc_id, band, bh
        FROM textfeat
        LATERAL VIEW posexplode(transform(sequence(0, 31),
          bb -> xxhash64(element_at(sig, bb * 4 + 1),
                         element_at(sig, bb * 4 + 2),
                         element_at(sig, bb * 4 + 3),
                         element_at(sig, bb * 4 + 4)))) t AS band, bh),
      cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
        WHERE a.doc_id < b.doc_id),
      v AS (
        SELECT doc_a, doc_b,
               size(array_intersect(fa.sh, fb.sh)) AS i,
               fa.n AS na, fb.n AS nb
        FROM cand
        JOIN textfeat fa ON fa.doc_id = doc_a
        JOIN textfeat fb ON fb.doc_id = doc_b)
      SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (na + nb - i) AS jaccard
      FROM v WHERE CAST(i AS DOUBLE) / (na + nb - i) >= 0.8D""")
  }

  test("rel_mv_time_bucket through spark.sql (derived-bucket MV door)") {
    checkSame("rel_mv_time_bucket", """
      SELECT event_type,
             date_format(date_trunc('HOUR', ts), 'yyyy-MM-dd HH:mm:ss')
               AS bucket,
             CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
             COUNT(*) AS n,
             MIN(value) AS min_value,
             MAX(value) AS max_value
      FROM events
      GROUP BY event_type, date_trunc('HOUR', ts)""")
    // checkSame ran the fn → the hourly rollup is registered; the SQL
    // text's own derived-bucket GROUP BY must then be MV-served.
    val p = spark.sql("""
      SELECT event_type, date_trunc('HOUR', ts) AS b, COUNT(*) AS n
      FROM events GROUP BY 1, 2""").queryExecution.executedPlan.toString
    assert(!p.contains("events.parquet"),
      s"SQL derived-bucket aggregate not MV-served:\n$p")
  }

  test("rel_mv_grouping_sets through spark.sql (SQL ROLLUP is MV-served)") {
    checkSame("rel_mv_grouping_sets", """
      SELECT l_returnflag, l_linestatus,
             CAST(GROUPING(l_returnflag) AS BIGINT) * 2 +
               CAST(GROUPING(l_linestatus) AS BIGINT) AS lvl,
             CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty,
             COUNT(*) AS n,
             MIN(l_extendedprice) AS min_price,
             MAX(l_extendedprice) AS max_price
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")
    // checkSame ran the fn → the fixture MV is registered; the SQL text's
    // own ROLLUP plan (Aggregate over Expand) must then be rollup-served.
    val p = spark.sql("""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")
      .queryExecution.executedPlan.toString
    assert(!p.contains("lineitem.parquet"),
      s"SQL ROLLUP aggregate not MV-served:\n$p")
  }
}
