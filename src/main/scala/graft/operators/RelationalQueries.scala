package graft.operators

import graft.api.{Exact, QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The declared relational operator surface (SURVEY.md §2.3–§2.7 north-star
  * inventory): multi-way joins (inner/outer/semi/anti/cross), hash
  * aggregation, rollup/cube/grouping sets, window functions with explicit
  * frames, sorts/top-k, set operations, and the scalar function families.
  *
  * Every query is declarative DataFrame code — Catalyst handles predicate
  * pushdown, column pruning, join selection (broadcast for the dimension
  * tables) and AQE handles runtime skew/coalescing. Determinism rules:
  * float aggregates via [[Exact]], top-k always carries a unique tiebreak
  * key, timestamps stringified in final output.
  */
object RelationalQueries extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def views(s: SparkSession, dir: String, names: String*): Unit =
    names.foreach(n => Tables.load(s, dir, n).createOrReplaceTempView(n))

  import Exact.{dsum, davg, sqlSum, sqlAvg}

  // The TPC-H decorrelation-shape analogs (Q2/Q13/Q17/Q20/Q21/Q22) are
  // written once as engine-portable SQL and executed VERBATIM by both Spark
  // and the DuckDB oracle: the correlated subqueries are the point of the
  // exercise, so Spark must see the correlated form (and decorrelate it
  // itself), not a hand-decorrelated DataFrame plan. Determinism rules as
  // everywhere: aggregates that feed comparisons or output are exact
  // DECIMAL(30,6) sums (cast to double only at the end), and every LIMIT
  // carries a total tiebreak order.

  private val q2Sql = """
    SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
           l_extendedprice AS min_price
    FROM part, supplier, lineitem, nation, region
    WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
      AND p_size <= 10 AND p_type = 'STANDARD'
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'EUROPE'
      AND l_extendedprice = (
        SELECT MIN(l2.l_extendedprice)
        FROM lineitem l2, supplier s2, nation n2, region r2
        WHERE l2.l_partkey = p_partkey AND s2.s_suppkey = l2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100"""

  private val q11Sql = """
    SELECT l_partkey,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             AS value
    FROM lineitem, supplier, nation
    WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
      AND n_name = 'NATION_9'
    GROUP BY l_partkey
    HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE) > (
      SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
               * 0.0002
      FROM lineitem, supplier, nation
      WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
        AND n_name = 'NATION_9')
    ORDER BY value DESC, l_partkey"""

  private val q16Sql = """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 14, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""

  // Recursive CTE (Spark 4's WITH RECURSIVE — iterative UnionLoop
  // execution): walk a derived binary-tree hierarchy over the nation keys
  // (parent = floor((k−1)/2)), emitting depth and the root path per node.
  // FLOOR-over-double division keeps the parent computation identical on
  // both engines (neither treats `/` on integers as integer division).
  private val recSql = """
    WITH RECURSIVE h(n_nationkey, n_name, depth, path) AS (
      SELECT n_nationkey, n_name, 0 AS depth,
             CAST(n_nationkey AS VARCHAR(40)) AS path
      FROM nation WHERE n_nationkey = 0
      UNION ALL
      SELECT c.n_nationkey, c.n_name, h.depth + 1,
             h.path || '/' || CAST(c.n_nationkey AS VARCHAR(40))
      FROM nation c
      JOIN h ON CAST(FLOOR((c.n_nationkey - 1) / 2.0) AS BIGINT) = h.n_nationkey
      WHERE c.n_nationkey > 0)
    SELECT n_nationkey, n_name, depth, path FROM h"""

  private val q13Sql = """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1-%'
      GROUP BY c_custkey) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC"""

  private val q17Sql = """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) / 7.0
             AS avg_yearly
    FROM lineitem, part
    WHERE p_partkey = l_partkey AND p_brand = 'Brand#23' AND p_type = 'PROMO'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l2.l_quantity AS DECIMAL(30,6))) AS DOUBLE)
                        / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)"""

  private val q20Sql = """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_3'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'ECONOMY')
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(30,6))) > 50)
    ORDER BY s_name"""

  private val q21Sql = """
    SELECT s_name, COUNT(*) AS numwait
    FROM supplier, lineitem l1, orders, nation
    WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
      AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R')
      AND s_nationkey = n_nationkey AND n_name = 'NATION_7'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100"""

  private val q22Sql = """
    SELECT bucket, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(30,6))) AS DOUBLE) AS totacctbal
    FROM (
      SELECT substring(c_name, 18, 1) AS bucket, c_acctbal, c_custkey
      FROM customer
      WHERE substring(c_name, 18, 1) IN ('1','3','5','7')
        AND c_acctbal > (
          SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(30,6))) AS DOUBLE)
                   / COUNT(*)
          FROM customer c2
          WHERE c2.c_acctbal > 0.0
            AND substring(c2.c_name, 18, 1) IN ('1','3','5','7'))
        AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= TIMESTAMP '2000-06-01')) t
    GROUP BY bucket
    ORDER BY bucket"""

  // Shared by rel_cdf_sketch / rel_cdf_agg / rel_cdf_stream: all three
  // spellings produce the identical (group, n, bucket_width, p50/90/99_est)
  // rows, so they pin against ONE oracle.
  private val cdfSketchOracleSql = """
        WITH stats AS (
          SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
          FROM lineitem),
        binned AS (
          SELECT l_linestatus AS g,
                 CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
                      ELSE (mx - mn) / CAST(512.0 AS DOUBLE) END AS w,
                 mn,
                 CAST(FLOOR((l_extendedprice - mn) /
                   CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
                        ELSE (mx - mn) / CAST(512.0 AS DOUBLE) END) AS BIGINT)
                   AS bkt
          FROM lineitem, stats),
        hist AS (
          SELECT g, bkt, COUNT(*) AS cnt, MAX(mn) AS mn, MAX(w) AS w
          FROM binned GROUP BY g, bkt),
        cumt AS (
          SELECT g, bkt, cnt, mn, w,
                 SUM(cnt) OVER (PARTITION BY g ORDER BY bkt) AS cum,
                 SUM(cnt) OVER (PARTITION BY g) AS n
          FROM hist)
        SELECT g AS l_linestatus,
               CAST(MAX(n) AS BIGINT) AS n,
               MAX(w) AS bucket_width,
               MAX(CASE WHEN cum >= CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
                         AND cum - cnt < CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
                   THEN mn + w * (CAST(bkt AS DOUBLE) +
                     CAST(CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
                       / CAST(cnt AS DOUBLE)) END) AS p50_est,
               MAX(CASE WHEN cum >= CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT)
                         AND cum - cnt < CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT)
                   THEN mn + w * (CAST(bkt AS DOUBLE) +
                     CAST(CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
                       / CAST(cnt AS DOUBLE)) END) AS p90_est,
               MAX(CASE WHEN cum >= CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
                         AND cum - cnt < CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
                   THEN mn + w * (CAST(bkt AS DOUBLE) +
                     CAST(CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT) - (cum - cnt) AS DOUBLE)
                       / CAST(cnt AS DOUBLE)) END) AS p99_est
        FROM cumt GROUP BY g
"""

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Aggregation: TPC-H Q1-style pricing summary (SURVEY §2.4 A1 analog).
    // Scan-side filter pushes to parquet; two-key hash agg with partial
    // (map-side) aggregation — one shuffle on the grouping keys.
    "rel_q1_pricing_summary" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_base_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax"))
              .as("sum_charge"),
            davg($"l_quantity").as("avg_qty"),
            davg($"l_extendedprice").as("avg_price"),
            davg($"l_discount").as("avg_disc"),
            count(lit(1)).as("count_order"))
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               ${sqlSum("l_quantity")} AS sum_qty,
               ${sqlSum("l_extendedprice")} AS sum_base_price,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
               ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
               ${sqlAvg("l_quantity")} AS avg_qty,
               ${sqlAvg("l_extendedprice")} AS avg_price,
               ${sqlAvg("l_discount")} AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus"""),
      bench = true),

    // ------------------------------------------------------------------
    // 3-way join + agg + deterministic top-k (TPC-H Q3 analog).
    // customer is small → broadcast side; orders⋈lineitem shuffles on the
    // order key; top-k is TakeOrderedAndProject (no global sort).
    "rel_q3_shipping_priority" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val cust = t(s, dir, "customer").filter($"c_mktsegment" === "BUILDING")
        val ord = t(s, dir, "orders")
          .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        val li = t(s, dir, "lineitem")
          .filter($"l_shipdate" > lit("1998-01-01").cast("timestamp"))
        // No broadcast hint on customer: it grows O(SF), so a forced
        // broadcast OOMs at 100×. Stats + AQE pick broadcast while it fits
        // under autoBroadcastJoinThreshold and fall back to shuffle join.
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
          .select(
            $"l_orderkey",
            $"revenue",
            date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
            $"o_orderpriority")
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(10)
      },
      oracle = Some(s"""
        SELECT l_orderkey,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01'
          AND l_shipdate > TIMESTAMP '1998-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10"""),
      bench = true),

    // ------------------------------------------------------------------
    // 6-way join (TPC-H Q5 analog): region/nation/supplier broadcast;
    // the only large shuffle is lineitem⋈orders.
    "rel_q5_local_supplier" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val region = t(s, dir, "region").filter($"r_name" === "ASIA")
        val nation = t(s, dir, "nation")
        val cust = t(s, dir, "customer")
        val supp = t(s, dir, "supplier")
        val ord = t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
          .filter($"o_orderdate" < lit("1998-01-01").cast("timestamp"))
        val li = t(s, dir, "lineitem")
        // Hints only on the bounded dimensions (region=5, nation=25 rows at
        // any SF); customer/supplier grow O(SF) and are left to AQE.
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(supp, $"l_suppkey" === $"s_suppkey")
          .join(cust, $"o_custkey" === $"c_custkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nation), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      },
      oracle = Some(s"""
        SELECT n_name,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY n_name"""),
      bench = true),

    // ------------------------------------------------------------------
    // TPC-H Q10 analog: returned-item revenue per customer over one
    // quarter, top 20. Shape notes: the date filter prunes orders at the
    // scan; returnflag prunes lineitem at the scan; nation broadcast; the
    // final top-20 is TakeOrderedAndProject (rank over revenue with
    // custkey tiebreak for a total order).
    "rel_q10_returned_items" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val ord = t(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp"))
          .filter($"o_orderdate" < lit("1996-04-01").cast("timestamp"))
        val li = t(s, dir, "lineitem").filter($"l_returnflag" === "R")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(20)
      },
      oracle = Some(s"""
        SELECT c_custkey, c_name, n_name,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag = 'R'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ------------------------------------------------------------------
    // TPC-H Q14 analog: promo revenue share over one month — a conditional
    // aggregate ratio in a single pass over the join (no second scan for
    // the denominator).
    "rel_q14_promo_effect" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp"))
          .filter($"l_shipdate" < lit("1996-02-01").cast("timestamp"))
        li.join(t(s, dir, "part"), $"l_partkey" === $"p_partkey")
          .agg((lit(100.0) *
            dsum(when($"p_type" === "PROMO",
              $"l_extendedprice" * (lit(1.0) - $"l_discount")).otherwise(0.0)) /
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")))
            .as("promo_revenue_pct"))
      },
      oracle = Some(s"""
        SELECT 100.0 * ${sqlSum(
          "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END")}
               / ${sqlSum("l_extendedprice * (1.0 - l_discount)")}
                 AS promo_revenue_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-02-01'""")),

    // ------------------------------------------------------------------
    // TPC-H Q19 analog: revenue under a DISJUNCTION of brand/size/quantity
    // predicates — the pushdown stress case (per-branch constraints must
    // still prune both scans; the plan keeps the join equi on partkey with
    // the disjunction as a post-join filter, not a theta join).
    "rel_q19_disjunctive" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(t(s, dir, "part"), $"l_partkey" === $"p_partkey")
          .filter(
            ($"p_brand" === "Brand#1" && $"p_size".between(1, 10) &&
              $"l_quantity".between(1, 20)) ||
            ($"p_brand" === "Brand#13" && $"p_size".between(10, 25) &&
              $"l_quantity".between(10, 40)) ||
            ($"p_brand" === "Brand#20" && $"p_size".between(25, 50) &&
              $"l_quantity".between(20, 50)))
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
            count(lit(1)).as("n_items"))
      },
      oracle = Some(s"""
        SELECT ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25
               AND l_quantity BETWEEN 10 AND 40)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 25 AND 50
               AND l_quantity BETWEEN 20 AND 50)""")),

    // ------------------------------------------------------------------
    // TPC-H Q2 analog: multi-level correlated scalar MIN — for each
    // qualifying part, the region's suppliers offering it at the minimum
    // observed price (the correlated subquery re-joins supplier⋈nation⋈
    // region). Catalyst decorrelates the scalar MIN into a per-part
    // aggregate joined back on the correlation key — one shuffle on
    // l_partkey, never a per-row re-execution. Identical SQL text runs on
    // both engines, so the decorrelated plan is differentially checked
    // against DuckDB's own decorrelation. (This fixture has no partsupp;
    // lineitem stands in as the part×supplier offer relation.)
    "rel_q2_min_cost_supplier" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "part", "supplier", "lineitem", "nation", "region")
        s.sql(q2Sql)
      },
      oracle = Some(q2Sql)),

    // ------------------------------------------------------------------
    // Recursive CTE hierarchy walk (WITH RECURSIVE — new in Spark 4):
    // depth and root path for every node of a derived tree. The fixpoint
    // loop is bounded by tree depth; each iteration is one join of the
    // frontier against the (broadcast-sized) node table. DuckDB runs the
    // IDENTICAL recursive SQL, so Spark's UnionLoop execution is
    // differentially checked, iteration for iteration.
    "rel_recursive_hierarchy" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "nation")
        s.sql(recSql)
      },
      oracle = Some(recSql)),

    // ------------------------------------------------------------------
    // TPC-H Q8 analog: national market share — an 8-way join (nation
    // twice, in different roles) feeding a conditional-aggregate ratio.
    // Only the bounded dims (region, both nation roles) broadcast; the
    // share is a ratio of exact decimal sums, so the division is one
    // deterministic double op.
    "rel_q8_market_share" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val region = t(s, dir, "region").filter($"r_name" === "ASIA")
        val n1 = t(s, dir, "nation")
          .select($"n_nationkey".as("n1_key"), $"n_regionkey")
        val n2 = t(s, dir, "nation")
          .select($"n_nationkey".as("n2_key"), $"n_name".as("nation"))
        val prt = t(s, dir, "part").filter($"p_type" === "ECONOMY")
        val ord = t(s, dir, "orders")
          .filter($"o_orderdate".between(
            lit("1995-01-01").cast("timestamp"), lit("1996-12-31").cast("timestamp")))
        t(s, dir, "lineitem")
          .join(ord, $"l_orderkey" === $"o_orderkey")
          .join(prt, $"l_partkey" === $"p_partkey")
          .join(t(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .join(broadcast(n1), $"c_nationkey" === $"n1_key")
          .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
          .join(broadcast(n2), $"s_nationkey" === $"n2_key")
          .withColumn("o_year", year($"o_orderdate"))
          .withColumn("volume", $"l_extendedprice" * (lit(1.0) - $"l_discount"))
          .groupBy($"o_year")
          .agg((dsum(when($"nation" === "NATION_5", $"volume").otherwise(lit(0.0)))
            / dsum($"volume")).as("mkt_share"))
          .orderBy($"o_year")
      },
      oracle = Some(s"""
        SELECT o_year,
               ${sqlSum("CASE WHEN nation = 'NATION_5' THEN volume ELSE 0.0 END")}
                 / ${sqlSum("volume")} AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 l_extendedprice * (1.0 - l_discount) AS volume,
                 n2.n_name AS nation
          FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
          WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
            AND l_orderkey = o_orderkey AND o_custkey = c_custkey
            AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
            AND r_name = 'ASIA' AND s_nationkey = n2.n_nationkey
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
            AND p_type = 'ECONOMY') t
        GROUP BY o_year ORDER BY o_year""")),

    // ------------------------------------------------------------------
    // TPC-H Q9 analog: product-type profit by nation and year. This
    // fixture has no partsupp, so supply cost is the deterministic
    // p_retailprice × 0.1 × quantity stand-in; the LIKE filter prunes
    // part before the join.
    "rel_q9_product_profit" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val prt = t(s, dir, "part").filter($"p_name".like("%red%"))
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(prt, $"l_partkey" === $"p_partkey")
          .join(t(s, dir, "supplier"), $"l_suppkey" === $"s_suppkey")
          .join(broadcast(t(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
          .withColumn("o_year", year($"o_orderdate"))
          .groupBy($"n_name".as("nation"), $"o_year")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")
            - $"p_retailprice" * lit(0.1) * $"l_quantity").as("sum_profit"))
          .orderBy($"nation", $"o_year".desc)
      },
      oracle = Some(s"""
        SELECT nation, o_year, ${sqlSum(
          "l_extendedprice * (1.0 - l_discount) - p_retailprice * 0.1 * l_quantity")}
                 AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
                 l_extendedprice, l_discount, p_retailprice, l_quantity
          FROM part, supplier, lineitem, orders, nation
          WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
            AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
            AND p_name LIKE '%red%') t
        GROUP BY nation, o_year ORDER BY nation, o_year DESC""")),

    // ------------------------------------------------------------------
    // TPC-H Q11 analog: important stock value — per-part value filtered
    // by a HAVING against an UNCORRELATED scalar subquery (the global
    // total), which plans as a one-row broadcast, never a re-execution.
    // Both the per-group and global sums are exact decimal, compared in
    // double on both engines.
    "rel_q11_important_stock" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "lineitem", "supplier", "nation")
        s.sql(q11Sql)
      },
      oracle = Some(q11Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q16 analog: supplier count per part attribute with a NOT IN
    // blacklist subquery — the null-aware anti join shape (s_suppkey is
    // non-null here, so it degenerates to a plain anti join) over a
    // distinct aggregate.
    "rel_q16_part_suppliers" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "part", "lineitem", "supplier")
        s.sql(q16Sql)
      },
      oracle = Some(q16Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q13 analog: outer-join-groupby with a NOT LIKE join filter —
    // the order-count distribution MUST keep zero-order customers, so the
    // NOT LIKE lives in the JOIN condition, not a WHERE (a where-clause
    // filter would silently turn the outer join inner). Two aggregates:
    // per-customer counts ride the join's shuffle, the distribution
    // re-shuffles only |customers| rows.
    "rel_q13_order_distribution" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "customer", "orders")
        s.sql(q13Sql)
      },
      oracle = Some(q13Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q17 analog: correlated AVG threshold — lineitems of a brand's
    // promo parts in quantities below 20% of that part's own average.
    // Decorrelates to a per-part aggregate broadcast back onto the probe
    // side. The average is computed as an exact DECIMAL sum cast to
    // double over a bigint count, so the threshold (and therefore the
    // qualifying row set) is bit-identical across engines — a raw
    // double AVG would be summation-order-dependent.
    "rel_q17_small_qty_revenue" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "lineitem", "part")
        s.sql(q17Sql)
      },
      oracle = Some(q17Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q20 analog: nested semi-join — suppliers (of one nation) who
    // moved more than a threshold volume of ECONOMY parts; the IN
    // subquery itself contains another IN (parts of the type) plus a
    // HAVING over an exact decimal sum. Both IN levels become left-semi
    // hash joins; the aggregate runs once over the semi-joined lineitem,
    // not per outer row.
    "rel_q20_volume_suppliers" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "supplier", "nation", "lineitem", "part")
        s.sql(q20Sql)
      },
      oracle = Some(q20Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q21 analog: multi-EXISTS + NOT EXISTS — suppliers solely
    // responsible for the returned lines of finished multi-supplier
    // orders: another supplier's line EXISTS in the order, and NO other
    // supplier's line was returned. EXISTS → left-semi, NOT EXISTS →
    // left-anti, both on l_orderkey with the <>-supplier residual in the
    // join condition; three lineitem scans but zero cartesian products.
    "rel_q21_sole_blame" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "supplier", "lineitem", "orders", "nation")
        s.sql(q21Sql)
      },
      oracle = Some(q21Sql)),

    // ------------------------------------------------------------------
    // TPC-H Q22 analog: anti-join over substring buckets — lapsed
    // high-balance customers (no order since the cutoff) grouped by a
    // name-derived bucket. The uncorrelated scalar AVG (exact decimal
    // form) broadcasts as a single-row threshold; NOT EXISTS becomes a
    // left-anti join against only the orders past the cutoff (the date
    // predicate pushes into the anti side's scan).
    "rel_q22_lapsed_customers" -> QuerySpec(
      fn = (s, dir) => {
        views(s, dir, "customer", "orders")
        s.sql(q22Sql)
      },
      oracle = Some(q22Sql)),

    // ------------------------------------------------------------------
    // Blocked fuzzy-match entity resolution, incoming-batch-vs-master
    // shape: a probe batch (a deterministic 1% of customers, standing in
    // for "today's new records") matches against master data through an
    // equi-join on a BLOCKING key (nation) — |probes|·|block| comparisons,
    // never all-pairs — then Levenshtein ≤ 2 keeps near-identical names.
    // levenshtein() semantics agree between engines (plain edit distance).
    "rel_entity_fuzzy" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val master = t(s, dir, "customer")
          .select($"c_custkey", $"c_name", $"c_nationkey")
        val probes = master.filter($"c_custkey" % 100 === 0)
          .select($"c_custkey".as("probe_key"), $"c_name".as("probe_name"),
            $"c_nationkey".as("probe_nation"))
        probes.join(master, $"probe_nation" === $"c_nationkey" &&
            $"probe_key" =!= $"c_custkey")
          .withColumn("dist", levenshtein($"probe_name", $"c_name"))
          .filter($"dist" <= 2)
          .select($"probe_key", $"c_custkey".as("master_key"), $"dist")
      },
      oracle = Some("""
        SELECT p.c_custkey AS probe_key, m.c_custkey AS master_key,
               CAST(levenshtein(p.c_name, m.c_name) AS INT) AS dist
        FROM customer p JOIN customer m
          ON p.c_nationkey = m.c_nationkey AND p.c_custkey <> m.c_custkey
        WHERE p.c_custkey % 100 = 0
          AND levenshtein(p.c_name, m.c_name) <= 2""")),

    // ------------------------------------------------------------------
    // Left outer join keeping customers without orders.
    "rel_join_left_outer" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "orders"), $"c_custkey" === $"o_custkey", "left")
          .groupBy($"c_custkey", $"c_name")
          .agg(
            count($"o_orderkey").as("n_orders"),
            dsum($"o_totalprice").as("total_spent"))
      },
      oracle = Some(s"""
        SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
               ${sqlSum("o_totalprice")} AS total_spent
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name""")),

    // Full outer join: per-nation customer count vs supplier count.
    "rel_join_full_outer" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val c = t(s, dir, "customer").groupBy($"c_nationkey".as("nk"))
          .agg(count(lit(1)).as("n_cust"))
        val sp = t(s, dir, "supplier").groupBy($"s_nationkey".as("nk2"))
          .agg(count(lit(1)).as("n_supp"))
        c.join(sp, $"nk" === $"nk2", "full")
          .select(coalesce($"nk", $"nk2").as("nationkey"), $"n_cust", $"n_supp")
      },
      oracle = Some("""
        SELECT COALESCE(c.nk, s.nk2) AS nationkey, n_cust, n_supp
        FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1) c
        FULL OUTER JOIN
             (SELECT s_nationkey AS nk2, COUNT(*) AS n_supp FROM supplier GROUP BY 1) s
        ON c.nk = s.nk2""")),

    // Semi join: customers that have at least one open order.
    "rel_join_semi" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter($"o_orderstatus" === "O"),
            $"c_custkey" === $"o_custkey", "left_semi")
          .select($"c_custkey", $"c_name", $"c_mktsegment")
      },
      oracle = Some("""
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'O')""")),

    // Anti join: customers with no completed ('F') order — non-empty at
    // sf0.01 (71 rows) so the check actually constrains the plan.
    "rel_join_anti" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(
            t(s, dir, "orders").filter($"o_orderstatus" === "F"),
            $"c_custkey" === $"o_custkey", "left_anti")
          .select($"c_custkey", $"c_name")
      },
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""")),

    // Null-safe equi-join (<=> / IS NOT DISTINCT FROM): events whose JSON
    // k is ABSENT (null) must match the dimension's null row — the
    // semantics plain equality silently drops. EqualNullSafe is still an
    // equi-join key for Spark (hash/sort-merge, never a cartesian), which
    // is exactly why the operator matters at scale: the naive
    // "(a = b OR (a IS NULL AND b IS NULL))" spelling degrades to a
    // non-equi condition.
    "rel_join_null_safe" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val ev = t(s, dir, "events")
          .select($"event_id",
            get_json_object($"props", "$.k").cast("int").as("k"))
        val dim = ev.select($"k").distinct()
          .filter($"k".isNull || $"k" % 3 === 0)
          .select($"k".as("dk"))
        ev.join(dim, $"k" <=> $"dk")
          .groupBy($"dk")
          .agg(count(lit(1)).as("n"))
      },
      oracle = Some("""
        WITH ev AS (
          SELECT event_id,
                 CASE WHEN json_valid(props)
                      THEN CAST(json_extract_string(props, '$.k') AS INT)
                 END AS k
          FROM events),
        dim AS (
          SELECT DISTINCT k AS dk FROM ev WHERE k IS NULL OR k % 3 = 0)
        SELECT dk, COUNT(*) AS n
        FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.dk
        GROUP BY dk""")),

    // Cross join (small × small only — never at fact-table scale).
    "rel_join_cross" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val r1 = t(s, dir, "region").select($"r_name".as("from_region"))
        val r2 = t(s, dir, "region").select($"r_name".as("to_region"))
        r1.crossJoin(r2).filter($"from_region" =!= $"to_region")
      },
      oracle = Some("""
        SELECT r1.r_name AS from_region, r2.r_name AS to_region
        FROM region r1 CROSS JOIN region r2
        WHERE r1.r_name <> r2.r_name""")),

    // ------------------------------------------------------------------
    // Window: ranking family (SURVEY §2.5 W1 analog) with deterministic
    // row_number tiebreak.
    "rel_window_rank" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val byPrice = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc)
        val total = Window.partitionBy($"o_custkey")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
        t(s, dir, "orders")
          .select(
            $"o_custkey", $"o_orderkey", $"o_totalprice",
            rank().over(byPrice).as("rnk"),
            dense_rank().over(byPrice).as("drnk"),
            row_number().over(total).as("rn"))
          .filter($"rnk" <= 3)
      },
      oracle = Some("""
        SELECT * FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rnk,
                 DENSE_RANK() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drnk,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders)
        WHERE rnk <= 3""")),

    // Window: running sum with an explicit rows frame.
    "rel_window_running_sum" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          sum($"o_totalprice".cast("decimal(30,6)")).over(w).cast("double")
            .as("running_total"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
                 AS running_total
        FROM orders""")),

    // Window: lag/lead navigation.
    "rel_window_lag_lead" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          lag($"o_orderkey", 1).over(w).as("prev_order"),
          lead($"o_orderkey", 1).over(w).as("next_order"),
          first($"o_orderkey").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_order"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
               LAG(o_orderkey, 1) OVER w AS prev_order,
               LEAD(o_orderkey, 1) OVER w AS next_order,
               FIRST_VALUE(o_orderkey) OVER
                 (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_order
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""")),

    // Window: distribution family (ntile / percent_rank / cume_dist) with a
    // unique tiebreak so ranks are total-ordered.
    "rel_window_distribution" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
               CAST(NTILE(4) OVER w AS INT) AS quartile,
               PERCENT_RANK() OVER w AS pr,
               CUME_DIST() OVER w AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)""")),

    // Value-position window functions over an explicit full-partition
    // frame (first/last/nth order price per customer) — last_value is only
    // meaningful with the frame widened past the running default.
    "rel_window_value_frame" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders").select(
          $"o_custkey", $"o_orderkey",
          first_value($"o_totalprice").over(w).as("first_price"),
          last_value($"o_totalprice").over(w).as("last_price"),
          nth_value($"o_totalprice", 2).over(w).as("second_price"))
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey,
               first_value(o_totalprice) OVER w AS first_price,
               last_value(o_totalprice) OVER w AS last_price,
               nth_value(o_totalprice, 2) OVER w AS second_price
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""")),

    // Null-handling scalar family.
    "rel_scalar_nulls" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").select(
          $"c_custkey",
          expr("nullif(c_mktsegment, 'BUILDING')").as("seg_or_null"),
          expr("coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER')").as("seg_defaulted"),
          expr("ifnull(nullif(c_acctbal, 0.0), -1.0)").as("bal_or_sentinel"),
          expr("CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL THEN 'kept' ELSE 'dropped' END")
            .as("keep_flag"))
      },
      oracle = Some("""
        SELECT c_custkey,
               nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_defaulted,
               ifnull(nullif(c_acctbal, 0.0), -1.0) AS bal_or_sentinel,
               CASE WHEN nullif(c_mktsegment, 'BUILDING') IS NOT NULL
                    THEN 'kept' ELSE 'dropped' END AS keep_flag
        FROM customer""")),

    // Window: numeric RANGE frame (peers within 100.0 of current acctbal).
    "rel_window_range_frame" -> QuerySpec(
      fn = (s, dir) => {
        // The Scala rangeBetween API only takes Long offsets; a fractional
        // numeric RANGE frame is expressed via Spark SQL.
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        s.sql("""
          SELECT c_custkey, c_nationkey, c_acctbal,
                 COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                                RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)
                   AS peers_within_100
          FROM customer""")
      },
      oracle = Some("""
        SELECT c_custkey, c_nationkey, c_acctbal,
               COUNT(*) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal
                              RANGE BETWEEN 100.0 PRECEDING AND CURRENT ROW)
                 AS peers_within_100
        FROM customer""")),

    // ------------------------------------------------------------------
    // ROLLUP with grouping indicators.
    "rel_agg_rollup" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            count(lit(1)).as("n"),
            grouping($"l_returnflag").as("g_flag"),
            grouping($"l_linestatus").as("g_status"))
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               ${sqlSum("l_quantity")} AS sum_qty, COUNT(*) AS n,
               CAST(GROUPING(l_returnflag) AS TINYINT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS TINYINT) AS g_status
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""")),

    // CUBE.
    "rel_agg_cube" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .cube($"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      },
      oracle = Some(s"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               ${sqlSum("o_totalprice")} AS total
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""")),

    // Explicit GROUPING SETS (via Spark SQL).
    "rel_agg_grouping_sets" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""
          SELECT l_returnflag, l_linestatus,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS sum_qty
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus, ${sqlSum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""")),

    // Distinct aggregates (two distinct columns → expand-based plan).
    "rel_agg_distinct" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            countDistinct($"l_suppkey").as("n_supp"),
            countDistinct($"l_partkey").as("n_part"),
            count(lit(1)).as("n_rows"))
      },
      oracle = Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part, COUNT(*) AS n_rows
        FROM lineitem GROUP BY l_returnflag""")),

    // Moments computed from exact decimal sums (deterministic stddev).
    "rel_agg_stats" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_linestatus")
          .agg(
            min($"l_extendedprice").as("min_price"),
            max($"l_extendedprice").as("max_price"),
            count(lit(1)).as("n"),
            dsum($"l_extendedprice").as("sum_price"),
            dsum($"l_extendedprice" * $"l_extendedprice").as("sum_sq"))
          .withColumn("variance",
            ($"sum_sq" - $"sum_price" * $"sum_price" / $"n") / nullif($"n" - 1, lit(0)))
          .select($"l_linestatus", $"min_price", $"max_price", $"n",
            $"sum_price", round(sqrt($"variance"), 4).as("stddev_price"))
      },
      oracle = Some(s"""
        WITH m AS (
          SELECT l_linestatus,
                 MIN(l_extendedprice) AS min_price,
                 MAX(l_extendedprice) AS max_price,
                 COUNT(*) AS n,
                 ${sqlSum("l_extendedprice")} AS sum_price,
                 ${sqlSum("l_extendedprice * l_extendedprice")} AS sum_sq
          FROM lineitem GROUP BY l_linestatus)
        SELECT l_linestatus, min_price, max_price, n, sum_price,
               ROUND(SQRT((sum_sq - sum_price * sum_price / n) / NULLIF(n - 1, 0)), 4)
                 AS stddev_price
        FROM m""")),

    // ------------------------------------------------------------------
    // Grouped top-k via a typed Aggregator (the UDAF surface): bounded
    // buffers keep shuffle volume at O(groups × k); the window-function
    // spelling of the same computation is the oracle.
    "rel_topk_aggregator" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val orders = t(s, dir, "orders")
          .select($"o_custkey", $"o_orderkey", $"o_totalprice")
          .as[(Long, Long, Double)]
        orders
          .groupByKey(_._1)
          .mapValues(r => TopKAggregator.Scored(r._2, r._3))
          .agg(TopKAggregator.topK(3).toColumn)
          .flatMap { case (cust, top) =>
            top.zipWithIndex.map { case (sc, i) => (cust, sc.key, sc.value, i + 1) }
          }
          .toDF("o_custkey", "o_orderkey", "o_totalprice", "rnk")
      },
      oracle = Some("""
        SELECT o_custkey, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 row_number() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
        WHERE rnk <= 3""")),

    // ------------------------------------------------------------------
    // Typed cogroup (KeyValueGroupedDataset.cogroup): per-order
    // reconciliation of the non-finalized order book against non-returned
    // items — arbitrary per-key logic over BOTH groups' iterators in one
    // co-partitioned pass. The two attribute filters make every match case
    // real in the result (9374 matched / 693 order-only / 4598 item-only at
    // sf0.01): matched keys, order-side-only (all its items returned), and
    // item-side-only (order already finalized) — the full-outer semantics a
    // join+groupby needs two extra plumbing steps to express.
    // Scale shape: one shuffle per side on the key, groups streamed as
    // iterators (state = two decimal accumulators, never a buffered group);
    // physically a CoGroupExec over sort-merged children — the sort-merge-
    // join skeleton with user logic in place of the match emitter. Sums
    // accumulate in exact decimal at scale 6 (same discipline as
    // [[graft.api.Exact]]), so iterator order cannot perturb the double.
    "rel_cogroup_reconcile" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val orders = t(s, dir, "orders")
          .filter($"o_orderstatus" =!= "F")
          .select($"o_orderkey", $"o_totalprice")
          .as[(Long, Double)]
        val items = t(s, dir, "lineitem")
          .filter($"l_returnflag" =!= "R")
          .select($"l_orderkey", $"l_extendedprice", $"l_discount")
          .as[(Long, Double, Double)]
        def dec6(d: Double) =
          new java.math.BigDecimal(d).setScale(6, java.math.RoundingMode.HALF_UP)
        orders.groupByKey(_._1)
          .cogroup(items.groupByKey(_._1)) { (key, os, is) =>
            var nOrders = 0
            var nItems = 0
            var oSum = java.math.BigDecimal.ZERO
            var iSum = java.math.BigDecimal.ZERO
            os.foreach { o => nOrders += 1; oSum = oSum.add(dec6(o._2)) }
            is.foreach { i =>
              nItems += 1; iSum = iSum.add(dec6(i._2 * (1.0 - i._3)))
            }
            Iterator.single((key, nOrders, nItems,
              if (nOrders == 0) None else Some(oSum.doubleValue),
              if (nItems == 0) None else Some(iSum.doubleValue)))
          }
          .toDF("o_orderkey", "n_orders", "n_items", "order_total",
            "items_gross")
      },
      oracle = Some(s"""
        WITH o AS (
          SELECT o_orderkey, COUNT(*) AS n_orders,
                 ${sqlSum("o_totalprice")} AS order_total
          FROM orders WHERE o_orderstatus <> 'F'
          GROUP BY o_orderkey),
        i AS (
          SELECT l_orderkey, COUNT(*) AS n_items,
                 ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS items_gross
          FROM lineitem WHERE l_returnflag <> 'R'
          GROUP BY l_orderkey)
        SELECT COALESCE(o.o_orderkey, i.l_orderkey) AS o_orderkey,
               CAST(COALESCE(n_orders, 0) AS INT) AS n_orders,
               CAST(COALESCE(n_items, 0) AS INT) AS n_items,
               order_total, items_gross
        FROM o FULL OUTER JOIN i ON o.o_orderkey = i.l_orderkey""")),

    // ------------------------------------------------------------------
    // Deterministic top-k (TakeOrderedAndProject — no full global sort).
    "rel_sort_topk" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .select($"o_orderkey", $"o_custkey", $"o_totalprice")
          .orderBy($"o_totalprice".desc, $"o_orderkey")
          .limit(100)
      },
      oracle = Some("""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""")),

    // Set operations over aligned schemas.
    "rel_set_union" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // One aggregation after the union — per-branch distincts would add
        // two more exchanges for identical output (SQL UNION semantics).
        t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
          .union(t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
          .distinct()
      },
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        UNION
        SELECT s_nationkey FROM supplier""")),

    "rel_set_intersect" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
          .intersect(t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
      },
      oracle = Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT
        SELECT s_nationkey FROM supplier""")),

    // Nations with a high-balance customer but no high-balance supplier —
    // non-empty at sf0.01 (18 rows).
    "rel_set_except" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer").filter($"c_acctbal" > 9000)
          .select($"c_nationkey".as("nationkey"))
          .except(t(s, dir, "supplier").filter($"s_acctbal" > 9000)
            .select($"s_nationkey".as("nationkey")))
      },
      oracle = Some("""
        SELECT DISTINCT c_nationkey AS nationkey FROM customer WHERE c_acctbal > 9000
        EXCEPT
        SELECT s_nationkey FROM supplier WHERE s_acctbal > 9000""")),

    // Multiset (bag) variants — duplicate-count semantics, a different
    // physical shape: Spark plans these as count-compare aggregations +
    // generate, not a distinct-hash, so each surviving row repeats
    // max(n_left − n_right, 0) / min(n_left, n_right) times.
    "rel_set_except_all" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").select($"o_orderpriority".as("p"))
          .exceptAll(t(s, dir, "orders").filter($"o_orderstatus" === "F")
            .select($"o_orderpriority".as("p")))
          .groupBy($"p").agg(count(lit(1)).as("n"))
      },
      oracle = Some("""
        SELECT p, COUNT(*) AS n FROM (
          SELECT o_orderpriority AS p FROM orders
          EXCEPT ALL
          SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F')
        GROUP BY p""")),

    "rel_set_intersect_all" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").filter($"o_orderstatus" === "O")
          .select($"o_orderpriority".as("p"))
          .intersectAll(t(s, dir, "orders").filter($"o_orderstatus" === "P")
            .select($"o_orderpriority".as("p")))
          .groupBy($"p").agg(count(lit(1)).as("n"))
      },
      oracle = Some("""
        SELECT p, COUNT(*) AS n FROM (
          SELECT o_orderpriority AS p FROM orders WHERE o_orderstatus = 'O'
          INTERSECT ALL
          SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'P')
        GROUP BY p""")),

    // ------------------------------------------------------------------
    // Scalar families (SURVEY §2.7 north-star additions).
    "rel_scalar_string" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "part").select(
          $"p_partkey",
          upper($"p_name").as("name_upper"),
          lower($"p_brand").as("brand_lower"),
          substring($"p_name", 1, 5).as("name_pfx"),
          length($"p_name").as("name_len"),
          concat($"p_brand", lit("/"), $"p_type").as("brand_type"),
          regexp_replace($"p_name", "\\s+", "_").as("name_snake"),
          regexp_extract($"p_brand", "#(\\d+)", 1).as("brand_num"),
          $"p_name".contains("red").cast("int").as("is_red"))
      },
      oracle = Some("""
        SELECT p_partkey,
               UPPER(p_name) AS name_upper,
               LOWER(p_brand) AS brand_lower,
               SUBSTRING(p_name, 1, 5) AS name_pfx,
               LENGTH(p_name) AS name_len,
               p_brand || '/' || p_type AS brand_type,
               REGEXP_REPLACE(p_name, '\s+', '_', 'g') AS name_snake,
               REGEXP_EXTRACT(p_brand, '#(\d+)', 1) AS brand_num,
               CAST(CONTAINS(p_name, 'red') AS INT) AS is_red
        FROM part""")),

    "rel_scalar_date" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders").select(
          $"o_orderkey",
          year($"o_orderdate").as("yr"),
          month($"o_orderdate").as("mo"),
          dayofmonth($"o_orderdate").as("dom"),
          (dayofweek($"o_orderdate") - 1).as("dow_sun0"),
          date_format(date_trunc("month", $"o_orderdate"), "yyyy-MM-dd").as("month_start"),
          datediff(lit("2000-01-01").cast("date"), $"o_orderdate".cast("date"))
            .as("days_to_y2k"),
          date_format(add_months($"o_orderdate", 3), "yyyy-MM-dd").as("plus3mo"))
      },
      oracle = Some("""
        SELECT o_orderkey,
               CAST(YEAR(o_orderdate) AS INT) AS yr,
               CAST(MONTH(o_orderdate) AS INT) AS mo,
               CAST(DAYOFMONTH(o_orderdate) AS INT) AS dom,
               CAST(DAYOFWEEK(o_orderdate) AS INT) AS dow_sun0,
               strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
               CAST(DATEDIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT)
                 AS days_to_y2k,
               strftime(o_orderdate + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3mo
        FROM orders""")),

    "rel_scalar_math" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem").select(
          $"l_orderkey", $"l_linenumber",
          abs($"l_discount" - lit(0.05)).as("disc_dev"),
          round($"l_extendedprice", 1).as("price_r1"),
          floor($"l_quantity").cast("long").as("qty_floor"),
          ceil($"l_quantity").cast("long").as("qty_ceil"),
          sqrt($"l_extendedprice").as("price_sqrt"),
          pmod($"l_orderkey", lit(97L)).as("key_mod"),
          greatest($"l_tax", $"l_discount").as("max_rate"),
          least($"l_tax", $"l_discount").as("min_rate"))
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               ABS(l_discount - 0.05) AS disc_dev,
               ROUND(l_extendedprice, 1) AS price_r1,
               CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
               CAST(CEIL(l_quantity) AS BIGINT) AS qty_ceil,
               SQRT(l_extendedprice) AS price_sqrt,
               l_orderkey % 97 AS key_mod,
               GREATEST(l_tax, l_discount) AS max_rate,
               LEAST(l_tax, l_discount) AS min_rate
        FROM lineitem""")),

    "rel_scalar_case" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .withColumn("bucket",
            when($"o_totalprice" < 1000, "small")
              .when($"o_totalprice" < 10000, "medium")
              .when($"o_totalprice" < 100000, "large")
              .otherwise("huge"))
          .groupBy($"bucket")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      },
      oracle = Some(s"""
        SELECT CASE WHEN o_totalprice < 1000 THEN 'small'
                    WHEN o_totalprice < 10000 THEN 'medium'
                    WHEN o_totalprice < 100000 THEN 'large'
                    ELSE 'huge' END AS bucket,
               COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
        FROM orders GROUP BY 1""")),

    // JSON extraction over events.props.
    "rel_scalar_json" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(
            $"event_id",
            get_json_object($"props", "$.k").cast("int").as("k"))
          .filter($"k" > 50)
      },
      // json_valid guard: Spark's get_json_object null-propagates malformed
      // JSON while DuckDB's json_extract_string raises — the guard makes a
      // bad row a row-diff, not an opaque oracle exec error.
      oracle = Some("""
        SELECT event_id, k FROM (
          SELECT event_id,
                 CASE WHEN json_valid(props)
                      THEN CAST(json_extract_string(props, '$.k') AS INT) END AS k
          FROM events)
        WHERE k > 50""")),

    // ------------------------------------------------------------------
    // VARIANT semi-structured path (new in Spark 4): JSON parsed ONCE into
    // the binary variant encoding, fields then extracted with typed
    // variant_get — at 100 TB this replaces per-access string re-parsing
    // (get_json_object) with one decode feeding any number of typed reads.
    // try_parse_json null-propagates malformed input like the rest of the
    // engine's ANSI-safe parses. The oracle extracts the same typed values
    // from the raw JSON, so the variant path is value-checked end to end.
    "rel_scalar_variant" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "events")
          .select(expr("variant_get(try_parse_json(props), '$.k', 'int')").as("k"))
          .filter($"k".isNotNull)
          // % (not pmod): Spark's % follows the dividend's sign exactly like
          // DuckDB's, so the bucket spellings stay identical for negative k.
          .groupBy(($"k" % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), sum($"k").as("sum_k"))
      },
      oracle = Some("""
        SELECT k % 10 AS bucket, COUNT(*) AS n,
               CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT CASE WHEN json_valid(props)
                          THEN CAST(json_extract_string(props, '$.k') AS INT)
                     END AS k
              FROM events)
        WHERE k IS NOT NULL
        GROUP BY k % 10""")),

    // ------------------------------------------------------------------
    // Subqueries (scalar / IN / correlated) via Spark SQL.
    "rel_subq_scalar" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""
          SELECT o_orderkey, o_totalprice FROM orders
          WHERE o_totalprice > 1.5 * (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
            FROM orders)""")
      },
      oracle = Some(s"""
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > 1.5 * (
          SELECT ${sqlSum("o_totalprice")} / COUNT(*) FROM orders)""")),

    "rel_subq_in" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        Tables.load(s, dir, "nation").createOrReplaceTempView("nation")
        s.sql("""
          SELECT c_custkey, c_name FROM customer
          WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)""")
      },
      oracle = Some("""
        SELECT c_custkey, c_name FROM customer
        WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)""")),

    "rel_subq_correlated" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""
          SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
          WHERE o_totalprice > 1.5 * (
            SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*)
            FROM orders i WHERE i.o_custkey = o.o_custkey)""")
      },
      oracle = Some(s"""
        SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        WHERE o_totalprice > 1.5 * (
          SELECT ${sqlSum("o_totalprice")} / COUNT(*)
          FROM orders i WHERE i.o_custkey = o.o_custkey)""")),

    // ------------------------------------------------------------------
    // Nation-pair trade volume (TPC-H Q7 shape): two aliased joins of the
    // same dimension; bounded dims broadcast, one big shuffle.
    "rel_q7_nations_volume" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // Dim-reduction shape: fold each nation name into its OWN side
        // before the fact joins, so the fact never re-shuffles per dim.
        // The naive spelling (li ⋈ orders ⋈ customer ⋈ supplier, nations
        // last) re-shuffles the full-width 600M-row intermediate on
        // o_custkey and again on l_suppkey — measured 219 s at sf100 with
        // ZERO spill (pure exchange volume). Here: supplier+nation
        // collapses to a (s_suppkey, supp_nation) map — 2 narrow columns,
        // broadcastable two decades past where the raw supplier table
        // stops being so (at cluster scale, shuffle_hash-able) — and the
        // customer nation rides orders as (o_orderkey, cust_nation), so
        // lineitem shuffles ONCE, on l_orderkey.
        val n1 = t(s, dir, "nation").select($"n_nationkey".as("sk"), $"n_name".as("supp_nation"))
        val n2 = t(s, dir, "nation").select($"n_nationkey".as("ck"), $"n_name".as("cust_nation"))
        val suppNation = broadcast(
          t(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")
            .join(broadcast(n1), $"s_nationkey" === $"sk")
            .select($"s_suppkey", $"supp_nation"))
        val custNation = t(s, dir, "customer").select($"c_custkey", $"c_nationkey")
          .join(broadcast(n2), $"c_nationkey" === $"ck")
          .select($"c_custkey", $"cust_nation")
        val ordNation = t(s, dir, "orders").select($"o_orderkey", $"o_custkey")
          .join(custNation, $"o_custkey" === $"c_custkey")
          .select($"o_orderkey", $"cust_nation")
        t(s, dir, "lineitem")
          .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
            $"l_extendedprice", $"l_discount")
          .join(suppNation, $"l_suppkey" === $"s_suppkey")
          .join(ordNation, $"l_orderkey" === $"o_orderkey")
          .filter($"supp_nation" < $"cust_nation")
          .groupBy($"supp_nation", $"cust_nation", year($"l_shipdate").as("l_year"))
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
      },
      oracle = Some(s"""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(YEAR(l_shipdate) AS INT) AS l_year,
               ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name < n2.n_name
        GROUP BY 1, 2, 3"""),
      bench = true),

    // Large orders (TPC-H Q18 shape): HAVING-filtered aggregate feeding a
    // semi-join back against the fact table.
    "rel_q18_large_orders" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val big = t(s, dir, "lineitem")
          .groupBy($"l_orderkey")
          .agg(dsum($"l_quantity").as("sum_qty"))
          .filter($"sum_qty" > 150)
        t(s, dir, "orders")
          .join(big, $"o_orderkey" === big("l_orderkey"))
          .select($"o_orderkey", $"o_custkey", $"o_totalprice",
            date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
            $"sum_qty")
      },
      oracle = Some(s"""
        SELECT o_orderkey, o_custkey, o_totalprice,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, sum_qty
        FROM orders
        JOIN (SELECT l_orderkey, ${sqlSum("l_quantity")} AS sum_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING ${sqlSum("l_quantity")} > 150) b
          ON o_orderkey = b.l_orderkey""")),

    // ------------------------------------------------------------------
    // Pivot: one column per line status (fixed value list → no extra pass
    // to discover values, which matters when the input is large).
    "rel_pivot" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .pivot("l_linestatus", Seq("F", "O"))
          .agg(dsum($"l_quantity"))
      },
      oracle = Some(s"""
        SELECT l_returnflag,
               ${sqlSum("CASE WHEN l_linestatus = 'F' THEN l_quantity END")} AS F,
               ${sqlSum("CASE WHEN l_linestatus = 'O' THEN l_quantity END")} AS O
        FROM lineitem GROUP BY l_returnflag""")),

    // Array functions (north-star §2.7 addition). Array payloads carry only
    // stored values (no computed floats) so both engines round-trip the
    // exact same bits. Collection-typed outputs are serialized to canonical
    // CSV strings on BOTH engines — the differential gate canonicalizes rows
    // in pandas, which cannot sort ndarray cells, and a scalar string
    // carries the identical semantics under test (sort order + elements).
    "rel_scalar_arrays" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .withColumn("rates", array($"l_tax", $"l_discount"))
          .select(
            $"l_orderkey", $"l_linenumber",
            size($"rates").as("n"),
            array_max($"rates").as("max_rate"),
            array_contains($"rates", 0.0).as("has_zero"),
            array_join(expr("transform(sort_array(rates), x -> CAST(x AS STRING))"), ",")
              .as("sorted_rates"),
            element_at($"rates", 1).as("first_rate"))
      },
      oracle = Some("""
        SELECT l_orderkey, l_linenumber,
               CAST(len(rates) AS INT) AS n,
               list_max(rates) AS max_rate,
               list_contains(rates, 0.0) AS has_zero,
               array_to_string(list_sort(rates), ',') AS sorted_rates,
               rates[1] AS first_rate
        FROM (SELECT l_orderkey, l_linenumber, [l_tax, l_discount] AS rates
              FROM lineitem)""")),

    // Map functions over JSON-parsed event properties. Key set serialized
    // to a CSV string (document order on both engines) for the same
    // canonicalizer reason as rel_scalar_arrays.
    "rel_scalar_map" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .withColumn("m", from_json($"props", lit("map<string,int>")))
          .select(
            $"event_id",
            array_join(map_keys($"m"), ",").as("ks"),
            element_at($"m", "k").as("k_value"),
            size($"m").as("n_entries"))
      },
      // json_valid guard: DuckDB's json_keys RAISES on malformed JSON
      // (whole-query abort) while Spark's from_json null-propagates — the
      // same hardening rel_scalar_json carries.
      oracle = Some("""
        SELECT event_id,
               CASE WHEN json_valid(props)
                    THEN array_to_string(CAST(json_keys(props) AS VARCHAR[]), ',')
                    END AS ks,
               CASE WHEN json_valid(props)
                    THEN CAST(json_extract_string(props, '$.k') AS INT)
                    END AS k_value,
               CASE WHEN json_valid(props)
                    THEN CAST(len(json_keys(props)) AS INT)
                    END AS n_entries
        FROM events""")),

    // Histogram via width_bucket (fixed bounds — one pass, no sort).
    "rel_agg_histogram" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .groupBy(width_bucket($"o_totalprice", lit(0.0), lit(500000.0), lit(20))
            .as("bucket"))
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      },
      // DuckDB 1.0 has no width_bucket; the floor arithmetic below is its
      // exact definition for ascending bounds (0 below range, n+1 above).
      oracle = Some(s"""
        SELECT CASE WHEN o_totalprice < 0.0 THEN 0
                    WHEN o_totalprice >= 500000.0 THEN 21
                    ELSE CAST(floor(o_totalprice / 25000.0) AS BIGINT) + 1 END
                 AS bucket,
               COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
        FROM orders GROUP BY 1""")),

    // Equi-DEPTH histogram — equal ROW counts per bucket, data-dependent
    // boundaries (vs rel_agg_histogram's fixed-width buckets): the shape
    // statistics collection feeds a cost-based optimizer and min/max data
    // skipping. ntile assigns depth-balanced buckets in one sort-based
    // window pass; per-bucket min/max/count are the histogram. Ties on the
    // sort key are broken by the unique order key so both engines assign
    // identical buckets.
    "rel_agg_histogram_equidepth" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // Domain-adaptive selection instead of a global single-partition
        // ntile window (guide §2: the naive spelling moved ALL of orders
        // through one task — a scale-killer flagged in round 14; a first
        // stripe-rank rewrite was exact but 3× slower at sf0.1 on stage
        // count alone). ntile's buckets are fixed rank ranges once N is
        // known (q = N div 10, r = N mod 10; first r buckets get q+1
        // rows), and the sort key's FIRST component is o_totalprice, so a
        // bucket's lo/hi are the prices at its boundary RANKS — 20 order
        // statistics of the price multiset, independent of the
        // o_orderkey tiebreak. Those come from the rel_agg_quantiles
        // histogram-refinement machinery ([[Selection.valuesAtRanks]]):
        // three cheap columnar passes, no global sort, result assembled
        // locally (the rel_agg_mad shape).
        val o = t(s, dir, "orders").select($"o_totalprice")
        val probeN = o.count()
        val q = probeN / 10
        val r = probeN % 10
        val sizes = (1 to 10).map(b => if (b <= r) q + 1 else q)
        val hiRanks = sizes.scanLeft(0L)(_ + _).drop(1)
        val loRanks = hiRanks.zip(sizes).map { case (h, sz) => h - sz + 1 }
        val (vals, _) = Selection.valuesAtRanks(
          o, $"o_totalprice", (loRanks ++ hiRanks).filter(_ >= 1))
        import scala.jdk.CollectionConverters._
        val rows = (1 to 10).filter(b => sizes(b - 1) > 0).map { b =>
          org.apache.spark.sql.Row(
            b, sizes(b - 1), vals(loRanks(b - 1)), vals(hiRanks(b - 1)))
        }
        s.createDataFrame(rows.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("bucket",
              org.apache.spark.sql.types.IntegerType),
            org.apache.spark.sql.types.StructField("n",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("lo",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("hi",
              org.apache.spark.sql.types.DoubleType))))
      },
      oracle = Some("""
        SELECT bucket, COUNT(*) AS n,
               MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
        FROM (SELECT o_totalprice,
                     ntile(10) OVER (ORDER BY o_totalprice, o_orderkey)
                       AS bucket
              FROM orders)
        GROUP BY bucket""")),

    // Ordered string aggregation (deterministic: sorted distinct set).
    "rel_agg_stringagg" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(array_join(sort_array(collect_set($"l_linestatus")), ",")
            .as("statuses"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
                 AS statuses
        FROM lineitem GROUP BY l_returnflag""")),

    // Sketch aggregates (HLL distinct count, approximate percentile) next
    // to their exact counterparts. Raw sketch values are implementation-
    // specific (Spark HLL++ vs DuckDB's HLL), so the hash-compared output
    // carries the exact values plus error-bound BOOLEANS — each engine
    // checks its own sketch against its own exact value under the same ε.
    // Both engines' sketches are far inside ε (HLL++ rsd defaults to 0.05;
    // percentile_approx at accuracy 1000 is exact-ish at these group
    // sizes), so the booleans agree and the entry is oracle-green while
    // still failing loudly if either sketch degrades. ApproxAggSpec bounds
    // the raw relative error tighter on the Spark side.
    "rel_agg_approx" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val base = t(s, dir, "lineitem")
        // Sketch and exact-distinct passes kept SEPARATE: countDistinct
        // mixed with other aggregates plans an Expand (row count × number
        // of distinct groups) — three independent single-purpose passes
        // move fewer total rows and each stays in whole-stage codegen;
        // the joins are on 3-row outputs.
        val sketches = base
          .groupBy($"l_returnflag")
          .agg(
            approx_count_distinct($"l_partkey").as("approx_parts"),
            percentile_approx($"l_extendedprice", lit(0.5), lit(1000))
              .as("approx_median"))
          .join(
            base.groupBy($"l_returnflag")
              .agg(countDistinct($"l_partkey").as("exact_parts")),
            "l_returnflag")
        // Exact median the scale-correct way: Spark's `median` aggregate
        // buffers a value→count map per group (O(distinct) executor
        // memory — a 100 TB liability). A sort-based window selection is
        // spillable and one shuffle: rank within group, keep the middle
        // row(s), average them (even n → two rows, DuckDB's interpolation).
        val w = Window.partitionBy($"l_returnflag").orderBy($"l_extendedprice")
        val grp = Window.partitionBy($"l_returnflag")
        val medians = base.select($"l_returnflag", $"l_extendedprice")
          .withColumn("rn", row_number().over(w))
          .withColumn("cnt", count(lit(1)).over(grp))
          // Column `/` is double division — floor() for the 1-based middle
          // positions ⌊(n+1)/2⌋ and ⌊(n+2)/2⌋ (equal when n is odd).
          .filter($"rn" === floor(($"cnt" + 1) / 2) ||
            $"rn" === floor(($"cnt" + 2) / 2))
          .groupBy($"l_returnflag")
          .agg(avg($"l_extendedprice").as("exact_median"))
        sketches.join(medians, "l_returnflag")
          .select(
            $"l_returnflag", $"exact_parts", $"exact_median",
            (abs($"approx_parts" - $"exact_parts") <=
              $"exact_parts" * 0.1).as("parts_within_10pct"),
            (abs($"approx_median" - $"exact_median") <=
              abs($"exact_median") * 0.1).as("median_within_10pct"))
      },
      oracle = Some("""
        SELECT l_returnflag,
               COUNT(DISTINCT l_partkey) AS exact_parts,
               median(l_extendedprice) AS exact_median,
               abs(approx_count_distinct(l_partkey) - COUNT(DISTINCT l_partkey))
                 <= COUNT(DISTINCT l_partkey) * 0.1 AS parts_within_10pct,
               abs(approx_quantile(l_extendedprice, 0.5) - median(l_extendedprice))
                 <= abs(median(l_extendedprice)) * 0.1 AS median_within_10pct
        FROM lineitem GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // A from-scratch HyperLogLog, BIT-IDENTICAL across engines — the
    // portable complement of rel_agg_approx's engine-native HLL++ (whose
    // sketches can only be bound-checked). Registers are the MERGEABLE
    // form itself: per-(group, register) MAX of the rank — map-side
    // partials on a 1000-executor cluster combine by the same max, so the
    // sketch state is what actually shuffles: <= groups x 4096 rows
    // regardless of corpus size. rho comes from length(bin(w)) — integer
    // string length, no float log2 whose boundary rounding could differ —
    // and the estimator folds the register list in register order with
    // explicit DOUBLE casts everywhere (bare SQL decimal literals would
    // make one engine do DECIMAL math). Small-range branch = linear
    // counting; both the estimate and its relative error vs the exact
    // distinct are hash-compared, not bound-checked.
    "rel_hll_distinct" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import graft.functions.Hll
        val ev = t(s, dir, "events")
        val regs = ev.select($"event_type", expr(Hll.hpExpr("user_id")).as("hp"))
          .select($"event_type", expr(Hll.regExpr).as("reg"),
            expr(Hll.rhoExpr).as("rho"))
          .groupBy($"event_type", $"reg").agg(max($"rho").as("mrho"))
        val exact = ev.groupBy($"event_type")
          .agg(countDistinct($"user_id").as("exact_distinct"))
        Hll.estimate(regs, Seq("event_type")).join(exact, "event_type")
          .select($"event_type", $"n_registers", $"est_distinct",
            $"exact_distinct",
            (abs($"est_distinct" - $"exact_distinct".cast("double"))
              / $"exact_distinct".cast("double")).as("rel_err"))
      },
      oracle = {
        import graft.functions.Hll
        Some(s"""
        WITH ${Hll.oracleRegsCtes("event_type", "user_id", "events")},
        ${Hll.oracleEstimateCtes("event_type")},
        e AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
              FROM events GROUP BY event_type)
        SELECT hllest.event_type,
               CAST(n_present AS BIGINT) AS n_registers,
               est_distinct, exact_distinct,
               abs(est_distinct - CAST(exact_distinct AS DOUBLE))
                 / CAST(exact_distinct AS DOUBLE) AS rel_err
        FROM hllest JOIN e USING (event_type)""")
      }),

    // ------------------------------------------------------------------
    // Mergeable BLOOM membership sketch — the join-pruning companion of
    // the HLL cardinality sketch: 2^18 bits as 4096 BIGINT words built by
    // bit_or aggregation (bit_or IS the merge, so partials combine
    // map-side like any max), k=4 salted md5 positions per key. The build
    // side is the high-value-urgent customer set; the 4096-word table
    // then BROADCASTS onto the probe scan — the shape a 100 TB join
    // pre-filter uses (prune the big scan before the shuffle; Spark's own
    // runtime row-group filters are this move). The report counts, per
    // market segment, bloom-pass vs exact membership: false negatives are
    // impossible by construction (the spec asserts zero), false positives
    // are COUNTED exactly — the sketch's quality is measured, not
    // assumed. DuckDB's checked `<<` overflows at bit 63, so the oracle
    // branches to the min-long constant there; Spark's shiftleft has Java
    // semantics and needs no branch.
    "rel_bloom_prune" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // Build side: high-value urgent customers (~18% of the probe
        // population at every fixture scale) so the sketch prunes a real
        // non-member majority — bloom over ALL order-placers would be
        // vacuous here (TPC-H customers almost all have orders).
        val keys = t(s, dir, "orders")
          .filter($"o_orderpriority" === "1-URGENT" && $"o_totalprice" > 450000)
          .select($"o_custkey".as("k")).distinct()
        val four = expr("explode(sequence(0, 3))").as("i")
        val words = keys.select($"k", four)
          .select(expr(
            "md5_long(concat('b', CAST(i AS STRING), ':', CAST(k AS STRING))) & 262143")
            .as("p"))
          .groupBy(($"p" / 64).cast("bigint").as("w"))
          .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))"))
            .as("bm"))
        val probe = t(s, dir, "customer")
          .select($"c_custkey", $"c_mktsegment", four)
          .withColumn("p", expr(
            "md5_long(concat('b', CAST(i AS STRING), ':', CAST(c_custkey AS STRING))) & 262143"))
        val hits = probe
          .join(broadcast(words), (probe("p") / 64).cast("bigint") === words("w"), "left")
          .groupBy($"c_custkey", $"c_mktsegment")
          .agg(bool_and($"bm".isNotNull &&
            expr("shiftright(bm, CAST(p % 64 AS INT)) & 1") === 1).as("maybe"))
        val act = keys.withColumn("has_orders", lit(true))
        hits.join(act, hits("c_custkey") === act("k"), "left")
          .groupBy($"c_mktsegment")
          .agg(count(lit(1)).as("n_customers"),
            sum(when($"has_orders", 1L).otherwise(0L)).as("n_actual"),
            sum(when($"maybe", 1L).otherwise(0L)).as("n_maybe"),
            sum(when($"maybe" && $"has_orders".isNull, 1L).otherwise(0L))
              .as("n_false_pos"))
          .withColumn("fp_rate", when($"n_customers" === $"n_actual",
            lit(0.0)).otherwise($"n_false_pos".cast("double")
              / ($"n_customers" - $"n_actual").cast("double")))
      },
      oracle = Some("""
        WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders
                      WHERE o_orderpriority = '1-URGENT'
                        AND o_totalprice > 450000),
        pos AS (
          SELECT md5_number_upper('b' || CAST(i AS VARCHAR) || ':'
                   || CAST(k AS VARCHAR)) & 262143 AS p
          FROM keys, (SELECT i FROM generate_series(0, 3) t(i))),
        words AS (
          SELECT p // 64 AS w,
                 bit_or(CASE WHEN (p % 64) = 63
                             THEN CAST(-9223372036854775808 AS BIGINT)
                             ELSE CAST(1 AS BIGINT) << CAST(p % 64 AS INT) END)
                   AS bm
          FROM pos GROUP BY p // 64),
        probe AS (
          SELECT c.c_custkey, c.c_mktsegment,
                 md5_number_upper('b' || CAST(i AS VARCHAR) || ':'
                   || CAST(c.c_custkey AS VARCHAR)) & 262143 AS p
          FROM customer c, (SELECT i FROM generate_series(0, 3) t(i))),
        hits AS (
          SELECT c_custkey, c_mktsegment,
                 bool_and(bm IS NOT NULL AND
                   ((bm >> CAST(p % 64 AS INT)) & 1) = 1) AS maybe
          FROM probe LEFT JOIN words ON (p // 64) = w
          GROUP BY c_custkey, c_mktsegment)
        SELECT c_mktsegment, COUNT(*) AS n_customers,
               CAST(SUM(CASE WHEN a.k IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_actual,
               CAST(SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_maybe,
               CAST(SUM(CASE WHEN maybe AND a.k IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_false_pos,
               CASE WHEN COUNT(*) = CAST(SUM(CASE WHEN a.k IS NOT NULL
                                              THEN 1 ELSE 0 END) AS BIGINT)
                    THEN CAST(0.0 AS DOUBLE)
                    ELSE CAST(CAST(SUM(CASE WHEN maybe AND a.k IS NULL
                                        THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
                         / CAST(COUNT(*) - CAST(SUM(CASE WHEN a.k IS NOT NULL
                                                     THEN 1 ELSE 0 END) AS BIGINT)
                                AS DOUBLE) END AS fp_rate
        FROM hits h LEFT JOIN keys a ON a.k = h.c_custkey
        GROUP BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // The sketch APPLIED — runtime bloom pre-filter on a real fact⋈dim
    // join ([[BloomPrune]], round 11): the dim side (2M parts at sf10)
    // is past broadcast size, so the join shuffles both sides; the dim
    // KEY SET (p_size = 1, ~2 % of parts) still fits a 2^20-bit bitmap,
    // which is collected (128 KB) and applied to the lineitem scan as a
    // codegen'd literal-array filter BEFORE the shuffle — fact rows
    // shuffled drop to selectivity + FP (~2 % measured at sf10). The
    // ORACLE IS THE PLAIN JOIN: the bloom is semantics-transparent
    // (the shuffle-hash join verifies every survivor, false negatives
    // impossible by construction), so the hash match proves exactness
    // of the whole prune→join chain. The spec and the BLOOM_JOIN_sf10.json
    // history record the pruned-vs-unpruned row and wall-clock deltas;
    // `Bench rel_bloom_join`'s record gives its shuffle bytes and rows out.
    "rel_bloom_join" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val dim = t(s, dir, "part").filter($"p_size" === 1).select($"p_partkey")
        val words = BloomPrune.buildWords(dim)
        t(s, dir, "lineitem")
          .select($"l_partkey", $"l_extendedprice", $"l_discount",
            $"l_returnflag")
          .filter(BloomPrune.mayContain(words, $"l_partkey"))
          .join(dim.hint("shuffle_hash"), $"l_partkey" === $"p_partkey")
          .groupBy($"l_returnflag")
          .agg(count(lit(1)).as("n_items"),
            dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
              .as("revenue"))
      },
      oracle = Some(s"""
        SELECT l_returnflag, COUNT(*) AS n_items,
               ${sqlSum("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)")}
                 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_size = 1
        GROUP BY l_returnflag""")),

    // ------------------------------------------------------------------
    // The STREAMING maintainer of the same sketch: registers live in
    // flatMapGroupsWithState (one int per (group, register) — state is
    // O(groups x 4096) at any input volume), emitted append-only on each
    // RISE, so the sink's per-key max is the live sketch. The query
    // drains the events corpus in three waves (a restart per wave) and
    // reports the distinct-so-far estimates; the oracle computes the
    // BATCH sketch over the same corpus — stream state must equal batch
    // registers bit-for-bit, cross-engine. DistinctStreamSpec pins the
    // register-table equality, monotone emissions, and the empty-sink
    // early poll.
    "rel_hll_stream" -> QuerySpec(
      fn = (s, dir) => {
        import graft.streaming.DistinctStream
        val landing = graft.api.Scratch.dir("hll_landing")
        val out = graft.api.Scratch.dir("hll_out")
        val cp = graft.api.Scratch.dir("hll_cp")
        val ev = t(s, dir, "events")
          .select(col("event_type"), col("user_id"), col("event_id"))
        (0 to 2).foreach { wave =>
          ev.filter(pmod(col("event_id"), lit(3)) === wave)
            .select("event_type", "user_id")
            .coalesce(2).write.mode("append").parquet(landing)
          DistinctStream.runAvailableNow(s, landing, out, cp,
            maxFilesPerTrigger = 2)
        }
        DistinctStream.estimates(s, out)
      },
      oracle = {
        import graft.functions.Hll
        Some(s"""
        WITH ${Hll.oracleRegsCtes("event_type", "user_id", "events")},
        ${Hll.oracleEstimateCtes("event_type")}
        SELECT event_type, CAST(n_present AS BIGINT) AS n_registers,
               est_distinct
        FROM hllest""")
      }),

    // ------------------------------------------------------------------
    // Salted skew join ([[Skew.saltedJoin]]) proven result-equivalent to
    // the plain join: the salt re-keys the shuffle as (key, salt) so one
    // hot key spreads over n partitions, while every matching pair still
    // appears exactly once — the oracle is the UNSALTED join, so any
    // duplicate or dropped pair hash-fails. AQE's skew splitting covers
    // the common case at runtime; explicit salting is the tool when a
    // single key overwhelms even a split partition (sentinel keys at
    // 100 TB), and this entry pins its correctness.
    "rel_join_skew_salted" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // §2.5 widening: the salt + probe-side join work otherwise runs on
        // the fixture's 3 scan tasks (round-15 stage profile: one 0.9 s
        // 3-task stage; `Bench <query>`'s record re-measures). The salt stays row-deterministic and the join
        // result is salt-independent; no-op at cluster scale.
        val li = graft.api.Fanout.widenBy(
          t(s, dir, "lineitem").select($"l_orderkey", $"l_extendedprice"),
          $"l_orderkey")
        val ord = t(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
        Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 8)
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("total"))
      },
      oracle = Some(s"""
        SELECT o_orderpriority, COUNT(*) AS n,
               ${sqlSum("l_extendedprice")} AS total
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority""")),

    // Unpivot / melt (wide → long): the four lineitem measures become
    // (measure, value) rows — Spark's Expand-based unpivot, no shuffle of
    // its own; the only exchange is the 4-row summary aggregate on top.
    "rel_unpivot" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .unpivot(
            Array($"l_orderkey", $"l_linenumber"),
            Array($"l_quantity", $"l_extendedprice", $"l_discount", $"l_tax"),
            "measure", "value")
          .groupBy($"measure")
          .agg(count(lit(1)).as("n"), dsum($"value").as("total"),
            min($"value").as("min_v"), max($"value").as("max_v"))
      },
      oracle = Some(s"""
        SELECT measure, COUNT(*) AS n, ${sqlSum("value")} AS total,
               MIN(value) AS min_v, MAX(value) AS max_v
        FROM (
          UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity,
                          l_extendedprice, l_discount, l_tax FROM lineitem)
          ON l_quantity, l_extendedprice, l_discount, l_tax
          INTO NAME measure VALUE value)
        GROUP BY measure""")),

    // LATERAL correlated subquery (top-2 orders per customer): Catalyst
    // DECORRELATES the per-row subquery into a window + filter — one
    // shuffle on the correlation key, never a per-customer re-scan. The
    // oracle runs the same SQL natively in DuckDB.
    "rel_subq_lateral" -> QuerySpec(
      fn = (s, dir) => {
        Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
        Tables.load(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""
          SELECT c_custkey, o_orderkey, o_totalprice
          FROM customer,
          LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                   WHERE o_custkey = c_custkey
                   ORDER BY o_totalprice DESC, o_orderkey LIMIT 2)
          WHERE c_nationkey = 1""")
      },
      oracle = Some("""
        SELECT c_custkey, o_orderkey, o_totalprice
        FROM customer,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                 WHERE o_custkey = c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
        WHERE c_nationkey = 1""")),

    // ------------------------------------------------------------------
    // SCD Type-2 dimension build: each customer's order-priority history
    // becomes versioned rows with [valid_from, valid_to) intervals and an
    // is_current flag. Change detection (lag) and interval closing (lead)
    // share one partition key and sort order, so Catalyst plans a SINGLE
    // shuffle + sort for both window passes — per-key history, never a
    // self-join. At 100 TB the shuffle is on the dimension's natural key,
    // exactly how an incremental SCD2 merge would partition.
    "rel_scd2" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val changes = t(s, dir, "orders")
          .select($"o_custkey", $"o_orderpriority", $"o_orderdate", $"o_orderkey")
          .withColumn("prev", lag($"o_orderpriority", 1).over(w))
          .filter($"prev".isNull || $"prev" =!= $"o_orderpriority")
        changes
          .withColumn("valid_to_ts", lead($"o_orderdate", 1).over(w))
          .select(
            $"o_custkey",
            $"o_orderpriority".as("priority"),
            date_format($"o_orderdate", "yyyy-MM-dd HH:mm:ss").as("valid_from"),
            date_format($"valid_to_ts", "yyyy-MM-dd HH:mm:ss").as("valid_to"),
            $"valid_to_ts".isNull.as("is_current"))
      },
      oracle = Some("""
        WITH changes AS (
          SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
          FROM (
            SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
                   lag(o_orderpriority) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders)
          WHERE prev IS NULL OR prev <> o_orderpriority)
        SELECT o_custkey, o_orderpriority AS priority,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS valid_from,
               strftime(lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey), '%Y-%m-%d %H:%M:%S')
                 AS valid_to,
               (lead(o_orderdate) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate, o_orderkey) IS NULL) AS is_current
        FROM changes""")),

    // ------------------------------------------------------------------
    // CDC changelog apply (latest-wins upsert + tombstones): orders are
    // read as a change stream per customer — status 'F' is a delete, the
    // rest are upserts — and the materialized current state keeps only
    // each key's newest change when it isn't a tombstone. One shuffle on
    // the key, rank-1 filter; state size = |live keys|, independent of
    // changelog length — the shape a foreachBatch MERGE would take.
    "rel_cdc_apply" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate".desc, $"o_orderkey".desc)
        t(s, dir, "orders")
          .withColumn("op",
            when($"o_orderstatus" === "F", lit("delete")).otherwise(lit("upsert")))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" === 1 && $"op" === "upsert")
          .select($"o_custkey", $"o_totalprice", $"o_orderpriority")
      },
      oracle = Some("""
        SELECT o_custkey, o_totalprice, o_orderpriority FROM (
          SELECT o_custkey, o_totalprice, o_orderpriority,
                 CASE WHEN o_orderstatus = 'F' THEN 'delete'
                      ELSE 'upsert' END AS op,
                 row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
          FROM orders)
        WHERE rn = 1 AND op = 'upsert'""")),

    // ------------------------------------------------------------------
    // Z-order (Morton) data clustering: interleave the bits of two scan
    // dimensions (customer key × order day) so rows sorted by the
    // interleaved code land in file blocks whose min/max ranges are TIGHT
    // in BOTH dimensions — the data-layout prerequisite for min-max data
    // skipping at 100 TB (a lexicographic sort only prunes the leading
    // column). Each dimension is first range-NORMALIZED into the
    // interleave's 16-bit domain from a one-row stats aggregate
    // (broadcast): interleaving raw values would silently wrap any key
    // past 65535 under the spread mask and destroy locality at SF where
    // custkey outgrows 16 bits — the same discipline as Maintenance's
    // z-ordered writer. FLOOR before the BIGINT cast keeps both engines
    // identical (Spark CAST truncates, DuckDB CAST rounds). The bit
    // spread is five shift/mask steps per dimension, pure codegen
    // arithmetic; z >> 24 buckets into ≤256 blocks, the per-block stats
    // are the footer stats a writer would persist. Verified bit-for-bit
    // against the oracle's identical integer program.
    "rel_zorder" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val base = t(s, dir, "orders")
          .withColumn("day_nr",
            datediff(to_date($"o_orderdate"), to_date(lit("1992-01-01"))))
        val stats = base.agg(
          min($"o_custkey").as("ck_mn"), max($"o_custkey").as("ck_mx"),
          min($"day_nr").as("dy_mn"), max($"day_nr").as("dy_mx"))
        def norm(c: String, mn: String, mx: String): String =
          s"CAST(FLOOR((CAST($c AS DOUBLE) - $mn) * 65535.0" +
            s" / GREATEST(1, $mx - $mn)) AS BIGINT)"
        val zc = ZOrder.mortonSql(
          norm("o_custkey", "ck_mn", "ck_mx"), norm("day_nr", "dy_mn", "dy_mx"))
        base.crossJoin(broadcast(stats))
          .withColumn("z", expr(zc))
          .withColumn("block", expr("shiftright(z, 24)"))
          .groupBy($"block")
          .agg(count(lit(1)).as("n"),
            min($"o_custkey").as("min_cust"), max($"o_custkey").as("max_cust"),
            min($"day_nr").as("min_day"), max($"day_nr").as("max_day"))
      },
      oracle = Some {
        def norm(c: String, mn: String, mx: String): String =
          s"CAST(FLOOR((CAST($c AS DOUBLE) - $mn) * 65535.0" +
            s" / GREATEST(1, $mx - $mn)) AS BIGINT)"
        s"""
        SELECT (z >> 24) AS block, COUNT(*) AS n,
               MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
               MIN(day_nr) AS min_day, MAX(day_nr) AS max_day
        FROM (
          SELECT o_custkey, day_nr,
                 ${ZOrder.mortonDuckSql(
                   norm("o_custkey", "ck_mn", "ck_mx"),
                   norm("day_nr", "dy_mn", "dy_mx"))} AS z
          FROM (SELECT o_custkey,
                       date_diff('day', DATE '1992-01-01',
                                 CAST(o_orderdate AS DATE)) AS day_nr
                FROM orders)
          CROSS JOIN (
            SELECT MIN(o_custkey) AS ck_mn, MAX(o_custkey) AS ck_mx,
                   MIN(day_nr) AS dy_mn, MAX(day_nr) AS dy_mx
            FROM (SELECT o_custkey,
                         date_diff('day', DATE '1992-01-01',
                                   CAST(o_orderdate AS DATE)) AS day_nr
                  FROM orders)))
        GROUP BY block"""
      }),

    // ------------------------------------------------------------------
    // PK–FK join elimination (graft.plans.EliminatePkFkJoin): the query
    // JOINS nation but reads nothing from it beyond the key, so under the
    // declared constraints the optimizer rule deletes the join entirely —
    // the physical plan is a single aggregate over customer (asserted by
    // JoinEliminationSpec). The oracle RUNS the join in DuckDB, so the
    // differential check proves the elimination is semantics-preserving,
    // not just plan-pretty.
    "rel_join_eliminated" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .join(t(s, dir, "nation"), $"c_nationkey" === $"n_nationkey")
          .groupBy($"n_nationkey")
          .agg(count(lit(1)).as("n_customers"),
            dsum($"c_acctbal").as("total_bal"))
      },
      oracle = Some(s"""
        SELECT n_nationkey, COUNT(*) AS n_customers,
               ${sqlSum("c_acctbal")} AS total_bal
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_nationkey""")),

    // ------------------------------------------------------------------
    // Data profiling: null rate / distinct count / min / max for a set of
    // columns (the ingestion-time quality snapshot). Shape: one
    // groupBy-value pre-aggregation PER COLUMN, then a tiny final
    // aggregate over the distinct-value relation (n = Σcounts, n_null =
    // the null group's count, n_distinct = non-null group count, min/max
    // over group keys). Three single-column scans read the same bytes as
    // one three-column scan (columnar), and each feeds a codegen'd
    // single-key partial agg — measured 2.2× faster than the one-pass
    // Expand spelling (3× row replication through a 13-buffer aggregate),
    // and the map-side partials bound each shuffle at O(distinct values),
    // so the shape holds at 100 TB. For very wide profiles switch to one
    // approx_count_distinct pass instead.
    "rel_profile" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        def prof(src: Column, name: String)(fmt: Column => Column): DataFrame =
          li.groupBy(src.as("v")).agg(count(lit(1)).as("c"))
            .agg(
              sum($"c").as("n"),
              coalesce(sum(when($"v".isNull, $"c")), lit(0L)).as("n_null"),
              count($"v").as("n_distinct"),
              fmt(min($"v")).as("min_s"),
              fmt(max($"v")).as("max_s"))
            .select(lit(name).as("column"), $"n", $"n_null", $"n_distinct",
              $"min_s", $"max_s")
        prof($"l_quantity", "l_quantity")(
          _.cast("decimal(18,2)").cast("string"))
          .unionAll(prof($"l_returnflag", "l_returnflag")(identity))
          .unionAll(prof($"l_shipdate", "l_shipdate")(
            date_format(_, "yyyy-MM-dd HH:mm:ss")))
      },
      oracle = Some("""
        WITH a AS (
          SELECT COUNT(*) AS n,
                 CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS qty_nulls,
                 COUNT(DISTINCT l_quantity) AS qty_distinct,
                 CAST(MIN(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS qty_min,
                 CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS VARCHAR) AS qty_max,
                 CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS rf_nulls,
                 COUNT(DISTINCT l_returnflag) AS rf_distinct,
                 MIN(l_returnflag) AS rf_min,
                 MAX(l_returnflag) AS rf_max,
                 CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS sd_nulls,
                 COUNT(DISTINCT l_shipdate) AS sd_distinct,
                 strftime(MIN(l_shipdate), '%Y-%m-%d %H:%M:%S') AS sd_min,
                 strftime(MAX(l_shipdate), '%Y-%m-%d %H:%M:%S') AS sd_max
          FROM lineitem)
        SELECT 'l_quantity' AS "column", n, qty_nulls AS n_null,
               qty_distinct AS n_distinct, qty_min AS min_s, qty_max AS max_s
        FROM a
        UNION ALL
        SELECT 'l_returnflag', n, rf_nulls, rf_distinct, rf_min, rf_max FROM a
        UNION ALL
        SELECT 'l_shipdate', n, sd_nulls, sd_distinct, sd_min, sd_max FROM a""")),

    // ------------------------------------------------------------------
    // TPC-H Q6 analog (forecast revenue): the pure scan-aggregate — every
    // predicate pushes to parquet (PushedFilters carries all three), zero
    // joins, one partial-aggregated shuffle of a single row. The query
    // 100 TB engines are measured on for raw scan throughput.
    "rel_q6_forecast_revenue" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-01-01").cast("timestamp") &&
            $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
            $"l_quantity" < 24)
          .agg(dsum($"l_extendedprice" * $"l_discount").as("revenue"),
            count(lit(1)).as("n"))
      },
      oracle = Some(s"""
        SELECT ${sqlSum("l_extendedprice * l_discount")} AS revenue,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate < TIMESTAMP '1996-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")),

    // ------------------------------------------------------------------
    // TPC-H Q4 analog (late-shipping orders by priority): EXISTS spelled
    // as a LEFT SEMI join — one shuffle pair on the order key, the fact
    // side never duplicates however many lineitems match.
    "rel_q4_late_orders" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val late = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"l_shipdate" > $"o_orderdate")
          .select($"l_orderkey").distinct()
        t(s, dir, "orders")
          .join(late, $"o_orderkey" === $"l_orderkey", "left_semi")
          .groupBy($"o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
      },
      oracle = Some("""
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority""")),

    // ------------------------------------------------------------------
    // TPC-H Q15 analog (top supplier): per-supplier quarterly revenue vs
    // a scalar-subquery maximum. The revenue relation computes ONCE and
    // feeds both sides (self-referencing scalar subquery); revenue is
    // decimal-exact so the equality join against max() is safe on both
    // engines. Ties all surface — no arbitrary pick.
    "rel_q15_top_supplier" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val revenue = t(s, dir, "lineitem")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1996-04-01").cast("timestamp"))
          .groupBy($"l_suppkey")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount"))
            .as("total_revenue"))
        val top = revenue.agg(max($"total_revenue").as("mx"))
        t(s, dir, "supplier")
          .join(revenue, $"s_suppkey" === $"l_suppkey")
          .join(broadcast(top), $"total_revenue" === $"mx")
          .select($"s_suppkey", $"s_name", $"total_revenue")
      },
      oracle = Some(s"""
        WITH revenue AS (
          SELECT l_suppkey,
                 ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-04-01'
          GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)""")),

    // ------------------------------------------------------------------
    // TPC-H Q12 analog (priority buckets per line status): the join
    // feeds conditional counts — urgent/high vs the rest — aggregated in
    // the same pass, no per-bucket re-scan.
    "rel_q12_priority_buckets" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .filter($"l_shipdate" >= lit("1996-01-01").cast("timestamp") &&
            $"l_shipdate" < lit("1997-01-01").cast("timestamp"))
          .groupBy($"l_linestatus")
          .agg(
            sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 1)
              .otherwise(0)).cast("long").as("high_line_count"),
            sum(when($"o_orderpriority".isin("1-URGENT", "2-HIGH"), 0)
              .otherwise(1)).cast("long").as("low_line_count"))
      },
      oracle = Some("""
        SELECT l_linestatus,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus""")),

    // ------------------------------------------------------------------
    // Exact grouped quantiles (nearest-rank p50/p90/p99): one sort-based
    // window pass — no per-group value buffering (the same spill-safe
    // shape as the exact median), ranks computed from the SAME double
    // expression on both engines so the selected rows agree exactly.
    // GROUPING indicators over a rollup — the standard-SQL way a client
    // tells subtotal rows from genuine NULL groups. Per-column grouping()
    // flags (0 = grouped, 1 = aggregated away) rather than the packed
    // grouping_id bitmask, whose bit order is engine-specific; the
    // per-column spelling is identical in both dialects.
    "rel_agg_grouping_flags" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "orders")
          .rollup($"o_orderstatus", $"o_orderpriority")
          .agg(
            grouping($"o_orderstatus").cast("int").as("g_status"),
            grouping($"o_orderpriority").cast("int").as("g_priority"),
            count(lit(1)).as("n"), dsum($"o_totalprice").as("total"))
      },
      oracle = Some(s"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
               COUNT(*) AS n, ${sqlSum("o_totalprice")} AS total
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""")),

    // Declarative data-quality expectations (the dbt-tests /
    // great-expectations shape): each check is one declarative count —
    // referential integrity as an ANTI join (never a NOT IN subquery per
    // row), domain and nullability checks as conditional aggregates
    // sharing one scan per table — and the report is their union. At
    // 100 TB each check is a single pushdown-friendly pass; none
    // materializes violating rows (violation SAMPLES would be a separate
    // LIMIT query).
    "rel_dq_checks" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
        val orphans = li.select($"l_orderkey")
          .join(t(s, dir, "orders").select($"o_orderkey"),
            $"l_orderkey" === $"o_orderkey", "left_anti")
          .agg(count(lit(1)).as("n_violations"),
            lit("lineitem.l_orderkey -> orders").as("check_name"))
        val liChecks = li.agg(
          sum(when($"l_quantity" <= 0, 1L).otherwise(0L)).as("neg_qty"),
          sum(when($"l_extendedprice" <= 0, 1L).otherwise(0L)).as("neg_price"),
          sum(when($"l_returnflag".isNull, 1L).otherwise(0L)).as("null_flag"))
        val custChecks = t(s, dir, "customer").agg(
          sum(when($"c_custkey".isNull, 1L).otherwise(0L)).as("null_key"),
          sum(when(length($"c_name") === 0, 1L).otherwise(0L)).as("empty_name"))
        orphans.select($"check_name", $"n_violations")
          .unionAll(liChecks.select(lit("lineitem.quantity > 0").as("check_name"), $"neg_qty"))
          .unionAll(liChecks.select(lit("lineitem.extendedprice > 0").as("check_name"), $"neg_price"))
          .unionAll(liChecks.select(lit("lineitem.returnflag not null").as("check_name"), $"null_flag"))
          .unionAll(custChecks.select(lit("customer.custkey not null").as("check_name"), $"null_key"))
          .unionAll(custChecks.select(lit("customer.name nonempty").as("check_name"), $"empty_name"))
          .withColumn("passed", $"n_violations" === 0L)
      },
      oracle = Some("""
        WITH orphans AS (
          SELECT 'lineitem.l_orderkey -> orders' AS check_name,
                 COUNT(*) AS n_violations
          FROM lineitem WHERE NOT EXISTS (
            SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)),
        li AS (
          SELECT
            CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_qty,
            CAST(SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg_price,
            CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_flag
          FROM lineitem),
        cu AS (
          SELECT
            CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_key,
            CAST(SUM(CASE WHEN length(c_name) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS empty_name
          FROM customer),
        rows_out AS (
          SELECT check_name, n_violations FROM orphans
          UNION ALL SELECT 'lineitem.quantity > 0', neg_qty FROM li
          UNION ALL SELECT 'lineitem.extendedprice > 0', neg_price FROM li
          UNION ALL SELECT 'lineitem.returnflag not null', null_flag FROM li
          UNION ALL SELECT 'customer.custkey not null', null_key FROM cu
          UNION ALL SELECT 'customer.name nonempty', empty_name FROM cu)
        SELECT check_name, n_violations, n_violations = 0 AS passed
        FROM rows_out""")),

    // Deterministic MODE: built-in mode() breaks frequency ties by
    // partition order in Spark and arbitrarily in DuckDB — both engines
    // here spell the tie explicitly (highest count, then smallest value),
    // as value-count aggregation + rank filter. Two shuffles, both on
    // aggregated rows.
    "rel_agg_mode" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .groupBy($"l_returnflag", $"l_quantity")
          .agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(Window
            .partitionBy($"l_returnflag").orderBy($"cnt".desc, $"l_quantity")))
          .filter($"rn" === 1)
          .select($"l_returnflag", $"l_quantity".as("modal_qty"),
            $"cnt".as("n_occurrences"))
      },
      oracle = Some("""
        WITH vc AS (
          SELECT l_returnflag, l_quantity, COUNT(*) AS cnt
          FROM lineitem GROUP BY 1, 2),
        r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_returnflag
                   ORDER BY cnt DESC, l_quantity) AS rn
          FROM vc)
        SELECT l_returnflag, l_quantity AS modal_qty, cnt AS n_occurrences
        FROM r WHERE rn = 1""")),

    // Median absolute deviation — the robust dispersion companion to
    // rel_agg_winsorized. The oracle (below) SPECIFIES the semantics as the
    // exact ceil-rank lower median with the (l_orderkey, l_linenumber)
    // tiebreak; the Spark side SELECTS the same value by two-phase
    // distributed selection instead of a per-group total sort (which runs
    // at parallelism = |groups| = 2): a bounded histogram whose bucket
    // width derives from each group's observed min/max (≤4096
    // buckets/group at ANY value domain — [[Selection]]) locates the
    // bucket holding rank ceil(n/2), then only that bucket's handful of
    // rows is sorted for the exact value. Tiebreaks can't change the SELECTED
    // VALUE (the k-th element's value is the smallest v with cdf(v) ≥ k),
    // so the rank-spelling oracle still matches bit-for-bit. Same
    // machinery again for the deviation median; four cheap columnar scans,
    // no group-wide sort anywhere — the shape that survives 100 TB.
    "rel_agg_mad" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // Exact per-group lower median via [[Selection.groupMedian]] —
        // domain-adaptive two-phase selection (bucket width derives from
        // each group's observed min/max, so driver rows are bounded by
        // construction, not by the value range; the pre-round-11 fixed
        // 64-wide buckets would have collected millions of rows on a
        // wide-domain column like epoch micros). Driver output is
        // O(groups) — the k-means-centroid pattern — which buys literal
        // CASE predicates in the follow-up scans instead of
        // broadcast-join jobs. Tiebreaks can't change the SELECTED VALUE
        // (the k-th element's value is the smallest v with cdf(v) ≥ k),
        // so value-only ordering suffices here.
        def caseOf(m: Map[String, Double]): Column =
          m.foldLeft(lit(Double.NaN)) { case (acc, (g, v)) =>
            when($"l_linestatus" === g, lit(v)).otherwise(acc)
          }
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus", $"l_extendedprice")
        // ONE domain job serves both medians: the deviation |v − med| is
        // bounded by the price range analytically, so the second
        // selection needs no min/max scan of the derived column — 5 jobs
        // total (domain, 2× histogram, 2× residual).
        val r = li.agg(min($"l_extendedprice"), max($"l_extendedprice"))
          .collect()(0)
        val (lo, hi) = (r.getDouble(0), r.getDouble(1))
        val med = Selection.groupMedian(li, "l_linestatus",
          $"l_extendedprice", domain = Some((lo, hi)))
        val mad = Selection.groupMedian(li, "l_linestatus",
          abs($"l_extendedprice" - caseOf(med)),
          domain = Some((0.0, hi - lo)))
        // Assemble the 2-row result locally — no final join.
        import scala.jdk.CollectionConverters._
        val rows = med.keys.toSeq.sorted.map(g =>
          org.apache.spark.sql.Row(g, med(g), mad(g)))
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
          Seq(
            org.apache.spark.sql.types.StructField("l_linestatus",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("median",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("mad",
              org.apache.spark.sql.types.DoubleType))))
      },
      oracle = Some("""
        WITH base AS (
          SELECT l_linestatus, l_extendedprice, l_orderkey, l_linenumber
          FROM lineitem),
        r1 AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_linestatus
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY l_linestatus) AS n
          FROM base),
        med AS (
          SELECT l_linestatus AS g, MAX(l_extendedprice) AS med
          FROM r1 WHERE rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT) GROUP BY 1),
        dev AS (
          SELECT b.l_linestatus, m.med,
                 ABS(b.l_extendedprice - m.med) AS dv,
                 b.l_orderkey, b.l_linenumber
          FROM base b JOIN med m ON b.l_linestatus = m.g),
        r2 AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY l_linestatus
                   ORDER BY dv, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY l_linestatus) AS n
          FROM dev)
        SELECT l_linestatus, MAX(med) AS median, MAX(dv) AS mad
        FROM r2 WHERE rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
        GROUP BY l_linestatus""")),

    // Benford first-digit screening (audit/fraud primitive): observed
    // leading-digit shares of the price column vs the Benford expectation.
    // Digits from integer string ops (no float log on the data path);
    // expected shares are compile-time double literals injected into BOTH
    // engines' texts, so the comparison column is bit-identical.
    "rel_benford" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val expect = (1 to 9).map(d => (d, math.log10(1.0 + 1.0 / d)))
        val expectCol = expect.tail.foldLeft(
          when($"digit" === 1, lit(expect.head._2))) {
          case (acc, (d, p)) => acc.when($"digit" === d, lit(p))
        }
        val tot = Window.partitionBy()
        t(s, dir, "lineitem")
          .select(substring(floor($"l_extendedprice").cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy($"digit").agg(count(lit(1)).as("n"))
          .withColumn("share", $"n".cast("double") /
            sum($"n").over(tot).cast("double"))
          .select($"digit", $"n", $"share", expectCol.as("benford_share"))
      },
      oracle = {
        val cases = (1 to 9).map(d =>
          s"WHEN digit = $d THEN ${math.log10(1.0 + 1.0 / d)}").mkString(" ")
        Some(s"""
        WITH d AS (
          SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
                   AS VARCHAR), 1, 1) AS INT) AS digit
          FROM lineitem),
        c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY 1)
        SELECT digit, n,
               CAST(n AS DOUBLE) / CAST(SUM(n) OVER () AS DOUBLE) AS share,
               CASE $cases END AS benford_share
        FROM c""")
      }),

    // ABC (Pareto) classification: parts ranked by revenue, cumulative
    // revenue share in DECIMAL running sums (order-independent exactness —
    // a double prefix sum would tie correctness to accumulation order),
    // classes cut at 80% / 95%. The ranking carries a full tiebreak; the
    // running frame is rows-based over aggregated parts, never the fact
    // table.
    // Gini coefficient of per-customer spend concentration within each
    // nation — the inequality metric behind market-concentration
    // dashboards, via the rank formula G = 2·Σ(rank·x)/(n·Σx) − (n+1)/n
    // over spend ranked ascending. Both Σ terms accumulate in
    // DECIMAL(30,6) (order-independent — the rel_abc_analysis contract,
    // which also pins the double→decimal cast parity), ranks are exact
    // row_numbers with a full tie-break, and the closing formula is one
    // identical double expression on both engines. One join + two
    // shuffles (customer rollup, nation rollup); ranks come from a
    // per-nation window, never a global sort.
    "rel_gini" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val spend = t(s, dir, "orders")
          .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .groupBy($"c_nationkey", $"c_custkey")
          .agg(dsum($"o_totalprice").as("x"))
        val w = Window.partitionBy($"c_nationkey").orderBy($"x", $"c_custkey")
        val nd = $"n_customers".cast("double")
        spend
          .withColumn("rn", row_number().over(w).cast("long"))
          .groupBy($"c_nationkey")
          .agg(
            count(lit(1)).as("n_customers"),
            sum($"x".cast(DecimalType(30, 6)) * $"rn").as("num"),
            sum($"x".cast(DecimalType(30, 6))).as("den"))
          .select($"c_nationkey", $"n_customers",
            ((lit(2.0) * $"num".cast("double")) /
              (nd * $"den".cast("double")) -
              (nd + lit(1.0)) / nd).as("gini"))
      },
      oracle = Some(s"""
        WITH spend AS (
          SELECT c_nationkey, c_custkey, ${sqlSum("o_totalprice")} AS x
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2),
        r AS (
          SELECT c_nationkey, x,
                 CAST(row_number() OVER (PARTITION BY c_nationkey
                   ORDER BY x, c_custkey) AS BIGINT) AS rn
          FROM spend),
        a AS (
          SELECT c_nationkey, COUNT(*) AS n_customers,
                 SUM(CAST(x AS DECIMAL(30,6)) * rn) AS num,
                 SUM(CAST(x AS DECIMAL(30,6))) AS den
          FROM r GROUP BY 1)
        SELECT c_nationkey, n_customers,
               (2.0 * CAST(num AS DOUBLE)) /
                 (CAST(n_customers AS DOUBLE) * CAST(den AS DOUBLE)) -
                 (CAST(n_customers AS DOUBLE) + 1.0) /
                 CAST(n_customers AS DOUBLE) AS gini
        FROM a""")),

    // Skyline (Pareto frontier): parts not strictly dominated on
    // (size ↓, price ↓) — the preference-query operator family. The
    // scalable shape is NOT the quadratic all-pairs domination test: the
    // fact stream reduces to a per-size minimum-price GRID (one shuffle,
    // |distinct sizes| rows — a bounded integer domain), a cumulative min
    // over the tiny grid supplies "cheapest at any strictly smaller
    // size", and the frontier membership test is a broadcast join back.
    // A part survives iff nothing strictly smaller is at-most-its-price
    // and nothing at its size is strictly cheaper (exact ties share the
    // frontier — neither dominates). Prices compared in integer CENTS
    // (decimal×100 is exact in both engines). The global window runs
    // over ≤|size domain| rows, never the fact table.
    "rel_skyline" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val p = t(s, dir, "part").select($"p_partkey",
          $"p_size".cast("long").as("size"),
          ($"p_retailprice" * 100).cast("long").as("price_c"))
        val grid = p.groupBy($"size").agg(min($"price_c").as("min_eq"))
        val wLt = Window.orderBy($"size")
          .rowsBetween(Window.unboundedPreceding, -1)
        val g2 = grid.withColumn("min_lt", min($"min_eq").over(wLt))
        p.join(broadcast(g2), "size")
          .filter(($"min_lt".isNull || $"min_lt" > $"price_c") &&
            $"price_c" === $"min_eq")
          .select($"p_partkey", $"size", $"price_c")
      },
      oracle = Some("""
        WITH p AS (
          SELECT p_partkey, CAST(p_size AS BIGINT) AS size,
                 CAST(p_retailprice * 100 AS BIGINT) AS price_c
          FROM part),
        grid AS (
          SELECT size, MIN(price_c) AS min_eq FROM p GROUP BY 1),
        g2 AS (
          SELECT size, min_eq,
                 MIN(min_eq) OVER (ORDER BY size ROWS BETWEEN
                   UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_lt
          FROM grid)
        SELECT p_partkey, size, price_c
        FROM p JOIN g2 USING (size)
        WHERE (min_lt IS NULL OR min_lt > price_c)
          AND price_c = min_eq""")),

    "rel_abc_analysis" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // Two-pass distributed prefix sum instead of TWO global
        // single-partition windows (the cumulative sum AND the grand
        // total both moved every part's revenue row through one task —
        // flagged in round 14 as a 100 TB scale-killer): value-range
        // stripes (monotone in the sort key revenue DESC — ties share a
        // stripe), per-stripe local prefix sums, stripe totals folded
        // into broadcast offsets over ≤ 8 193 stripe rows
        // (constant-bounded window). Decimal addition is associative, so
        // off + local prefix ≡ the global prefix BIT-FOR-BIT; the grand
        // total becomes a plain aggregate. 8 192 stripes: offsets table
        // broadcasts in KBs while a stripe stays ≤ N/stripes-ish rows —
        // per-stripe windows, never a group-global one.
        val stripes = 8192
        val dec = DecimalType(30, 6)
        val rev = t(s, dir, "lineitem")
          .groupBy($"l_partkey")
          .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
        val mm = rev.agg(min($"revenue").as("mn"), max($"revenue").as("mx"))
        val striped = rev.crossJoin(broadcast(mm))
          .withColumn("cb",
            when($"mn" === $"mx", lit(1L))
              .otherwise(width_bucket($"revenue", $"mn", $"mx", lit(stripes))))
          .select($"l_partkey", $"revenue", $"cb")
        val sums = striped.groupBy($"cb")
          .agg(sum($"revenue".cast(dec)).as("srev"))
        // Global order is revenue DESC, so offsets accumulate from the
        // HIGHEST stripe down (strictly-before frame).
        val wOff = Window.orderBy($"cb".desc)
          .rowsBetween(Window.unboundedPreceding, -1)
        val offs = sums
          .withColumn("off",
            coalesce(sum($"srev").over(wOff), expr("CAST(0 AS DECIMAL(38,6))")))
          .crossJoin(broadcast(
            striped.agg(sum($"revenue".cast(dec)).cast("double").as("total"))))
          .select($"cb", $"off", $"total")
        val wIn = Window.partitionBy($"cb")
          .orderBy($"revenue".desc, $"l_partkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        striped
          .withColumn("lcum", sum($"revenue".cast(dec)).over(wIn))
          .join(broadcast(offs), "cb")
          .withColumn("cum", ($"off" + $"lcum").cast("double"))
          .select($"l_partkey", $"revenue",
            when($"cum" / $"total" <= 0.8, "A")
              .when($"cum" / $"total" <= 0.95, "B")
              .otherwise("C").as("abc_class"))
      },
      oracle = Some(s"""
        WITH rev AS (
          SELECT l_partkey,
                 ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
          FROM lineitem GROUP BY 1),
        c AS (
          SELECT l_partkey, revenue,
                 CAST(SUM(CAST(revenue AS DECIMAL(30,6))) OVER (
                   ORDER BY revenue DESC, l_partkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cum,
                 CAST(SUM(CAST(revenue AS DECIMAL(30,6))) OVER () AS DOUBLE)
                   AS total
          FROM rev)
        SELECT l_partkey, revenue,
               CASE WHEN cum / total <= 0.8 THEN 'A'
                    WHEN cum / total <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c""")),

    // Winsorized robust aggregation: per-group p05/p95 bounds by exact
    // rank (the same deterministic ceil-rank spelling as
    // rel_agg_quantiles), broadcast back to the fact stream, values
    // clamped, then exact-decimal re-aggregation. Two passes over the
    // fact table and a broadcast of O(|groups|) bounds — the standard
    // outlier-robust metric pipeline at any scale; no sort of the full
    // table, no collect.
    "rel_agg_winsorized" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        // Per-group p05/p95 via the domain-adaptive two-phase selection
        // (round 15 — the machinery rel_agg_quantiles/rel_agg_mad already
        // use, retired here too): the window spelling row_numbered every
        // fact row inside a per-group sort, so parallelism was |groups| =
        // 3 at ANY scale — the per-group single-task class of scale
        // killer. Selection is BY VALUE (the rank-k price is the k-th
        // order statistic of the price multiset, independent of the
        // orderkey/linenumber tie-break), so ceil-rank groupQuantiles
        // returns bit-identical bounds; a first stripe-scheme rewrite
        // measured SLOWER than the window at sf0.1 (1.95 → 2.62 s; four
        // fact passes) and was replaced by this one.
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus", $"l_extendedprice")
        val (sel, _) = Selection.groupQuantiles(
          li, "l_linestatus", $"l_extendedprice", Seq(0.05, 0.95))
        val boundRows = sel.keys.map(_._1).toSeq.distinct.sorted.map { g =>
          org.apache.spark.sql.Row(g, sel((g, 0.05)), sel((g, 0.95)))
        }
        import scala.jdk.CollectionConverters._
        val bounds = s.createDataFrame(boundRows.asJava,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("g",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("lo",
              org.apache.spark.sql.types.DoubleType),
            org.apache.spark.sql.types.StructField("hi",
              org.apache.spark.sql.types.DoubleType))))
        t(s, dir, "lineitem")
          .join(broadcast(bounds), $"l_linestatus" === $"g")
          .select($"l_linestatus", $"lo", $"hi",
            least(greatest($"l_extendedprice", $"lo"), $"hi").as("v"),
            ($"l_extendedprice" < $"lo").cast("long").as("cl"),
            ($"l_extendedprice" > $"hi").cast("long").as("ch"))
          .groupBy($"l_linestatus")
          .agg(
            (dsum($"v") / count($"v")).as("winsorized_mean"),
            sum($"cl").as("n_clamped_lo"),
            sum($"ch").as("n_clamped_hi"))
      },
      oracle = Some(s"""
        WITH ranked AS (
          SELECT l_linestatus, l_extendedprice,
                 ROW_NUMBER() OVER (PARTITION BY l_linestatus
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY l_linestatus) AS n
          FROM lineitem),
        bounds AS (
          SELECT l_linestatus AS g,
                 MAX(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                          THEN l_extendedprice END) AS lo,
                 MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                          THEN l_extendedprice END) AS hi
          FROM ranked
          WHERE rn = CAST(CEIL(0.05 * n) AS BIGINT)
             OR rn = CAST(CEIL(0.95 * n) AS BIGINT)
          GROUP BY 1)
        SELECT l_linestatus,
               ${sqlSum("LEAST(GREATEST(l_extendedprice, lo), hi)")} /
                 COUNT(*) AS winsorized_mean,
               CAST(SUM(CAST(l_extendedprice < lo AS BIGINT)) AS BIGINT)
                 AS n_clamped_lo,
               CAST(SUM(CAST(l_extendedprice > hi AS BIGINT)) AS BIGINT)
                 AS n_clamped_hi
        FROM lineitem JOIN bounds ON l_linestatus = g
        GROUP BY l_linestatus""")),

    // Exact multi-quantile per group, re-spelled (round 11) through the
    // same domain-adaptive two-phase selection as rel_agg_mad: the
    // previous window spelling row_numbered EVERY fact row inside a
    // per-group sort — parallelism = |groups| = 2 and the hot partition
    // is the whole group, the shape that dies at 100 TB. Now: domain
    // pass → ≤4096-bucket histogram (driver cumsum) → residual scan of
    // only the 3 target buckets. The ceil-rank ORACLE is unchanged —
    // selection is by value, so the sort spelling and the histogram
    // spelling pick the identical element.
    "rel_agg_quantiles" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus", $"l_extendedprice")
        val qs = Seq(0.5, 0.9, 0.99)
        val (sel, _) = Selection.groupQuantiles(
          li, "l_linestatus", $"l_extendedprice", qs)
        import scala.jdk.CollectionConverters._
        val rows = sel.keys.map(_._1).toSeq.distinct.sorted.map { g =>
          org.apache.spark.sql.Row(g, sel((g, 0.5)), sel((g, 0.9)), sel((g, 0.99)))
        }
        s.createDataFrame(rows.asJava, org.apache.spark.sql.types.StructType(
          Seq("l_linestatus" -> org.apache.spark.sql.types.StringType,
            "p50" -> org.apache.spark.sql.types.DoubleType,
            "p90" -> org.apache.spark.sql.types.DoubleType,
            "p99" -> org.apache.spark.sql.types.DoubleType)
            .map { case (n, t0) =>
              org.apache.spark.sql.types.StructField(n, t0) }))
      },
      oracle = Some("""
        SELECT l_linestatus,
               MAX(CASE WHEN rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
                        THEN l_extendedprice END) AS p50,
               MAX(CASE WHEN rn = CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT)
                        THEN l_extendedprice END) AS p90,
               MAX(CASE WHEN rn = CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
                        THEN l_extendedprice END) AS p99
        FROM (
          SELECT l_linestatus, l_extendedprice,
                 row_number() OVER (PARTITION BY l_linestatus
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
                 COUNT(*) OVER (PARTITION BY l_linestatus) AS n
          FROM lineitem)
        WHERE rn = CAST(CEIL(CAST(0.5 AS DOUBLE) * n) AS BIGINT)
           OR rn = CAST(CEIL(CAST(0.9 AS DOUBLE) * n) AS BIGINT)
           OR rn = CAST(CEIL(CAST(0.99 AS DOUBLE) * n) AS BIGINT)
        GROUP BY l_linestatus""")),

    // ------------------------------------------------------------------
    // Mergeable CDF sketch with DETERMINISTIC, oracle-checked semantics —
    // the one-pass approximate companion of the exact [[Selection]] path
    // (and the transparent alternative to approx_percentile, whose GK
    // internals can only be bound-checked, never hash-matched): the
    // per-(group, bucket) count table IS the sketch state — counts merge
    // by SUM, so partials combine map-side on 1000 executors and two
    // shards' sketches merge into the corpus sketch exactly (spec-pinned
    // property). Quantiles interpolate linearly inside the target bucket,
    // so the value error is bounded by ONE bucket width by construction;
    // every step (domain → 512-bucket histogram → windowed cumsum over
    // ≤513 rows per group → interpolation) is exact-int + fixed-shape
    // double arithmetic the DuckDB oracle reproduces bit-for-bit. The
    // cumsum window rides over the BUCKET table (≤513 rows/group), never
    // the fact table — the full-sort trap rel_agg_quantiles retired.
    "rel_cdf_sketch" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus".as("g"), $"l_extendedprice".as("v"))
        val stats = li.agg(min($"v").as("mn"), max($"v").as("mx"))
        val binned = li.crossJoin(broadcast(stats))
          .withColumn("w", when($"mx" === $"mn", lit(1.0))
            .otherwise(($"mx" - $"mn") / lit(512.0)))
          .withColumn("bkt", floor(($"v" - $"mn") / $"w").cast("long"))
        val hist = binned.groupBy($"g", $"bkt")
          .agg(count(lit(1)).as("cnt"), max($"mn").as("mn"), max($"w").as("w"))
        val ord = Window.partitionBy($"g").orderBy($"bkt")
        val cum = hist
          .withColumn("cum", sum($"cnt").over(ord))
          .withColumn("n", sum($"cnt").over(Window.partitionBy($"g")))
        def estOf(q: Double): Column = {
          val k = ceil(lit(q) * $"n")
          max(when($"cum" >= k && ($"cum" - $"cnt") < k,
            $"mn" + $"w" * ($"bkt".cast("double") +
              (k - ($"cum" - $"cnt")).cast("double") / $"cnt".cast("double"))))
        }
        cum.groupBy($"g")
          .agg(max($"n").as("n"), max($"w").as("bucket_width"),
            estOf(0.5).as("p50_est"), estOf(0.9).as("p90_est"),
            estOf(0.99).as("p99_est"))
          .select($"g".as("l_linestatus"), $"n", $"bucket_width",
            $"p50_est", $"p90_est", $"p99_est")
      },
      oracle = Some(cdfSketchOracleSql)),

    // The same sketch as a REUSABLE registered aggregate: the SQL door
    // `cdf_sketch(v, lo, w)` ([[CdfSketch]], a typed Aggregator whose
    // buffer is the 513-slot count array — merge is element-wise sum, so
    // partials combine map-side) followed by [[CdfSketch.quantileEst]],
    // whose fold mirrors the spelling's interpolation expression-for-
    // expression. Same oracle as rel_cdf_sketch: the aggregator path must
    // reproduce the query spelling bit-for-bit. The collected global
    // min/max round-trips through Double.toString (shortest exact repr),
    // so the SQL literal carries the identical double.
    "rel_cdf_agg" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        CdfSketch.register(s)
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus".as("g"), $"l_extendedprice".as("v"))
        val r = li.agg(min($"v"), max($"v")).collect()(0)
        val (mn, mx) = (r.getDouble(0), r.getDouble(1))
        val w = if (mx == mn) 1.0 else (mx - mn) / 512.0
        li.createOrReplaceTempView("cdf_in")
        val sk = s.sql(
          s"""SELECT g, cdf_sketch(v, CAST('$mn' AS DOUBLE),
             |  CAST('$w' AS DOUBLE)) AS sketch
             |FROM cdf_in GROUP BY g""".stripMargin)
        sk.select($"g".as("l_linestatus"),
          CdfSketch.countOf($"sketch").as("n"),
          lit(w).as("bucket_width"),
          CdfSketch.quantileEst($"sketch", 0.5, lit(mn), lit(w)).as("p50_est"),
          CdfSketch.quantileEst($"sketch", 0.9, lit(mn), lit(w)).as("p90_est"),
          CdfSketch.quantileEst($"sketch", 0.99, lit(mn), lit(w)).as("p99_est"))
      },
      oracle = Some(cdfSketchOracleSql)),

    // And the sketch MAINTAINED incrementally ([[graft.streaming.CdfStream]],
    // the DistinctStream treatment): three waves drain through a
    // checkpointed stream whose per-batch delta is the (g, bucket) count
    // table — additive state, so the accumulated sketch is one SUM over
    // O(batches × groups × 513) tiny rows, never a re-scan of ingested
    // values — and the final quantile estimates must STILL hash-match the
    // one-shot batch oracle, across batch boundaries and restarts.
    "rel_cdf_stream" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import graft.streaming.CdfStream
        val landing = graft.api.Scratch.dir("cdf_landing")
        val state = graft.api.Scratch.dir("cdf_state")
        val cp = graft.api.Scratch.dir("cdf_cp")
        val li = t(s, dir, "lineitem")
          .select($"l_linestatus".as("g"), $"l_extendedprice".as("v"),
            $"l_orderkey")
        val r = li.agg(min($"v"), max($"v")).collect()(0)
        val (mn, mx) = (r.getDouble(0), r.getDouble(1))
        val w = if (mx == mn) 1.0 else (mx - mn) / 512.0
        (0 to 2).foreach { wave =>
          li.filter(pmod($"l_orderkey", lit(3)) === wave).select("g", "v")
            .coalesce(2).write.mode("append").parquet(landing)
          CdfStream.runAvailableNow(s, landing, state, cp, mn, w,
            maxFilesPerTrigger = 2)
        }
        CdfStream.estimates(s, state, mn, w,
          Seq("p50_est" -> 0.5, "p90_est" -> 0.9, "p99_est" -> 0.99))
          .select($"g".as("l_linestatus"), $"n", lit(w).as("bucket_width"),
            $"p50_est", $"p90_est", $"p99_est")
      },
      oracle = Some(cdfSketchOracleSql)),

    // ------------------------------------------------------------------
    // Pearson correlation per group from INTEGER moments: built-in corr()
    // accumulates doubles in partition order (non-deterministic across
    // engines/partitionings), and DECIMAL(30,6) sums are exact but ride
    // Spark's non-codegen BigDecimal path (~2 s for 600k rows). Instead
    // quantity is a small long and price becomes integer CENTS, so every
    // moment is a LONG sum inside whole-stage codegen. The one sum that
    // can overflow long (Σcents²) is split into 32-bit halves
    // (c² = hi·2³² + lo) and recombined in DECIMAL(38,0)/HUGEINT on the
    // 3 output rows; Pearson is scale-invariant, so the cents-based
    // coefficient equals the dollars-based one exactly. The closing
    // expression is the shared exactly-rounded double program both engines
    // evaluate bit-identically. Long headroom: Σlo < n·2³² — safe past
    // sf100 (6·10⁸ rows → 2.6·10¹⁸ < 2⁶³).
    "rel_agg_corr" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val c = round($"l_extendedprice" * 100).cast("long")
        val q = $"l_quantity".cast("long")
        val dec = "decimal(38,0)"
        t(s, dir, "lineitem")
          .select($"l_returnflag", q.as("q"), c.as("c"))
          .withColumn("lo", ($"c" * $"c") % 4294967296L)
          .withColumn("hi",
            (($"c" * $"c" - $"lo") / 4294967296L).cast("long"))
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n"),
            sum($"q").as("sx"),
            sum($"c").as("sy"),
            sum($"q" * $"q").as("sxx"),
            sum($"q" * $"c").as("sxy"),
            sum($"hi").as("shi"),
            sum($"lo").as("slo"))
          .select($"l_returnflag", $"n",
            round(
              (($"n".cast(dec) * $"sxy" - $"sx".cast(dec) * $"sy")
                .cast("double")) /
              (sqrt(($"n".cast(dec) * $"sxx" - $"sx".cast(dec) * $"sx")
                .cast("double")) *
               sqrt(($"n".cast(dec) *
                 (lit(4294967296L).cast(dec) * $"shi" + $"slo") -
                 $"sy".cast(dec) * $"sy").cast("double"))), 8)
              .as("corr_qty_price"))
      },
      oracle = Some("""
        WITH m AS (
          SELECT l_returnflag, COUNT(*) AS n,
                 SUM(CAST(l_quantity AS BIGINT)) AS sx,
                 SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sy,
                 SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                   AS sxx,
                 SUM(CAST(l_quantity AS BIGINT) *
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS sxy,
                 SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     // 4294967296) AS shi,
                 SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT) *
                     CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                     % 4294967296) AS slo
          FROM lineitem GROUP BY l_returnflag)
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               ROUND(
                 CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy
                      AS DOUBLE) /
                 (SQRT(CAST(CAST(n AS HUGEINT) * sxx -
                            CAST(sx AS HUGEINT) * sx AS DOUBLE)) *
                  SQRT(CAST(CAST(n AS HUGEINT) *
                            (CAST(4294967296 AS HUGEINT) * shi + slo) -
                            CAST(sy AS HUGEINT) * sy AS DOUBLE))), 8)
                 AS corr_qty_price
        FROM m""")),

    // ------------------------------------------------------------------
    // Two-sample (Welch) t-test between click and purchase event values:
    // the A/B-readout operator. ONE conditional-aggregation pass computes
    // both arms' moments (no join, no second scan); the t statistic is a
    // single shared double expression over decimal-exact sums.
    "rel_ab_ttest" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        def arm(v: String, c: Column) = struct(
          count(when($"event_type" === v, 1)).as("n"),
          dsum(when($"event_type" === v, c)).as("s"),
          dsum(when($"event_type" === v, c * c)).as("q"))
        Tables.load(s, dir, "events")
          .filter($"event_type".isin("click", "purchase"))
          .agg(arm("click", $"value").as("a"), arm("purchase", $"value").as("b"))
          .select(
            $"a.n".as("n_a"), $"b.n".as("n_b"),
            ($"a.s" / $"a.n").as("mean_a"), ($"b.s" / $"b.n").as("mean_b"),
            (($"a.q" - $"a.s" * $"a.s" / $"a.n") / ($"a.n" - 1)).as("var_a"),
            (($"b.q" - $"b.s" * $"b.s" / $"b.n") / ($"b.n" - 1)).as("var_b"))
          .select($"n_a", $"n_b", $"mean_a", $"mean_b", $"var_a", $"var_b",
            round(($"mean_a" - $"mean_b") /
              sqrt($"var_a" / $"n_a" + $"var_b" / $"n_b"), 8).as("t_stat"))
      },
      oracle = Some(s"""
        WITH m AS (
          SELECT
            COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_a,
            COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_b,
            ${sqlSum("CASE WHEN event_type = 'click' THEN value END")} AS s_a,
            ${sqlSum("CASE WHEN event_type = 'purchase' THEN value END")} AS s_b,
            ${sqlSum("CASE WHEN event_type = 'click' THEN value * value END")} AS q_a,
            ${sqlSum("CASE WHEN event_type = 'purchase' THEN value * value END")} AS q_b
          FROM events WHERE event_type IN ('click', 'purchase')),
        d AS (
          SELECT n_a, n_b, s_a / n_a AS mean_a, s_b / n_b AS mean_b,
                 (q_a - s_a * s_a / n_a) / (n_a - 1) AS var_a,
                 (q_b - s_b * s_b / n_b) / (n_b - 1) AS var_b
          FROM m)
        SELECT n_a, n_b, mean_a, mean_b, var_a, var_b,
               ROUND((mean_a - mean_b) /
                     SQRT(var_a / n_a + var_b / n_b), 8) AS t_stat
        FROM d""")),

    // ------------------------------------------------------------------
    // Data-governance masked view: the row-and-column security shape a
    // warehouse serves analysts instead of raw PII. Row-level security is
    // a pushdown-friendly predicate (the filter reaches the scan);
    // column controls compose three standard techniques — consistent
    // TOKENIZATION (salted md5: joinable/groupable across queries without
    // revealing the key), partial masking (leading 2 chars + '***'), and
    // value GENERALIZATION (balance into coarse 1000-unit bands). Pure
    // map work, zero shuffles, and every masked value is deterministic —
    // the oracle rebuilds the identical view.
    "rel_masked_view" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "customer")
          .filter($"c_mktsegment".isin("BUILDING", "AUTOMOBILE"))
          .select(
            md5(concat(lit("pii:"), $"c_custkey".cast("string"))).as("token"),
            concat(substring($"c_name", 1, 2), lit("***")).as("name_masked"),
            $"c_mktsegment".as("segment"),
            floor($"c_acctbal" / 1000.0).cast("long").as("bal_band"))
      },
      oracle = Some("""
        SELECT md5('pii:' || CAST(c_custkey AS VARCHAR)) AS token,
               substr(c_name, 1, 2) || '***' AS name_masked,
               c_mktsegment AS segment,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')""")),

    // ------------------------------------------------------------------
    // Approximate query processing from a content-addressed Bernoulli
    // sample: revenue estimated from the deterministic 1/64 row sample
    // with a Horvitz–Thompson scale-up and its unbiased standard error —
    // the dashboard-acceleration shape at 100 TB, where the sample is
    // materialized ONCE as a first-class table and every exploratory
    // query reads 1/64th of the bytes. Membership is a pure hash of the
    // row key (the sampler discipline: rerun/partitioning/engine-stable,
    // so the "estimate" is itself deterministic and hash-checkable);
    // Σx/Σx² accumulate in exact decimal, and the estimator/SE collapse
    // to single double expressions spelled identically in both engines:
    //   est = Σ_s x/p,  V̂ = (1−p)/p² · Σ_s x²,  se = sqrt(V̂).
    "rel_aqp_sum" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "lineitem")
          .filter(expr(
            """(md5_long(concat('aqp:', CAST(l_orderkey AS STRING), '-',
               CAST(l_linenumber AS STRING))) & 63) = 0"""))
          .agg(
            count(lit(1)).as("n_sample"),
            (dsum($"l_extendedprice") * 64.0).as("est_sum"),
            sqrt(dsum($"l_extendedprice" * $"l_extendedprice") *
              (63.0 * 64.0)).as("se"))
          .select($"n_sample", $"est_sum", $"se",
            ($"est_sum" - lit(1.96) * $"se").as("ci_lo"),
            ($"est_sum" + lit(1.96) * $"se").as("ci_hi"))
      },
      oracle = Some(s"""
        WITH s AS (
          SELECT COUNT(*) AS n_sample,
                 ${sqlSum("l_extendedprice")} * 64.0 AS est_sum,
                 SQRT(${sqlSum("l_extendedprice * l_extendedprice")}
                      * (63.0 * 64.0)) AS se
          FROM lineitem
          WHERE (md5_number_upper('aqp:' || CAST(l_orderkey AS VARCHAR)
                   || '-' || CAST(l_linenumber AS VARCHAR)) & 63) = 0)
        SELECT n_sample, est_sum, se,
               est_sum - 1.96 * se AS ci_lo,
               est_sum + 1.96 * se AS ci_hi
        FROM s""")),

    // ------------------------------------------------------------------
    // Grouped AQP from the same content-addressed sample: per-group
    // estimated totals with per-group error bars, plus the honesty flag a
    // dashboard needs — groups whose sample is too thin for the normal
    // approximation (n < 30) are MARKED rather than silently reported.
    // Same two-scans-of-1/64th plan as rel_aqp_sum; grouping adds one
    // hash aggregate over the sampled rows only.
    "rel_aqp_group" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .filter(expr(
            "(md5_long(concat('aqpg:', CAST(event_id AS STRING))) & 63) = 0"))
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n_sample"),
            (dsum($"value") * 64.0).as("est_sum"),
            sqrt(dsum($"value" * $"value") * (63.0 * 64.0)).as("se"))
          .select($"event_type", $"n_sample", $"est_sum", $"se",
            ($"n_sample" < 30).as("thin_sample"))
      },
      oracle = Some(s"""
        SELECT event_type, COUNT(*) AS n_sample,
               ${sqlSum("value")} * 64.0 AS est_sum,
               SQRT(${sqlSum("value * value")} * (63.0 * 64.0)) AS se,
               COUNT(*) < 30 AS thin_sample
        FROM events
        WHERE (md5_number_upper('aqpg:' || CAST(event_id AS VARCHAR)) & 63) = 0
        GROUP BY event_type""")),

    // ------------------------------------------------------------------
    // Map higher-order functions: transform_keys → transform_values →
    // map_filter → map_entries, chained inside whole-stage codegen (the
    // map-typed complement of rel_scalar_arrays' array HOFs). Values stay
    // exact integers (floor-cents) so engine formatting can't drift; the
    // surviving entries serialize sorted, the gate's collection
    // discipline. The oracle re-derives the same entry set with plain
    // conditional expressions — semantics are checked, not mechanism.
    "rel_scalar_map_hof" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        t(s, dir, "events").select(
          $"event_id",
          expr("""array_join(sort_array(transform(map_entries(
                    map_filter(
                      transform_values(
                        transform_keys(
                          map('a', CAST(floor(value * 100) AS BIGINT),
                              'b', CAST(floor(value * 100) AS BIGINT) * 2),
                          (k, v) -> upper(k)),
                        (k, v) -> v + 1),
                      (k, v) -> v > 5000)),
                    e -> concat(e.key, '=', CAST(e.value AS STRING)))), ',')""")
            .as("kept"))
      },
      oracle = Some("""
        WITH b AS (
          SELECT event_id, CAST(floor(value * 100) AS BIGINT) AS c
          FROM events)
        SELECT event_id,
               -- Spark's array_join serializes an empty array as '' while
               -- DuckDB's array_to_string yields NULL: coalesce to match.
               COALESCE(array_to_string(list_sort(
                 [e FOR e IN
                   [CASE WHEN c + 1 > 5000
                         THEN 'A=' || CAST(c + 1 AS VARCHAR) END,
                    CASE WHEN 2 * c + 1 > 5000
                         THEN 'B=' || CAST(2 * c + 1 AS VARCHAR) END]
                  IF e IS NOT NULL]), ','), '') AS kept
        FROM b"""))
  )
}
