package graft.operators

import java.util.concurrent.ConcurrentHashMap

import graft.api.{QueryModule, QuerySpec, Scratch}
import graft.api.Exact.{davg, dsum, sqlAvg, sqlSum}
import graft.plans.MaterializedView
import graft.plans.MaterializedView.{MvCount, MvCountStar, MvDef, MvMax, MvMaxD, MvMin, MvSum, MvSumD}
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The declared queries of the materialized-view rewrite
  * ([[graft.plans.MaterializedView]], rule [[graft.plans.RewriteToMv]]).
  *
  * Every query here is written as a PLAIN aggregate over the fact table —
  * the MV never appears at the query site. The injected rule re-points
  * the plan at the registered rollup, and the DuckDB oracle runs the
  * direct aggregation over the fact table: a hash match therefore proves
  * the rewritten plan computes exactly what the unrewritten one would
  * (the strongest form of the "optimization, never a semantics change"
  * contract). `MaterializedViewSpec` separately pins that the rewrite
  * actually FIRED (the physical plan scans the MV path, not
  * lineitem.parquet) — without that, these rows would pass vacuously.
  *
  * The lineitem rollup groups by (l_returnflag, l_linestatus,
  * l_linenumber): ~3·2·7 ≈ 40 rows whatever the fact table's size — the
  * 100 TB economics (a dashboard's repeated aggregates read ~kilobytes;
  * the fact scan happens once per maintenance run, not once per query).
  */
object MvQueries extends QueryModule {

  /** The declared lineitem rollup. Sums accumulate in exact decimal
    * ([[MaterializedView.SumDec]] — the [[graft.api.Exact]] discipline),
    * so batch partitions and coarser groupings re-aggregate to the
    * bit-identical value. */
  private def lineitemDef(path: String) = MvDef(
    groupCols = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
    aggs = Seq(MvSum("l_quantity"), MvSum("l_extendedprice"), MvCountStar,
      MvCount("l_quantity"), MvMin("l_extendedprice"), MvMax("l_extendedprice"),
      // The MvSum+MvCount pair over the integral line number serves bare
      // avg(l_linenumber) (a sum partial over a column that is ALSO a
      // grouping key is perfectly legal — it just sums a constant per MV
      // row).
      MvSum("l_linenumber"), MvCount("l_linenumber")),
    mvPath = path)

  // dir -> registered, once per JVM (the TextFeatures build-once shape).
  private val registered = new ConcurrentHashMap[String, String]()

  private def ensureRegistered(s: SparkSession, dir: String): Unit = {
    registered.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_lineitem")
      MaterializedView.register(s, s"$dir/lineitem.parquet", lineitemDef(mv))
      mv
    }); ()
  }

  /** The time-bucketed rollup every metrics dashboard wants: events by
    * (event_type, hour). The bucket is a DERIVED grouping column — the
    * declaration carries its SQL, the rule matches the query's own
    * spelling of `date_trunc('hour', ts)` semantically, and the value
    * partial accumulates in exact decimal so the rewrite stays
    * bit-identical. */
  private def eventsDef(path: String) = MvDef(
    groupCols = Seq("event_type"),
    aggs = Seq(MvSum("value"), MvCountStar, MvMin("value"), MvMax("value")),
    mvPath = path,
    derived = Seq("bucket" -> "date_trunc('hour', ts)"))

  private val registeredEvents = new ConcurrentHashMap[String, String]()

  private def ensureEventsRegistered(s: SparkSession, dir: String): Unit = {
    registeredEvents.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_events")
      MaterializedView.register(s, s"$dir/events.parquet", eventsDef(mv))
      mv
    }); ()
  }

  /** The star rollup: lineitem ⋈ orders by order priority — the MV's
    * source relation is the fact⋈dim join, so the dashboard's join
    * aggregate reads a 5-row table instead of joining 60M×15M rows.
    * Coexists with the plain lineitem rollup on the SAME fact path; the
    * rule picks whichever registration matches the query's shape. */
  private def starDef(dir: String, path: String) = MvDef(
    groupCols = Seq("o_orderpriority"),
    aggs = Seq(MvSum("l_extendedprice"), MvSum("l_quantity"), MvCountStar,
      MvMax("l_extendedprice")),
    mvPath = path,
    joins = Seq(MaterializedView.MvJoin(
      s"$dir/orders.parquet", "l_orderkey", "o_orderkey")))

  private val registeredStar = new ConcurrentHashMap[String, String]()

  private def ensureStarRegistered(s: SparkSession, dir: String): Unit = {
    registeredStar.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_star")
      MaterializedView.register(s, s"$dir/lineitem.parquet", starDef(dir, mv))
      mv
    }); ()
  }

  /** The MULTI-dimension star: lineitem ⋈ orders ⋈ customer — the
    * TPC-H Q3/Q10 shape, a snowflake chain whose second link keys on the
    * FIRST dimension (o_custkey). Grouped by market segment: the whole
    * two-join aggregate over the corpus collapses to a ~5-row read. */
  private def star2Def(dir: String, path: String) = MvDef(
    groupCols = Seq("c_mktsegment"),
    aggs = Seq(MvSum("l_extendedprice"), MvSum("l_quantity"), MvCountStar),
    mvPath = path,
    joins = Seq(
      MaterializedView.MvJoin(s"$dir/orders.parquet", "l_orderkey", "o_orderkey"),
      MaterializedView.MvJoin(s"$dir/customer.parquet", "o_custkey", "c_custkey")))

  private val registeredStar2 = new ConcurrentHashMap[String, String]()

  private def ensureStar2Registered(s: SparkSession, dir: String): Unit = {
    registeredStar2.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_star2")
      MaterializedView.register(s, s"$dir/lineitem.parquet", star2Def(dir, mv))
      mv
    }); ()
  }

  /** Star × derived composed: monthly revenue by order priority — a dim
    * grouping attribute AND a time bucket computed from a fact column,
    * over the fact⋈dim join. Third registration on the same fact path. */
  private def starMonthDef(dir: String, path: String) = MvDef(
    groupCols = Seq("o_orderpriority"),
    aggs = Seq(MvSum("l_extendedprice"), MvCountStar),
    mvPath = path,
    derived = Seq("ship_month" -> "date_trunc('month', l_shipdate)"),
    joins = Seq(MaterializedView.MvJoin(
      s"$dir/orders.parquet", "l_orderkey", "o_orderkey")))

  private val registeredStarMonth = new ConcurrentHashMap[String, String]()

  private def ensureStarMonthRegistered(s: SparkSession, dir: String): Unit = {
    registeredStarMonth.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_star_month")
      MaterializedView.register(s, s"$dir/lineitem.parquet", starMonthDef(dir, mv))
      mv
    }); ()
  }

  /** Expression rollup: the measure is `l_extendedprice * (1 - l_discount)`
    * — TPC-H's revenue — declared as SQL ([[MvSumD]]) and matched
    * semantically at rewrite time, the derived-grouping treatment applied
    * to the measure side. Fourth registration on the same fact path: the
    * rule's per-candidate gates route each query to the registration that
    * subsumes it. */
  private def revenueDef(path: String) = MvDef(
    groupCols = Seq("l_returnflag", "l_linestatus"),
    aggs = Seq(MvSumD("revenue", "l_extendedprice * (1 - l_discount)"),
      MvCountStar),
    mvPath = path)

  private val registeredRevenue = new ConcurrentHashMap[String, String]()

  private def ensureRevenueRegistered(s: SparkSession, dir: String): Unit = {
    registeredRevenue.computeIfAbsent(dir, _ => {
      val mv = Scratch.dir("mv_revenue")
      MaterializedView.register(s, s"$dir/lineitem.parquet", revenueDef(mv))
      mv
    }); ()
  }

  /** Sketch rollup: an MV at (event_type, register) grain whose measure is
    * the HLL rank expression IS a maintained HyperLogLog
    * ([[graft.functions.Hll]] — 4096 registers, rank from the portable
    * `md5_long` hash). Per-register MAX re-aggregation across batch
    * partitions is exactly sketch union, so the count-distinct dashboard
    * reads ≤ |types|·4096 register rows however large the fact table, and
    * incremental maintenance (one delta rollup per append) keeps the
    * estimate IDENTICAL to the one-shot sketch — MAX is order- and
    * partition-insensitive. */
  private def hllDef(path: String) = MvDef(
    groupCols = Seq("event_type"),
    aggs = Seq(MvMaxD("mrho", graft.functions.Hll.rhoSql("user_id"))),
    mvPath = path,
    derived = Seq("reg" -> graft.functions.Hll.regSql("user_id")))

  // Scratch events copy grown in two steps: register the HLL MV on ~70%,
  // append the rest, fold with ONE delta rollup — the estimate the query
  // reads merges the two register batches by MAX.
  private val hllFact = new ConcurrentHashMap[String, String]()

  private def ensureHllFact(s: SparkSession, dir: String): String =
    hllFact.computeIfAbsent(dir, _ => {
      val fact = Scratch.dir("mv_hll_fact") + "/events_fact"
      val mv = Scratch.dir("mv_hll_rollup")
      val ev = Tables.load(s, dir, "events")
      val head = ev.filter(pmod(col("user_id"), lit(10)) < 7)
      val tail = ev.filter(pmod(col("user_id"), lit(10)) >= 7)
      head.write.parquet(fact)
      MaterializedView.register(s, fact, hllDef(mv))
      tail.write.mode("append").parquet(fact)
      MaterializedView.appendDelta(s, fact, tail)
      fact
    })

  // Incremental fixture: a scratch COPY of lineitem built as an
  // append-only fact table — register on the first ~70%, then land the
  // rest as new files and fold them in with ONE delta rollup.
  private val incremental = new ConcurrentHashMap[String, String]()

  private def ensureIncremental(s: SparkSession, dir: String): String =
    incremental.computeIfAbsent(dir, _ => {
      val fact = Scratch.dir("mv_fact") + "/lineitem_fact"
      val mv = Scratch.dir("mv_fact_rollup")
      val li = Tables.load(s, dir, "lineitem")
      val head = li.filter(pmod(col("l_orderkey"), lit(10)) < 7)
      val tail = li.filter(pmod(col("l_orderkey"), lit(10)) >= 7)
      head.write.parquet(fact)
      MaterializedView.register(s, fact, lineitemDef(mv))
      tail.write.mode("append").parquet(fact) // the table GROWS —
      // the stale fingerprint now disables the rewrite...
      MaterializedView.appendDelta(s, fact, tail) // ...until the
      // maintainer folds exactly the appended rows in (cost ∝ delta)
      // and re-fingerprints.
      fact
    })

  def queries: Map[String, QuerySpec] = Map(
    // ------------------------------------------------------------------
    // Coarser-than-MV grouping: the re-aggregation that merges batch
    // partitions is the same one that rolls 3 grouping keys up to 1.
    // avg derives structurally as sum-partial / count-partial.
    "rel_mv_rollup" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            dsum($"l_extendedprice").as("sum_price"),
            davg($"l_quantity").as("avg_qty"),
            count(lit(1)).as("n"),
            min($"l_extendedprice").as("min_price"),
            max($"l_extendedprice").as("max_price"))
      },
      oracle = Some(s"""
        SELECT l_returnflag,
               ${sqlSum("l_quantity")} AS sum_qty,
               ${sqlSum("l_extendedprice")} AS sum_price,
               ${sqlAvg("l_quantity")} AS avg_qty,
               COUNT(*) AS n,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem GROUP BY l_returnflag"""),
      doc = "Subsumed rollup answered from the MV (plan pinned by spec)."),

    // ------------------------------------------------------------------
    // A predicate on MV grouping columns rides along: it re-binds onto
    // the rollup's own columns and prunes ~50 rows instead of the fact.
    "rel_mv_filtered" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .filter($"l_linenumber".isin(1, 2, 3) && $"l_returnflag" =!= "N")
          .groupBy($"l_linenumber", $"l_linestatus")
          .agg(
            dsum($"l_extendedprice").as("sum_price"),
            count(lit(1)).as("n"))
      },
      oracle = Some(s"""
        SELECT l_linenumber, l_linestatus,
               ${sqlSum("l_extendedprice")} AS sum_price,
               COUNT(*) AS n
        FROM lineitem
        WHERE l_linenumber IN (1, 2, 3) AND l_returnflag <> 'N'
        GROUP BY l_linenumber, l_linestatus"""),
      doc = "Grouping-column predicate re-bound onto the MV scan."),

    // ------------------------------------------------------------------
    // Incremental maintenance end-to-end: fact table grows by new files,
    // ONE delta rollup (cost ∝ delta) folds them in as a new batch
    // partition, and the global aggregate over the grown table — served
    // by re-aggregating the batches — matches DuckDB aggregating the
    // equivalent complete table directly.
    "rel_mv_incremental" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val fact = ensureIncremental(s, dir)
        s.read.parquet(fact)
          .agg(
            dsum($"l_quantity").as("sum_qty"),
            count(lit(1)).as("n"),
            min($"l_extendedprice").as("min_price"),
            max($"l_extendedprice").as("max_price"))
      },
      oracle = Some(s"""
        SELECT ${sqlSum("l_quantity")} AS sum_qty,
               COUNT(*) AS n,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem"""),
      doc = "Append-only growth + one delta rollup; global agg from batches."),

    // ------------------------------------------------------------------
    // Derived (time-bucketed) grouping: the query groups by its OWN
    // spelling of date_trunc('hour', ts); the rule resolves the declared
    // bucket SQL against the query's scan and matches it semantically, so
    // the hourly dashboard aggregate reads the ~|types|·|hours| rollup
    // instead of the fact table. A predicate over the bucket re-binds too.
    "rel_mv_time_bucket" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureEventsRegistered(s, dir)
        Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("b"))
          .agg(
            dsum($"value").as("sum_value"),
            count(lit(1)).as("n"),
            min($"value").as("min_value"),
            max($"value").as("max_value"))
          // String bucket for the oracle hash (tz-aware parquet timestamps
          // repr-differ between engines); the format rides ABOVE the
          // rewritten Aggregate, over the MV's own grouping column.
          .select($"event_type",
            date_format($"b", "yyyy-MM-dd HH:mm:ss").as("bucket"),
            $"sum_value", $"n", $"min_value", $"max_value")
      },
      oracle = Some(s"""
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
               ${sqlSum("value")} AS sum_value,
               COUNT(*) AS n,
               MIN(value) AS min_value,
               MAX(value) AS max_value
        FROM events GROUP BY 1, 2"""),
      doc = "Hourly rollup served from a derived-grouping MV (plan pinned by spec)."),

    // ------------------------------------------------------------------
    // Star-schema rollup: the query writes its own lineitem⋈orders inner
    // equi-join and aggregates by a DIMENSION attribute; the rule matches
    // the declared key pair (both scans fingerprint-fresh) and re-points
    // the whole join+aggregate at the ~5-row rollup. A dim-attribute
    // predicate rides along onto the MV's grouping column.
    "rel_mv_star" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureStarRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"),
            $"l_orderkey" === $"o_orderkey")
          .filter($"o_orderpriority" =!= "4-NOT SPECIFIED")
          .groupBy($"o_orderpriority")
          .agg(
            dsum($"l_extendedprice").as("sum_price"),
            dsum($"l_quantity").as("sum_qty"),
            count(lit(1)).as("n"),
            max($"l_extendedprice").as("max_price"))
      },
      oracle = Some(s"""
        SELECT o_orderpriority,
               ${sqlSum("l_extendedprice")} AS sum_price,
               ${sqlSum("l_quantity")} AS sum_qty,
               COUNT(*) AS n,
               MAX(l_extendedprice) AS max_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority <> '4-NOT SPECIFIED'
        GROUP BY o_orderpriority"""),
      doc = "Fact⋈dim rollup served from a star MV (plan pinned by spec)."),

    // ------------------------------------------------------------------
    // Multi-dimension star: the query spells its own two inner equi-joins
    // (fact ⋈ orders ⋈ customer) and groups by a second-hop dimension
    // attribute; the rule flattens the join tree, matches both declared
    // key pairs (any join order/associativity), and re-points the whole
    // thing at the ~5-row rollup — both joins dropped. A dim-attribute
    // predicate rides onto the MV's grouping column.
    "rel_mv_star2" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureStar2Registered(s, dir)
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
          .join(Tables.load(s, dir, "customer"), $"o_custkey" === $"c_custkey")
          .filter($"c_mktsegment" =!= "MACHINERY")
          .groupBy($"c_mktsegment")
          .agg(
            dsum($"l_extendedprice").as("revenue"),
            dsum($"l_quantity").as("sum_qty"),
            count(lit(1)).as("n"))
      },
      oracle = Some(s"""
        SELECT c_mktsegment,
               ${sqlSum("l_extendedprice")} AS revenue,
               ${sqlSum("l_quantity")} AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment <> 'MACHINERY'
        GROUP BY c_mktsegment"""),
      doc = "Two-dimension star (Q3/Q10 shape) served from one rollup; both joins dropped."),

    // ------------------------------------------------------------------
    // Star × derived composed: the query joins fact⋈dim AND buckets a
    // fact timestamp — monthly revenue by priority, the classic finance
    // dashboard — served from a rollup of ~|priorities|·|months| rows.
    "rel_mv_star_month" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureStarMonthRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"),
            $"l_orderkey" === $"o_orderkey")
          .groupBy($"o_orderpriority",
            date_trunc("month", $"l_shipdate").as("m"))
          .agg(
            dsum($"l_extendedprice").as("revenue"),
            count(lit(1)).as("n"))
          .select($"o_orderpriority",
            date_format($"m", "yyyy-MM").as("ship_month"),
            $"revenue", $"n")
      },
      oracle = Some(s"""
        SELECT o_orderpriority,
               strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
               ${sqlSum("l_extendedprice")} AS revenue,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2"""),
      doc = "Star join x time-bucket rollup served from one composed MV."),

    // ------------------------------------------------------------------
    // Derived-MEASURE rollup: the summed value is an EXPRESSION over fact
    // columns (TPC-H revenue), declared as SQL and matched semantically —
    // the dashboard spells its own sum(price * (1 - discount)) and reads
    // a 6-row rollup. Grouping is coarser than the MV's two keys, so the
    // same re-aggregation that merges batches also rolls the keys up.
    "rel_mv_revenue" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureRevenueRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            dsum(expr("l_extendedprice * (1 - l_discount)")).as("revenue"),
            count(lit(1)).as("n"))
      },
      oracle = Some(s"""
        SELECT l_returnflag,
               ${sqlSum("l_extendedprice * (1 - l_discount)")} AS revenue,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag"""),
      doc = "Expression rollup (revenue) served from a derived-measure MV."),

    // ------------------------------------------------------------------
    // Grouping sets: ROLLUP plans as Aggregate over an Expand that
    // materializes each grouping set; the rule keeps the Expand and swaps
    // its input from fact rows to MV partial rows (every set is a
    // coarsening of the MV grain, so re-aggregating partials per set is
    // exact). `lvl` spells the grouping markers bit-explicitly so both
    // engines agree without relying on grouping_id bit order.
    "rel_mv_grouping_sets" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .rollup($"l_returnflag", $"l_linestatus")
          .agg(
            (grouping($"l_returnflag").cast("bigint") * 2 +
              grouping($"l_linestatus").cast("bigint")).as("lvl"),
            dsum($"l_quantity").as("sum_qty"),
            count(lit(1)).as("n"),
            min($"l_extendedprice").as("min_price"),
            max($"l_extendedprice").as("max_price"))
      },
      oracle = Some(s"""
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS BIGINT) * 2 +
                 CAST(GROUPING(l_linestatus) AS BIGINT) AS lvl,
               ${sqlSum("l_quantity")} AS sum_qty,
               COUNT(*) AS n,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"""),
      doc = "ROLLUP grouping sets served from the MV through the Expand."),

    // ------------------------------------------------------------------
    // The composed flagship: ROLLUP over the star join with a derived
    // time bucket — monthly revenue by order priority WITH subtotal and
    // grand-total rows, served from the starMonth rollup. The direct plan
    // is a fact⋈dim shuffle join + a 3× Expand of every joined row; the
    // served plan Expands ~|priorities|·|months| partial rows.
    "rel_mv_star_rollup" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureStarMonthRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .join(Tables.load(s, dir, "orders"),
            $"l_orderkey" === $"o_orderkey")
          .rollup($"o_orderpriority",
            date_trunc("month", $"l_shipdate").as("m"))
          .agg(
            dsum($"l_extendedprice").as("revenue"),
            count(lit(1)).as("n"))
          // Subtotal rows carry NULL keys on both engines (l_shipdate is
          // never null in the data, so a NULL month IS the subtotal tag;
          // the grouping()-marker spelling is exercised by
          // rel_mv_grouping_sets and the CUBE spec).
          .select($"o_orderpriority",
            date_format($"m", "yyyy-MM").as("ship_month"),
            $"revenue", $"n")
      },
      oracle = Some(s"""
        SELECT o_orderpriority,
               strftime(date_trunc('month', l_shipdate), '%Y-%m') AS ship_month,
               ${sqlSum("l_extendedprice")} AS revenue,
               COUNT(*) AS n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY ROLLUP(o_orderpriority, date_trunc('month', l_shipdate))"""),
      doc = "ROLLUP over star join + derived month bucket, MV-served."),

    // ------------------------------------------------------------------
    // Bare avg over an integral column: served as the re-derived
    // sum/count substituted into Spark's own Average division (see
    // [[graft.plans.MaterializedView]]) — the one aggregate kind that
    // previously always fell through. The davg spelling rides alongside
    // to pin that both avg forms coexist in one served aggregate.
    "rel_mv_avg" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        ensureRegistered(s, dir)
        Tables.load(s, dir, "lineitem")
          .groupBy($"l_returnflag")
          .agg(
            avg($"l_linenumber").as("avg_ln"),
            davg($"l_quantity").as("avg_qty"),
            count(lit(1)).as("n"))
      },
      oracle = Some(s"""
        SELECT l_returnflag,
               AVG(l_linenumber) AS avg_ln,
               ${sqlAvg("l_quantity")} AS avg_qty,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag"""),
      doc = "Bare avg served from the MvSum+MvCount pair (plan pinned by spec)."),

    // ------------------------------------------------------------------
    // HAVING rides above the rewrite untouched: the filter references the
    // rewritten Aggregate's preserved output ids, and its scalar-subquery
    // clause (a global count over the same fact) is itself a subsumed
    // aggregate. The second clause genuinely filters at every SF — the
    // fixture is uniform, so a count-proportion threshold cannot, but
    // 2·SUM(l_linenumber) > 9·COUNT(*) ⟺ the group's line number > 4.5,
    // exactly and scale-independently (keeps 5,6,7; integer arithmetic on
    // both engines).
    "rel_mv_having" -> QuerySpec(
      fn = (s, dir) => {
        ensureRegistered(s, dir)
        Tables.load(s, dir, "lineitem").createOrReplaceTempView("mv_having_li")
        s.sql(s"""
          SELECT l_linenumber,
                 COUNT(*) AS n,
                 ${sqlSum("l_quantity")} AS sum_qty
          FROM mv_having_li
          GROUP BY l_linenumber
          HAVING COUNT(*) > 0.12 * (SELECT COUNT(*) FROM mv_having_li)
             AND 2 * SUM(l_linenumber) > 9 * COUNT(*)""")
      },
      oracle = Some(s"""
        SELECT l_linenumber,
               COUNT(*) AS n,
               ${sqlSum("l_quantity")} AS sum_qty
        FROM lineitem
        GROUP BY l_linenumber
        HAVING COUNT(*) > 0.12 * (SELECT COUNT(*) FROM lineitem)
           AND 2 * SUM(l_linenumber) > 9 * COUNT(*)"""),
      doc = "HAVING (scalar-subquery + aggregate clauses) over an MV-served aggregate."),

    // ------------------------------------------------------------------
    // Sketch rollup: the register build of the portable HLL — an
    // aggregate grouped by (event_type, hash-register) taking MAX of the
    // rank expression — is itself a subsumed aggregate over a
    // derived-measure MV, so the rule re-points it at the maintained
    // register table (two batch partitions here: registered on ~70% of
    // the copy, one delta rollup folded the rest in; MAX-merge of
    // register batches IS sketch union). The estimator above runs over
    // ≤ 5·4096 register rows; the fact table is never rescanned. The
    // oracle rebuilds the identical sketch over the same rows in DuckDB.
    "rel_mv_distinct" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        import graft.functions.Hll
        val fact = ensureHllFact(s, dir)
        val regs = s.read.parquet(fact)
          .select($"event_type", expr(Hll.hpExpr("user_id")).as("hp"))
          .select($"event_type", expr(Hll.regExpr).as("reg"),
            expr(Hll.rhoExpr).as("rho"))
          .groupBy($"event_type", $"reg").agg(max($"rho").as("mrho"))
        Hll.estimate(regs, Seq("event_type"))
      },
      oracle = {
        import graft.functions.Hll
        Some(s"""
        WITH ${Hll.oracleRegsCtes("event_type", "user_id", "events")},
        ${Hll.oracleEstimateCtes("event_type")}
        SELECT event_type, CAST(n_present AS BIGINT) AS n_registers,
               est_distinct
        FROM hllest""")
      },
      doc = "Count-distinct served from a maintained HLL register MV."))
}
