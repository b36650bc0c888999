package graft.operators

import graft.api.{Exact, QueryModule, QuerySpec}
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Event-time window operators over `events.ts` (SURVEY §2.8 T4 — absent
  * from the reference, which only aggregates globally by key).
  *
  * Batch analogs of the streaming window family, oracle-checked: tumbling
  * and sliding via `window()` (epoch-aligned, matching DuckDB's
  * `time_bucket`), sessions via native `session_window` (30-minute gap,
  * window end = last event + gap). The same `window()`/`session_window`
  * expressions run unchanged under `readStream` + `withWatermark` —
  * StreamingSpec exercises that path with late-data eviction.
  *
  * Scale: each query is one hash-aggregate shuffle keyed by (window, key);
  * sliding expands each row to duration/slide = 2 windows before the
  * partial aggregate — no self-joins, no windows-over-raw-rows.
  */
object TimeWindows extends QueryModule {

  import Exact.{dsum, sqlSum}

  private val fmt = "yyyy-MM-dd HH:mm:ss"

  /** Finite-impulse Holt weights w_k = (1,1)·Mᵏ·v for the level+trend
    * recursion s_t = M·s_{t-1} + v·y_t with α=0.5, β=0.3, truncated at 12
    * lags. Computed once here and injected as identical double literals
    * into BOTH engines' expressions (see ts_holt). */
  private val holtK = 12
  private lazy val holtWeights: Seq[Double] = {
    val (alpha, beta) = (0.5, 0.3)
    var (m11, m12, m21, m22) = (1.0, 0.0, 0.0, 1.0) // M^0 = I
    val (c11, c12, c21, c22) = (1 - alpha, 1 - alpha, -alpha * beta, 1 - alpha * beta)
    (0 until holtK).map { _ =>
      val w = (m11 + m21) * alpha + (m12 + m22) * alpha * beta
      val (n11, n12) = (m11 * c11 + m12 * c21, m11 * c12 + m12 * c22)
      val (n21, n22) = (m21 * c11 + m22 * c21, m21 * c12 + m22 * c22)
      m11 = n11; m12 = n12; m21 = n21; m22 = n22
      w
    }
  }

  def queries: Map[String, QuerySpec] = Map(
    // Single change-point detection (binary segmentation, first split):
    // for each event type's hourly count series, the split that maximizes
    // the between-segment variance reduction gain(k) = S₁²/k + S₂²/(n−k)
    // − S²/n — the CUSUM-family screen that finds WHEN a series changed
    // level, not just that it drifted (ts_cusum). Every moment is an
    // integer window sum over the pre-aggregated ~types×hours grid (the
    // ts_acf contract): ordered cumulative sums and the whole-partition
    // totals share ONE shuffle on event_type, the gain is a single double
    // expression spelled identically in both engines (identical integer
    // inputs → identical doubles → identical argmax), and ties break on
    // the earlier bucket. O(types × hours) state regardless of event
    // volume; the argmax is a rank-1 window, never a driver-side scan.
    "ts_changepoint" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val wp = Window.partitionBy($"event_type")
        val cum = hourly.select($"event_type", $"bucket",
          sum($"x").over(w).as("s1"),
          row_number().over(w).cast("long").as("k"),
          sum($"x").over(wp).as("s"),
          count(lit(1)).over(wp).as("n"))
        val gains = cum.filter($"k" < $"n")
          .withColumn("gain",
            $"s1".cast("double") * $"s1".cast("double") / $"k".cast("double")
              + ($"s" - $"s1").cast("double") * ($"s" - $"s1").cast("double")
                / ($"n" - $"k").cast("double")
              - $"s".cast("double") * $"s".cast("double") / $"n".cast("double"))
        gains
          .withColumn("rn", row_number().over(
            Window.partitionBy($"event_type").orderBy($"gain".desc, $"bucket")))
          .filter($"rn" === 1)
          .select($"event_type", date_format($"bucket", fmt).as("split_end"),
            $"k".as("n_before"), ($"n" - $"k").as("n_after"),
            ($"s1".cast("double") / $"k".cast("double")).as("mean_before"),
            (($"s" - $"s1").cast("double") / ($"n" - $"k").cast("double"))
              .as("mean_after"),
            $"gain")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket, COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        cum AS (
          SELECT event_type, bucket,
                 CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY bucket
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s1,
                 CAST(row_number() OVER (PARTITION BY event_type
                                         ORDER BY bucket) AS BIGINT) AS k,
                 CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM hourly),
        gains AS (
          SELECT event_type, bucket, s1, k, s, n,
                 CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE)
                   + CAST(s - s1 AS DOUBLE) * CAST(s - s1 AS DOUBLE)
                     / CAST(n - k AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                   AS gain
          FROM cum WHERE k < n)
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS split_end,
               k AS n_before, n - k AS n_after,
               CAST(s1 AS DOUBLE) / CAST(k AS DOUBLE) AS mean_before,
               CAST(s - s1 AS DOUBLE) / CAST(n - k AS DOUBLE) AS mean_after,
               gain
        FROM (
          SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY gain DESC, bucket) AS rn
          FROM gains)
        WHERE rn = 1""")),

    // Sequenced funnel (view → click → purchase, strictly ordered in event
    // time): each stage's earliest qualifying timestamp is one keyed
    // aggregation joined back — no per-user event sorting, no
    // collect_list of histories, so state per user is three timestamps
    // regardless of event volume. The classic product-analytics operator.
    "ts_funnel" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val c = e.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("ts") > col("t_view"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("ts") > col("t_click"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_purchase"))
        e.select(col("user_id")).distinct()
          .join(v, Seq("user_id"), "left")
          .join(c, Seq("user_id"), "left")
          .join(p, Seq("user_id"), "left")
          .select(col("user_id"),
            when(col("t_purchase").isNotNull, 3)
              .when(col("t_click").isNotNull, 2)
              .when(col("t_view").isNotNull, 1)
              .otherwise(0).as("funnel_stage"))
      },
      oracle = Some("""
        WITH v AS (
          SELECT user_id, MIN(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS t_click
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t_view
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS t_purchase
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t_click
          GROUP BY e.user_id)
        SELECT u.user_id,
               CASE WHEN p.t_purchase IS NOT NULL THEN 3
                    WHEN c.t_click IS NOT NULL THEN 2
                    WHEN v.t_view IS NOT NULL THEN 1
                    ELSE 0 END AS funnel_stage
        FROM (SELECT DISTINCT user_id FROM events) u
        LEFT JOIN v ON u.user_id = v.user_id
        LEFT JOIN c ON u.user_id = c.user_id
        LEFT JOIN p ON u.user_id = p.user_id""")),

    // MATCH_RECOGNIZE-style sequence patterns: each user's event history
    // becomes one ordered symbol string (v/c/p/s/e initials, totally
    // ordered by (ts, event_id) so collection order is deterministic on
    // any partitioning), and conversions are counted as non-overlapping
    // regex matches of view→click⁺→purchase. ONE shuffle builds the
    // per-user string; the regex is leftmost/non-overlapping in both
    // engines' regex dialects (java.util.regex vs RE2) for this pattern
    // class. Per-user state is the event string — bounded by per-entity
    // history, the same contract every sessionizer assumes; a 100 TB run
    // would cap history length per user exactly like the SimHash bucket
    // cap. The string spelling is what MATCH_RECOGNIZE engines compile to
    // for linear patterns, re-expressed with groupBy + regexp.
    "ts_event_pattern" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "events")
          .select($"user_id",
            struct($"ts".as("t"), $"event_id".as("i"),
              substring($"event_type", 1, 1).as("c")).as("ev"))
          .groupBy($"user_id")
          .agg(array_join(expr("transform(array_sort(collect_list(ev)), x -> x.c)"), "")
            .as("journey"))
          .select($"user_id",
            length($"journey").as("journey_len"),
            size(regexp_extract_all($"journey", lit("vc+p"), lit(0)))
              .as("n_conversions"),
            size(regexp_extract_all($"journey", lit("e"), lit(0)))
              .cast("long").as("n_errors"))
      },
      oracle = Some("""
        WITH j AS (
          SELECT user_id,
                 string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                   AS journey
          FROM events GROUP BY user_id)
        SELECT user_id,
               CAST(len(journey) AS INT) AS journey_len,
               CAST(len(regexp_extract_all(journey, 'vc+p')) AS INT)
                 AS n_conversions,
               CAST(len(regexp_extract_all(journey, 'e')) AS BIGINT) AS n_errors
        FROM j""")),

    // Cohort retention: users grouped by first-activity day, distinct
    // active users per (cohort, day offset) — funnel's companion staple.
    // Two keyed aggregations; the (user, day) distinct bounds the join at
    // one row per user-day, not per event.
    "ts_cohort_retention" -> QuerySpec(
      fn = (s, dir) => {
        val e = Tables.load(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
        val first = e.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
        e.join(first, "user_id")
          .groupBy(col("cohort"), datediff(col("d"), col("cohort")).as("day_offset"))
          .agg(countDistinct(col("user_id")).as("n_active"))
          .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
            col("day_offset"), col("n_active"))
      },
      oracle = Some("""
        WITH e AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        f AS (SELECT user_id, MIN(d) AS cohort FROM e GROUP BY user_id)
        SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
               CAST(e.d - f.cohort AS INT) AS day_offset,
               COUNT(DISTINCT e.user_id) AS n_active
        FROM e JOIN f ON e.user_id = f.user_id
        GROUP BY f.cohort, e.d - f.cohort""")),

    // Tumbling 1-hour windows per event type.
    "ts_window_tumbling" -> QuerySpec(
      fn = (s, dir) => Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(
          date_format(col("window.start"), fmt).as("window_start"),
          col("event_type"), col("n"), col("total")),
      oracle = Some(s"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S')
                 AS window_start,
               event_type, COUNT(*) AS n, ${sqlSum("value")} AS total
        FROM events GROUP BY 1, 2"""),
      bench = true),

    // Sliding 1-hour windows every 30 minutes (each event in 2 windows).
    "ts_window_sliding" -> QuerySpec(
      fn = (s, dir) => Tables.load(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
        .select(
          date_format(col("window.start"), fmt).as("window_start"),
          col("n"), col("total")),
      oracle = Some(s"""
        SELECT strftime(time_bucket(INTERVAL '30 minutes', ts)
                          - k * INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
                 AS window_start,
               COUNT(*) AS n, ${sqlSum("value")} AS total
        FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)
        GROUP BY 1""")),

    // Session windows per user: 30-minute inactivity gap; session end is
    // last event + gap (native session_window semantics).
    "ts_window_session" -> QuerySpec(
      fn = (s, dir) => Tables.load(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("total"))
        .select(
          col("user_id"),
          date_format(col("session_window.start"), fmt).as("session_start"),
          date_format(col("session_window.end"), fmt).as("session_end"),
          col("n_events"), col("total")),
      oracle = Some(s"""
        WITH lagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        sess AS (
          SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
          FROM lagged)
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(MAX(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S')
                 AS session_end,
               COUNT(*) AS n_events, ${sqlSum("value")} AS total
        FROM sess GROUP BY user_id, sid""")),

    // Time-series gap filling: a generated hourly spine × event types,
    // left-joined against observed counts — missing buckets appear as
    // explicit zeros. The spine is sequence()-generated, never a self-join.
    "ts_gap_fill" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val hourly = ev
          .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
        val spine = ev
          .agg(date_trunc("hour", min(col("ts"))).as("mn"),
            date_trunc("hour", max(col("ts"))).as("mx"))
          .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("bucket"))
          .crossJoin(ev.select(col("event_type")).distinct())
        spine.join(hourly, Seq("bucket", "event_type"), "left")
          .select(
            date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
            col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"))
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
                 COUNT(*) AS n
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT min(time_bucket(INTERVAL '1 hour', ts)) AS mn,
                 max(time_bucket(INTERVAL '1 hour', ts)) AS mx
          FROM events),
        spine AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
          FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events)
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
               COALESCE(n, 0) AS n
        FROM spine CROSS JOIN types
        LEFT JOIN hourly USING (bucket, event_type)""")),

    // As-of join expressed as a window (the Spark-first shape: one shuffle
    // on the partition key, no join at all): for every event, the timestamp
    // of the user's most recent purchase at-or-before it.
    "ts_asof_last_purchase" -> QuerySpec(
      fn = (s, dir) => {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables.load(s, dir, "events")
          .withColumn("last_purchase",
            last(when(col("event_type") === "purchase", col("ts")), ignoreNulls = true)
              .over(w))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            date_format(col("last_purchase"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_purchase"))
      },
      oracle = Some("""
        SELECT event_id, user_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               strftime(last_value(CASE WHEN event_type = 'purchase' THEN ts END
                                   IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                        '%Y-%m-%d %H:%M:%S.%f') AS last_purchase
        FROM events""")),

    // As-of join as a NATIVE operator ([[graft.plans.AsofJoinExec]], the
    // custom LogicalPlan + SparkStrategy + SparkPlan extension): for every
    // click, the user's prevailing purchase (time and value) at-or-before
    // it. Same family as ts_asof_last_purchase's window spelling, but the
    // dedicated exec merges the two sorted sides in one forward pass per
    // partition — state columns never ride through the probe stream, and
    // per-partition state is one buffered row. Checked against DuckDB's own
    // native ASOF LEFT JOIN.
    "ts_asof_join_native" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val probes = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val states = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
        graft.plans.AsofJoin.left(probes, states,
            Seq("user_id" -> "p_user"), "ts", "p_ts")
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("last_purchase_ts"),
            col("p_value").as("last_purchase_value"))
      },
      oracle = Some("""
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               strftime(p.p_ts, '%Y-%m-%d %H:%M:%S.%f') AS last_purchase_ts,
               p.p_value AS last_purchase_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id AS p_user, ts AS p_ts,
                               value AS p_value
                        FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.p_user AND c.ts >= p.p_ts""")),

    // Last-touch attribution — the native as-of join composed into a real
    // analytics workload: each purchase is attributed to the last click
    // at-or-before it (AsofJoinExec, one merge pass per co-partitioned
    // key range), then revenue rolls up by attributed click hour with
    // unmatched purchases in an explicit 'unattributed' bucket. The oracle
    // runs DuckDB's native ASOF LEFT JOIN — the custom physical operator
    // is differentially checked inside a composition, not just standalone.
    "ts_attribution" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        graft.plans.AsofJoin.left(purchases, clicks,
            Seq("user_id" -> "c_user"), "ts", "c_ts")
          .groupBy(coalesce(
            date_format(date_trunc("hour", col("c_ts")), fmt),
            lit("unattributed")).as("click_hour"))
          .agg(dsum(col("value")).as("revenue"),
            count(lit(1)).as("n_purchases"))
      },
      oracle = Some(s"""
        WITH j AS (
          SELECT p.value, c.c_ts
          FROM (SELECT event_id, user_id, ts, value FROM events
                WHERE event_type = 'purchase') p
          ASOF LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts FROM events
                          WHERE event_type = 'click') c
            ON p.user_id = c.c_user AND p.ts >= c.c_ts)
        SELECT COALESCE(strftime(date_trunc('hour', c_ts),
                 '%Y-%m-%d %H:%M:%S'), 'unattributed') AS click_hour,
               ${sqlSum("value")} AS revenue,
               COUNT(*) AS n_purchases
        FROM j GROUP BY 1""")),

    // Inter-event-time profile: per-user median and p90 of the gaps
    // between consecutive events, in microseconds — the engagement-
    // cadence metric behind session-timeout tuning. Gaps stay in integer
    // MICROseconds end-to-end (Spark unix_micros ≡ DuckDB epoch_us,
    // both exact BIGINTs): truncating to seconds first diverges because
    // Spark's unix_timestamp truncates while DuckDB's epoch() keeps the
    // fraction and rounds on the cast. Then the deterministic ceil-rank
    // quantile spelling over the per-user gap streams.
    "ts_inter_event_time" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val gaps = Tables.load(s, dir, "events")
          .select($"user_id", $"event_id",
            unix_micros($"ts").as("tus"))
          .withColumn("gap", $"tus" - lag($"tus", 1).over(
            Window.partitionBy($"user_id").orderBy($"tus", $"event_id")))
          .filter($"gap".isNotNull)
        val part = Window.partitionBy($"user_id")
        val w = part.orderBy($"gap", $"event_id")
        def rank(q: Double) = ceil(lit(q) * $"n").cast("long")
        gaps
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(part))
          .filter($"rn" === rank(0.5) || $"rn" === rank(0.9))
          .groupBy($"user_id")
          .agg(
            max($"n").as("n_gaps"),
            max(when($"rn" === rank(0.5), $"gap")).as("p50_gap_us"),
            max(when($"rn" === rank(0.9), $"gap")).as("p90_gap_us"))
      },
      oracle = Some("""
        WITH g AS (
          SELECT user_id, event_id,
                 epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
                   PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
                   AS gap
          FROM events),
        r AS (
          SELECT user_id, event_id, gap,
                 ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY gap, event_id) AS rn,
                 COUNT(*) OVER (PARTITION BY user_id) AS n
          FROM g WHERE gap IS NOT NULL)
        SELECT user_id, MAX(n) AS n_gaps,
               MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                        THEN gap END) AS p50_gap_us,
               MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT)
                        THEN gap END) AS p90_gap_us
        FROM r WHERE rn = CAST(CEIL(0.5 * n) AS BIGINT)
           OR rn = CAST(CEIL(0.9 * n) AS BIGINT)
        GROUP BY user_id""")),

    // Period-over-period comparison (the BI staple): daily revenue per
    // event type with absolute and relative change vs the prior day —
    // exact-decimal daily sums, one lag window over aggregated days, and
    // a NULL (not a division blowup) where the prior day is missing or
    // zero. Growth is a ratio of two identical exact-decimal doubles.
    "ts_period_over_period" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val daily = Tables.load(s, dir, "events")
          .groupBy($"event_type", to_date($"ts").as("day"))
          .agg(dsum($"value").as("revenue"))
        val w = Window.partitionBy($"event_type").orderBy($"day")
        daily
          .withColumn("prev", lag($"revenue", 1).over(w))
          .select($"event_type", date_format($"day", "yyyy-MM-dd").as("day"),
            $"revenue",
            ($"revenue" - $"prev").as("abs_change"),
            when($"prev" =!= 0.0, ($"revenue" - $"prev") / $"prev")
              .as("pct_change"))
      },
      oracle = Some(s"""
        WITH daily AS (
          SELECT event_type, CAST(ts AS DATE) AS day,
                 ${sqlSum("value")} AS revenue
          FROM events GROUP BY 1, 2),
        l AS (
          SELECT event_type, day, revenue,
                 lag(revenue, 1) OVER (PARTITION BY event_type ORDER BY day)
                   AS prev
          FROM daily)
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, revenue,
               revenue - prev AS abs_change,
               CASE WHEN prev <> 0.0 THEN (revenue - prev) / prev END
                 AS pct_change
        FROM l""")),

    // Seasonality profile: hour-of-day activity index per event type —
    // each hour's exact-decimal mean volume over the days observed,
    // divided by the type's all-hours mean (a broadcast scalar per type).
    // Index > 1 = above-baseline hour. Two keyed aggregations; all
    // divisions over identical exact-decimal doubles.
    "ts_seasonality" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val byHour = Tables.load(s, dir, "events")
          .groupBy($"event_type", hour($"ts").as("hod"))
          .agg(count(lit(1)).cast("long").as("n"))
        val base = byHour.groupBy($"event_type".as("et"))
          .agg((sum($"n".cast(DecimalType(30, 6))).cast("double") /
            count(lit(1))).as("base"))
        byHour.join(broadcast(base), $"event_type" === $"et")
          .select($"event_type", $"hod", $"n",
            ($"n".cast("double") / $"base").as("seasonal_index"))
      },
      oracle = Some(s"""
        WITH byhour AS (
          SELECT event_type, CAST(hour(ts) AS INT) AS hod,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM events GROUP BY 1, 2),
        base AS (
          SELECT event_type AS et, ${sqlSum("n")} / COUNT(*) AS base
          FROM byhour GROUP BY 1)
        SELECT event_type, hod, n,
               CAST(n AS DOUBLE) / base AS seasonal_index
        FROM byhour JOIN base ON event_type = et""")),

    // Holt double exponential smoothing (level + trend), linearized: the
    // coupled recursion s_t = M·s_{t-1} + v·y_t unrolls to a finite
    // impulse response — the one-step forecast is Σ wₖ·y_{t-k} with
    // wₖ = (1,1)·Mᵏ·v computed at COMPILE TIME and injected as identical
    // double literals into both engines (the same trick ts_ewma uses, so
    // the sequential recursion parallelizes as one window of lags instead
    // of a serial scan per key). Rows without a full 12-lag history emit
    // NULL — principled truncation, no renormalization heuristics.
    "ts_holt" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val (ws, k) = (holtWeights, holtK)
        val hourly = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", $"ts"))
          .groupBy($"event_type", $"bucket")
          .agg((dsum($"value") / count(lit(1))).as("v"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val forecast = ws.zipWithIndex.map { case (wt, i) =>
          lit(wt) * lag($"v", i).over(w)
        }.reduceLeft(_ + _)
        hourly.select($"event_type", date_format($"bucket", fmt).as("bucket"),
          $"v",
          when(row_number().over(w) >= k + 1, forecast).as("holt_forecast"))
      },
      oracle = {
        val k = holtK
        val terms = holtWeights.zipWithIndex.map { case (wt, i) =>
          s"CAST($wt AS DOUBLE) * lag(v, $i) OVER wt"
        }.mkString(" + ")
        Some(s"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 ${sqlSum("value")} / COUNT(*) AS v
          FROM events GROUP BY 1, 2)
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, v,
               CASE WHEN ROW_NUMBER() OVER wt >= ${k + 1}
                    THEN $terms END AS holt_forecast
        FROM hourly
        WINDOW wt AS (PARTITION BY event_type ORDER BY bucket)""")
      }),

    // Forecast evaluation: WAPE and MAE of the Holt one-step forecast per
    // event type, over the rows where the forecast is defined — the
    // backtest that belongs next to any forecaster. Error terms are
    // |actual − forecast| on bit-identical doubles; the ratio of two
    // exact-decimal sums keeps WAPE order-independent.
    "ts_forecast_error" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val (ws, k) = (holtWeights, holtK)
        val hourly = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", $"ts"))
          .groupBy($"event_type", $"bucket")
          .agg((dsum($"value") / count(lit(1))).as("v"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val forecast = ws.zipWithIndex.map { case (wt, i) =>
          lit(wt) * lag($"v", i + 1).over(w)
        }.reduceLeft(_ + _)
        hourly
          .withColumn("f", when(row_number().over(w) >= k + 2, forecast))
          .filter($"f".isNotNull)
          .groupBy($"event_type")
          .agg(
            count(lit(1)).as("n_evaluated"),
            (dsum(abs($"v" - $"f")) / count(lit(1))).as("mae"),
            (dsum(abs($"v" - $"f")) / dsum(abs($"v"))).as("wape"))
      },
      oracle = {
        val terms = holtWeights.zipWithIndex.map { case (wt, i) =>
          s"CAST($wt AS DOUBLE) * lag(v, ${i + 1}) OVER wt"
        }.mkString(" + ")
        Some(s"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 ${sqlSum("value")} / COUNT(*) AS v
          FROM events GROUP BY 1, 2),
        f AS (
          SELECT event_type, v,
                 CASE WHEN ROW_NUMBER() OVER wt >= ${holtK + 2}
                      THEN $terms END AS f
          FROM hourly
          WINDOW wt AS (PARTITION BY event_type ORDER BY bucket))
        SELECT event_type, COUNT(*) AS n_evaluated,
               ${sqlSum("ABS(v - f)")} / COUNT(*) AS mae,
               ${sqlSum("ABS(v - f)")} / ${sqlSum("ABS(v)")} AS wape
        FROM f WHERE f IS NOT NULL
        GROUP BY event_type""")
      }),

    // CUSUM drift detection: per event type, the running sum of hourly
    // deviations from that type's global mean — the classic changepoint
    // statistic. The mean is an exact-decimal scalar broadcast back; the
    // cumulative sum runs in DECIMAL over the ordered hourly frame
    // (order-independent exactness; a double prefix sum would tie
    // correctness to accumulation order). Drift is flagged where |CUSUM|
    // exceeds 3× the type's mean — all from integer counts and exact
    // decimals, bit-stable in both engines.
    "ts_cusum" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
          .agg(count(lit(1)).cast("long").as("c"))
        val means = hourly.groupBy($"event_type".as("et"))
          .agg((sum($"c".cast(DecimalType(30, 6))).cast("double") /
            count(lit(1))).as("m"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        hourly.join(broadcast(means), $"event_type" === $"et")
          .withColumn("cusum",
            sum(($"c" - $"m").cast(DecimalType(30, 6))).over(w).cast("double"))
          .select($"event_type", date_format($"bucket", fmt).as("bucket"),
            $"c", $"cusum", (abs($"cusum") > lit(3.0) * $"m").as("drift"))
      },
      oracle = Some(s"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 CAST(COUNT(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2),
        means AS (
          SELECT event_type AS et, ${sqlSum("c")} / COUNT(*) AS m
          FROM hourly GROUP BY 1),
        j AS (
          SELECT h.event_type, h.bucket, h.c, m.m,
                 CAST(SUM(CAST(h.c - m.m AS DECIMAL(30,6))) OVER (
                   PARTITION BY h.event_type ORDER BY h.bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS cusum
          FROM hourly h JOIN means m ON h.event_type = m.et)
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               c, cusum, ABS(cusum) > 3.0 * m AS drift
        FROM j""")),

    // Rolling correlation (12-hour window Pearson between the hourly
    // click and purchase volumes) — the quant-desk rolling-beta shape.
    // Every moment (Σx, Σy, Σxy, Σx², Σy², n) is an INTEGER window sum of
    // integer counts, so both engines feed the identical values into one
    // shared double expression — bit-identical correlations with no
    // decimal scaffolding. Zero-variance windows are explicit NULLs, not
    // NaN/Inf. The frame runs over the global hourly series (bounded:
    // O(hours)); a per-entity variant would partition by the entity key
    // and keep the same frame.
    "ts_rolling_corr" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy(date_trunc("hour", $"ts").as("bucket"))
          .agg(
            sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
            sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
        val w = Window.orderBy($"bucket").rowsBetween(-11, 0)
        val (n, sx, sy, sxy, sxx, syy) = (
          count(lit(1)).over(w), sum($"x").over(w), sum($"y").over(w),
          sum($"x" * $"y").over(w), sum($"x" * $"x").over(w),
          sum($"y" * $"y").over(w))
        hourly
          .select(date_format($"bucket", fmt).as("bucket"), $"x", $"y",
            n.as("n"), sx.as("sx"), sy.as("sy"),
            sxy.as("sxy"), sxx.as("sxx"), syy.as("syy"))
          .select($"bucket", $"x", $"y",
            when(($"n" * $"sxx" - $"sx" * $"sx") > 0 &&
                ($"n" * $"syy" - $"sy" * $"sy") > 0,
              ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
                (sqrt(($"n" * $"sxx" - $"sx" * $"sx").cast("double")) *
                 sqrt(($"n" * $"syy" - $"sy" * $"sy").cast("double"))))
              .as("rolling_corr"))
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT date_trunc('hour', ts) AS bucket,
                 SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
                 SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
          FROM events GROUP BY 1),
        m AS (
          SELECT bucket, x, y,
                 COUNT(*)   OVER wr AS n,
                 SUM(x)     OVER wr AS sx,
                 SUM(y)     OVER wr AS sy,
                 SUM(x * y) OVER wr AS sxy,
                 SUM(x * x) OVER wr AS sxx,
                 SUM(y * y) OVER wr AS syy
          FROM hourly
          WINDOW wr AS (ORDER BY bucket ROWS BETWEEN 11 PRECEDING
                        AND CURRENT ROW))
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                    THEN CAST(n * sxy - sx * sy AS DOUBLE) /
                         (SQRT(CAST(n * sxx - sx * sx AS DOUBLE)) *
                          SQRT(CAST(n * syy - sy * sy AS DOUBLE)))
               END AS rolling_corr
        FROM m""")),

    // Peak detection: hours where an event type's count is a strict local
    // maximum over the run-length-collapsed series — equal-valued plateaus
    // collapse to one run first, so the lookahead compares against the
    // next/previous DIFFERING value: an ascending plateau (3,5,5,7) is NOT
    // a peak, and a true plateau peak reports its FIRST hour,
    // deterministically. The alerting primitive downstream of [ts_acf]'s
    // seasonality screen. Integer counts, one run-id window, one lag/lead
    // window; at 100 TB the pre-aggregated grid is ~types×hours rows, so
    // the windows are trivial no matter the input volume.
    "ts_peaks" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val runs = hourly
          .withColumn("new_run",
            when(!(lag($"x", 1).over(w) <=> $"x"), 1L).otherwise(0L))
          .withColumn("run_id", sum($"new_run").over(w))
          .groupBy($"event_type", $"run_id")
          .agg(min($"bucket").as("bucket"), min($"x").as("x"))
        val wr = Window.partitionBy($"event_type").orderBy($"run_id")
        runs
          .withColumn("prev_x", lag($"x", 1).over(wr))
          .withColumn("next_x", lead($"x", 1).over(wr))
          .filter($"prev_x".isNotNull && $"next_x".isNotNull &&
            $"x" > $"prev_x" && $"x" > $"next_x")
          .select($"event_type", date_format($"bucket", fmt).as("bucket"),
            $"x", $"prev_x", $"next_x")
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        chg AS (
          SELECT event_type, bucket, x,
                 CASE WHEN x IS DISTINCT FROM lag(x) OVER w
                      THEN 1 ELSE 0 END AS new_run
          FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        runs AS (
          SELECT event_type, run_id, MIN(bucket) AS bucket, MIN(x) AS x
          FROM (SELECT event_type, bucket, x,
                       SUM(new_run) OVER (PARTITION BY event_type
                                          ORDER BY bucket) AS run_id
                FROM chg)
          GROUP BY event_type, run_id),
        l AS (
          SELECT event_type, bucket, x,
                 lag(x) OVER w AS prev_x, lead(x) OVER w AS next_x
          FROM runs WINDOW w AS (PARTITION BY event_type ORDER BY run_id))
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               CAST(x AS BIGINT) AS x, CAST(prev_x AS BIGINT) AS prev_x,
               CAST(next_x AS BIGINT) AS next_x
        FROM l
        WHERE prev_x IS NOT NULL AND next_x IS NOT NULL
          AND x > prev_x AND x > next_x""")),

    // Autocorrelation (ACF lags 1-3) of each event type's hourly count
    // series — the seasonality screen that decides whether a series needs
    // the [ts_seasonality] profile at all. Every aggregate is an INTEGER
    // moment (Σx, Σx², Σx·x_lag, head/tail sums over the paired range);
    // the ACF estimator is then one double expression over exactly-cast
    // integers — +,-,*,/ are correctly-rounded IEEE ops, so both engines
    // produce identical bits, the same contract ts_rolling_corr uses.
    // One shuffle to the hourly grid, one lag window, one final agg; at
    // 100 TB the grid is ~|types|×|hours| rows — tiny regardless of
    // input volume, the heavy lifting is the pre-aggregation.
    "ts_acf" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val hourly = Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("bucket"))
          .agg(count(lit(1)).as("x"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val lagged = hourly.select($"event_type", $"x",
          lag($"x", 1).over(w).as("x1"),
          lag($"x", 2).over(w).as("x2"),
          lag($"x", 3).over(w).as("x3"))
        def moments(k: Int) = {
          val xk = col(s"x$k")
          Seq(
            sum($"x" * xk).cast("double").as(s"c$k"),
            sum(when(xk.isNotNull, $"x")).cast("double").as(s"h$k"),
            sum(xk).cast("double").as(s"t$k"))
        }
        val agg = lagged.groupBy($"event_type").agg(
          count(lit(1)).cast("double").as("n"),
          (Seq(
            sum($"x").cast("double").as("s"),
            sum($"x" * $"x").cast("double").as("q")) ++
            (1 to 3).flatMap(moments)): _*)
        val m = $"s" / $"n"
        val den = $"q" - $"n" * m * m
        def acf(k: Int) =
          when(den > 0d,
            (col(s"c$k") - m * (col(s"h$k") + col(s"t$k")) +
              ($"n" - lit(k.toDouble)) * m * m) / den).as(s"acf$k")
        agg.select($"event_type", $"n".cast("long").as("n_buckets"),
          acf(1), acf(2), acf(3))
      },
      oracle = Some("""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 COUNT(*) AS x
          FROM events GROUP BY 1, 2),
        l AS (
          SELECT event_type, x,
                 lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
                 lag(x, 3) OVER w AS x3
          FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)),
        a AS (
          SELECT event_type,
                 CAST(COUNT(*) AS DOUBLE) AS n,
                 CAST(SUM(x) AS DOUBLE) AS s,
                 CAST(SUM(x * x) AS DOUBLE) AS q,
                 CAST(SUM(x * x1) AS DOUBLE) AS c1,
                 CAST(SUM(CASE WHEN x1 IS NOT NULL THEN x END) AS DOUBLE) AS h1,
                 CAST(SUM(x1) AS DOUBLE) AS t1,
                 CAST(SUM(x * x2) AS DOUBLE) AS c2,
                 CAST(SUM(CASE WHEN x2 IS NOT NULL THEN x END) AS DOUBLE) AS h2,
                 CAST(SUM(x2) AS DOUBLE) AS t2,
                 CAST(SUM(x * x3) AS DOUBLE) AS c3,
                 CAST(SUM(CASE WHEN x3 IS NOT NULL THEN x END) AS DOUBLE) AS h3,
                 CAST(SUM(x3) AS DOUBLE) AS t3
          FROM l GROUP BY 1)
        SELECT event_type, CAST(n AS BIGINT) AS n_buckets,
               CASE WHEN (q - n * (s / n) * (s / n)) > 0 THEN
                 (c1 - (s / n) * (h1 + t1) + (n - 1) * (s / n) * (s / n))
                   / (q - n * (s / n) * (s / n)) END AS acf1,
               CASE WHEN (q - n * (s / n) * (s / n)) > 0 THEN
                 (c2 - (s / n) * (h2 + t2) + (n - 2) * (s / n) * (s / n))
                   / (q - n * (s / n) * (s / n)) END AS acf2,
               CASE WHEN (q - n * (s / n) * (s / n)) > 0 THEN
                 (c3 - (s / n) * (h3 + t3) + (n - 3) * (s / n) * (s / n))
                   / (q - n * (s / n) * (s / n)) END AS acf3
        FROM a""")),

    // Native as-of, FORWARD direction: each click's NEXT purchase at-or-
    // after it (the merge_asof(direction='forward') contract). Same exec,
    // one merge pass; the forward candidate is simply the lookahead row the
    // backward merge already maintains. DuckDB's ASOF accepts any
    // inequality — `c.ts <= p.p_ts` selects the smallest p_ts ≥ ts.
    "ts_asof_native_forward" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val probes = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val states = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
        graft.plans.AsofJoin.left(probes, states,
            Seq("user_id" -> "p_user"), "ts", "p_ts",
            direction = graft.plans.AsofJoin.Forward)
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("next_purchase_ts"),
            col("p_value").as("next_purchase_value"))
      },
      oracle = Some("""
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               strftime(p.p_ts, '%Y-%m-%d %H:%M:%S.%f') AS next_purchase_ts,
               p.p_value AS next_purchase_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id AS p_user, ts AS p_ts,
                               value AS p_value
                        FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.p_user AND c.ts <= p.p_ts""")),

    // Native as-of with a TOLERANCE (merge_asof(tolerance=...)): the
    // prevailing purchase only counts within 6 hours of the click —
    // staleness-bounded feature lookup. The exec nulls the match at emit
    // (the greatest ≤ candidate is the closest; if IT is out of tolerance,
    // every other one is too); DuckDB has no tolerance knob, so the oracle
    // CASE-nulls the same backward match past the same bound.
    "ts_asof_tolerance" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val probes = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val states = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
        graft.plans.AsofJoin.left(probes, states,
            Seq("user_id" -> "p_user"), "ts", "p_ts",
            tolerance = Some(6L * 3600 * 1000000)) // 6 h in micros
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("recent_purchase_ts"),
            col("p_value").as("recent_purchase_value"))
      },
      oracle = Some("""
        SELECT c.event_id, c.user_id,
               strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               CASE WHEN epoch_us(c.ts) - epoch_us(p.p_ts) <= 21600000000
                    THEN strftime(p.p_ts, '%Y-%m-%d %H:%M:%S.%f')
               END AS recent_purchase_ts,
               CASE WHEN epoch_us(c.ts) - epoch_us(p.p_ts) <= 21600000000
                    THEN p.p_value
               END AS recent_purchase_value
        FROM (SELECT event_id, user_id, ts FROM events
              WHERE event_type = 'click') c
        ASOF LEFT JOIN (SELECT user_id AS p_user, ts AS p_ts,
                               value AS p_value
                        FROM events WHERE event_type = 'purchase') p
          ON c.user_id = p.p_user AND c.ts >= p.p_ts""")),

    // Native as-of, NEAREST direction: the purchase closest in absolute
    // time, either side, ties toward the earlier (backward) match. The
    // merge keeps the backward candidate buffered while the lookahead IS
    // the forward candidate, so nearest costs the same one pass. DuckDB
    // has no nearest mode — the oracle runs BOTH directional ASOF joins
    // and picks per row with the identical tie rule (≤ keeps backward).
    "ts_asof_native_nearest" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val probes = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"))
        val states = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
            col("value").as("p_value"))
        graft.plans.AsofJoin.left(probes, states,
            Seq("user_id" -> "p_user"), "ts", "p_ts",
            direction = graft.plans.AsofJoin.Nearest)
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
              .as("nearest_purchase_ts"),
            col("p_value").as("nearest_purchase_value"))
      },
      oracle = Some("""
        WITH c AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'click'),
             p AS (SELECT user_id AS p_user, ts AS p_ts, value AS p_value
                   FROM events WHERE event_type = 'purchase'),
             b AS (SELECT c.event_id, c.user_id, c.ts,
                          p.p_ts AS b_ts, p.p_value AS b_value
                   FROM c ASOF LEFT JOIN p
                     ON c.user_id = p.p_user AND c.ts >= p.p_ts),
             f AS (SELECT c.event_id, p.p_ts AS f_ts, p.p_value AS f_value
                   FROM c ASOF LEFT JOIN p
                     ON c.user_id = p.p_user AND c.ts <= p.p_ts)
        SELECT b.event_id, b.user_id,
               strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
               strftime(CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND
                                  epoch_us(b.ts) - epoch_us(b.b_ts)
                                    <= epoch_us(f.f_ts) - epoch_us(b.ts))
                             THEN b.b_ts ELSE f.f_ts END,
                        '%Y-%m-%d %H:%M:%S.%f') AS nearest_purchase_ts,
               CASE WHEN f.f_ts IS NULL OR (b.b_ts IS NOT NULL AND
                          epoch_us(b.ts) - epoch_us(b.b_ts)
                            <= epoch_us(f.f_ts) - epoch_us(b.ts))
                    THEN b.b_value ELSE f.f_value END AS nearest_purchase_value
        FROM b JOIN f ON b.event_id = f.event_id""")),

    // Range join, bucketed (the 100 TB shape): clicks within the 5 minutes
    // before each error, same user. Each error probes its own 5-minute
    // bucket and the previous one — an equi-join on (user, bucket) plus a
    // residual range filter; never a full theta-join.
    "ts_range_join" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val bucket = (c: org.apache.spark.sql.Column) =>
          floor(unix_timestamp(c) / 300).cast("long")
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id").as("eu"), col("ts").as("ets"))
          .withColumn("probe", explode(array(bucket(col("ets")), bucket(col("ets")) - 1)))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("ts").as("cts"))
          .withColumn("cb", bucket(col("cts")))
        errors.join(clicks,
            col("eu") === col("cu") && col("probe") === col("cb") &&
              col("cts") >= col("ets") - expr("INTERVAL 5 MINUTES") &&
              col("cts") < col("ets"), "left")
          .groupBy(col("event_id"))
          .agg(count(col("cts")).as("n_clicks_5m"))
      },
      oracle = Some("""
        SELECT e.event_id,
               (SELECT COUNT(*) FROM events c
                WHERE c.user_id = e.user_id AND c.event_type = 'click'
                  AND c.ts >= e.ts - INTERVAL '5 minutes' AND c.ts < e.ts)
                 AS n_clicks_5m
        FROM events e WHERE e.event_type = 'error'""")),

    // Linear interpolation over gap-filled series: the hourly mean `value`
    // per event type, with missing hours filled by interpolating between
    // the surrounding observed points (edges extend the nearest value).
    // One window pass per direction over the spine — prev/next observed
    // value and timestamp via IGNORE NULLS frames, then pure arithmetic;
    // no self-join, state bounded by the frame. Every float op (mean =
    // decimal-sum/count, then one fused prev+(next−prev)·ratio) is written
    // in the same association order on both engines.
    "ts_interpolate" -> QuerySpec(
      fn = (s, dir) => {
        val ev = Tables.load(s, dir, "events")
        val hourly = ev
          .groupBy(window(col("ts"), "1 hour").getField("start").as("bucket"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), (dsum(col("value")) / count(lit(1))).as("v"))
        val spine = ev
          .agg(date_trunc("hour", min(col("ts"))).as("mn"),
            date_trunc("hour", max(col("ts"))).as("mx"))
          .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("bucket"))
          .crossJoin(ev.select(col("event_type")).distinct())
        val filled = spine.join(hourly, Seq("bucket", "event_type"), "left")
          .withColumn("t", unix_timestamp(col("bucket")))
        val back = Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = Window.partitionBy(col("event_type")).orderBy(col("t"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        filled
          .withColumn("pv", last(col("v"), ignoreNulls = true).over(back))
          .withColumn("pt", last(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(back))
          .withColumn("nv", first(col("v"), ignoreNulls = true).over(fwd))
          .withColumn("nt", first(when(col("v").isNotNull, col("t")), ignoreNulls = true).over(fwd))
          .select(
            date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss").as("bucket"),
            col("event_type"),
            coalesce(col("n"), lit(0L)).as("n"),
            when(col("v").isNotNull, col("v"))
              .when(col("pv").isNull, col("nv"))
              .when(col("nv").isNull, col("pv"))
              .otherwise(col("pv") + (col("nv") - col("pv")) *
                ((col("t") - col("pt")) / (col("nt") - col("pt"))))
              .as("v_interp"))
      },
      oracle = Some(s"""
        WITH hourly AS (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket, event_type,
                 COUNT(*) AS n, ${sqlSum("value")} / COUNT(*) AS v
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT min(time_bucket(INTERVAL '1 hour', ts)) AS mn,
                 max(time_bucket(INTERVAL '1 hour', ts)) AS mx
          FROM events),
        spine AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL '1 hour')) AS bucket
          FROM bounds),
        types AS (SELECT DISTINCT event_type FROM events),
        filled AS (
          SELECT bucket, event_type, n, v, epoch(bucket) AS t
          FROM spine CROSS JOIN types
          LEFT JOIN hourly USING (bucket, event_type)),
        w AS (
          SELECT *,
                 last_value(v IGNORE NULLS) OVER wb AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wb AS pt,
                 first_value(v IGNORE NULLS) OVER wf AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wf AS nt
          FROM filled
          WINDOW
            wb AS (PARTITION BY event_type ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wf AS (PARTITION BY event_type ORDER BY t
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, event_type,
               COALESCE(n, 0) AS n,
               CASE WHEN v IS NOT NULL THEN v
                    WHEN pv IS NULL THEN nv
                    WHEN nv IS NULL THEN pv
                    ELSE pv + (nv - pv) * ((t - pt) / (nt - pt)) END AS v_interp
        FROM w""")),

    // ------------------------------------------------------------------
    // Rolling z-score anomaly detection: each event is scored against the
    // mean/stddev of the preceding 100 events of its type (a trailing
    // baseline that adapts to drift), and |z| > 3 flags the outliers.
    // One shuffle on event_type; the frame statistics are decimal-exact
    // sums (order-independent, so Spark's sliding-frame accumulation and
    // DuckDB's segment tree agree bit-for-bit), with the variance derived
    // in double by the same expression on both engines. Per-row state is
    // the 101-row frame — constant, so the operator streams at 100 TB
    // (and the same trailing stats run under mapGroupsWithState live).
    "ts_anomaly" -> QuerySpec(
      fn = (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        // O(n) frame stats via prefix sums: a sliding decimal SUM would be
        // re-scanned per row (O(n·window) additions), but the trailing
        // [-100,-1] frame equals cum(i−1) − cum(i−101) of the RUNNING sum,
        // which Spark maintains incrementally. Decimal arithmetic is
        // exact, so the subtraction form is bit-identical to the direct
        // frame sum the oracle (and the live AnomalyStream) compute.
        val run = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, 0)
        val seq = Window.partitionBy(col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        def trail(cum: Column): Column =
          coalesce(lag(cum, 1).over(seq), lit(java.math.BigDecimal.ZERO)) -
            coalesce(lag(cum, 101).over(seq), lit(java.math.BigDecimal.ZERO))
        Tables.load(s, dir, "events")
          .withColumn("cum_v",
            sum(col("value").cast(DecimalType(30, 6))).over(run))
          .withColumn("cum_q",
            sum((col("value") * col("value")).cast(DecimalType(30, 6))).over(run))
          .withColumn("cnt", least(row_number().over(seq) - 1, lit(100)))
          .withColumn("sm", trail(col("cum_v")).cast("double"))
          .withColumn("sq", trail(col("cum_q")).cast("double"))
          .withColumn("mean", col("sm") / col("cnt"))
          .withColumn("variance",
            (col("sq") - col("sm") * col("sm") / col("cnt")) / (col("cnt") - 1))
          .filter(col("cnt") >= 30 && col("variance") > 0 &&
            abs((col("value") - col("mean")) / sqrt(col("variance"))) > 3)
          .select(col("event_id"), col("event_type"), col("value"),
            round((col("value") - col("mean")) / sqrt(col("variance")), 4).as("z"))
      },
      oracle = Some("""
        WITH scored AS (
          SELECT event_id, event_type, value,
                 COUNT(*) OVER wf AS cnt,
                 CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER wf AS DOUBLE) AS sm,
                 CAST(SUM(CAST((value * value) AS DECIMAL(30,6))) OVER wf
                      AS DOUBLE) AS sq
          FROM events
          WINDOW wf AS (PARTITION BY event_type ORDER BY ts, event_id
                        ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING))
        SELECT event_id, event_type, value,
               ROUND((value - sm / cnt) /
                     SQRT((sq - sm * sm / cnt) / (cnt - 1)), 4) AS z
        FROM scored
        WHERE cnt >= 30 AND (sq - sm * sm / cnt) / (cnt - 1) > 0
          AND ABS((value - sm / cnt) /
                  SQRT((sq - sm * sm / cnt) / (cnt - 1))) > 3""")),

    // ------------------------------------------------------------------
    // M4 downsampling: per (event_type, hour) keep ONLY the first, last,
    // min-value and max-value events — the decimation that preserves the
    // visual/analytic extremes of a series while dropping ~everything
    // else. All four ranks share one partitioning (a single shuffle, four
    // in-partition sort orders); output size is ≤ 4 rows per bucket no
    // matter how dense the input — at 100 TB that's the difference
    // between plotting terabytes and kilobytes.
    "ts_downsample_m4" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        def w(cols: Column*) = Window
          .partitionBy($"event_type", $"bucket").orderBy(cols: _*)
        Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", $"ts"))
          .withColumn("rn_first", row_number().over(w($"ts", $"event_id")))
          .withColumn("rn_last", row_number().over(w($"ts".desc, $"event_id".desc)))
          .withColumn("rn_min", row_number().over(w($"value", $"event_id")))
          .withColumn("rn_max", row_number().over(w($"value".desc, $"event_id".desc)))
          .filter($"rn_first" === 1 || $"rn_last" === 1 ||
            $"rn_min" === 1 || $"rn_max" === 1)
          .select($"event_id", $"event_type",
            date_format($"bucket", fmt).as("bucket"), $"value")
      },
      oracle = Some("""
        SELECT event_id, event_type,
               strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, value
        FROM (
          SELECT event_id, event_type, value, bucket,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY ts, event_id) AS rn_first,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY ts DESC, event_id DESC) AS rn_last,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY value, event_id) AS rn_min,
                 row_number() OVER (PARTITION BY event_type, bucket
                   ORDER BY value DESC, event_id DESC) AS rn_max
          FROM (SELECT *, date_trunc('hour', ts) AS bucket FROM events))
        WHERE rn_first = 1 OR rn_last = 1 OR rn_min = 1 OR rn_max = 1""")),

    // ------------------------------------------------------------------
    // Exponential smoothing (EWMA, α=0.3) over each type's hourly mean
    // series, as a FINITE 12-bucket convolution: ewma_t =
    // Σ wₖ·v₍t−k₎ / Σ wₖ over the lags present. Truncating the tail
    // (w₁₁ ≈ 0.006) turns the recursive definition into pure window
    // arithmetic — no sequential dependency, so it parallelizes like any
    // window (one shuffle on event_type) instead of forcing a serial scan
    // per key. Weights are compile-time double literals injected into
    // BOTH engines' expressions, and the hourly means are decimal-exact,
    // so the smoothed series is bit-identical.
    "ts_ewma" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val alpha = 0.3
        val ws = (0 until 12).map(k => alpha * math.pow(1 - alpha, k))
        val hourly = Tables.load(s, dir, "events")
          .withColumn("bucket", date_trunc("hour", $"ts"))
          .groupBy($"event_type", $"bucket")
          .agg((dsum($"value") / count(lit(1))).as("v"))
        val w = Window.partitionBy($"event_type").orderBy($"bucket")
        val lags = ws.indices.map(k => lag($"v", k).over(w))
        val num = ws.indices.map { k =>
          when(lags(k).isNotNull, lit(ws(k)) * lags(k)).otherwise(lit(0.0))
        }.reduceLeft(_ + _)
        val den = ws.indices.map { k =>
          when(lags(k).isNotNull, lit(ws(k))).otherwise(lit(0.0))
        }.reduceLeft(_ + _)
        hourly
          .select($"event_type", date_format($"bucket", fmt).as("bucket"),
            $"v", (num / den).as("ewma"))
      },
      oracle = {
        val alpha = 0.3
        val ws = (0 until 12).map(k => alpha * math.pow(1 - alpha, k))
        val num = ws.indices.map { k =>
          s"""CASE WHEN lag(v, $k) OVER wt IS NOT NULL
              THEN CAST(${ws(k)} AS DOUBLE) * lag(v, $k) OVER wt
              ELSE 0.0 END"""
        }.mkString(" + ")
        val den = ws.indices.map { k =>
          s"""CASE WHEN lag(v, $k) OVER wt IS NOT NULL
              THEN CAST(${ws(k)} AS DOUBLE) ELSE 0.0 END"""
        }.mkString(" + ")
        Some(s"""
        WITH hourly AS (
          SELECT event_type, date_trunc('hour', ts) AS bucket,
                 ${sqlSum("value")} / COUNT(*) AS v
          FROM events GROUP BY 1, 2)
        SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               v, ($num) / ($den) AS ewma
        FROM hourly
        WINDOW wt AS (PARTITION BY event_type ORDER BY bucket)""")
      }),

    // ------------------------------------------------------------------
    // Sliding DISTINCT count (trailing-24h active users per hour): no
    // engine supports COUNT(DISTINCT) over a window frame, and naive
    // per-hour re-scans are quadratic. The scalable shape: dedup the
    // stream to (user, hour) pairs FIRST (the only pass over raw events,
    // shrinking 100 TB to |users|×|hours|), then expand each pair into
    // the ≤24 hour-buckets it is visible in — a bounded 24× fan-out of
    // the SMALL deduped set — and count distinct users per bucket. Two
    // shuffles over pair-scale data, never event-scale.
    "ts_sliding_distinct" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val pairs = Tables.load(s, dir, "events")
          .select($"user_id", date_trunc("hour", $"ts").as("hour"))
          .distinct()
        // §2.5 widening before the 24× expansion: AQE coalesces the small
        // deduped pair set to one partition, so the explode + partial
        // distinct-agg ran on a single task (round-15 stage profile: 0.9 s
        // on 1 task; `Bench <query>`'s record re-measures). Keyed on
        // user_id; no-op once the pair set is big.
        graft.api.Fanout.widenBy(pairs, $"user_id")
          .select($"user_id", explode(expr(
            "sequence(hour, hour + INTERVAL 23 HOURS, INTERVAL 1 HOUR)"))
            .as("bucket"))
          .groupBy($"bucket")
          .agg(countDistinct($"user_id").as("active_24h"))
          // Trailing windows only count buckets the data can fully reach;
          // the tail past the last event is an artifact of the expansion.
          .join(pairs.select(max($"hour").as("mx")).hint("broadcast"),
            $"bucket" <= $"mx")
          .select(date_format($"bucket", fmt).as("bucket"), $"active_24h")
      },
      oracle = Some("""
        WITH pairs AS (
          SELECT DISTINCT user_id, date_trunc('hour', ts) AS hour
          FROM events),
        expanded AS (
          SELECT user_id,
                 unnest(generate_series(hour, hour + INTERVAL 23 HOURS,
                                        INTERVAL 1 HOUR)) AS bucket
          FROM pairs)
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               COUNT(DISTINCT user_id) AS active_24h
        FROM expanded
        WHERE bucket <= (SELECT max(hour) FROM pairs)
        GROUP BY bucket""")),

    // ------------------------------------------------------------------
    // Point-in-time join (the feature-store lookup): each order is joined
    // to the customer's priority state STRICTLY BEFORE its own timestamp —
    // the leakage-safe "features as of just before the event" semantics
    // training pipelines need. No interval/theta join: state changes and
    // probes union into one stream, and an IGNORE NULLS last_value window
    // picks each probe's latest preceding change — one shuffle on the
    // entity key regardless of how many versions an entity has. Equal
    // timestamps sort probes before changes, so a same-instant change is
    // correctly invisible to the probe.
    "ts_pit_join" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val orders = Tables.load(s, dir, "orders")
        val w = Window.partitionBy($"o_custkey")
          .orderBy($"o_orderdate", $"o_orderkey")
        val changes = orders
          .withColumn("prev", lag($"o_orderpriority", 1).over(w))
          .filter($"prev".isNull || $"prev" =!= $"o_orderpriority")
          .select($"o_custkey".as("k"), $"o_orderdate".as("t"),
            lit(1).as("tag"), $"o_orderkey".as("oid"),
            $"o_orderpriority".as("prio"))
        val probes = orders.select($"o_custkey".as("k"), $"o_orderdate".as("t"),
          lit(0).as("tag"), $"o_orderkey".as("oid"),
          lit(null).cast("string").as("prio"))
        val wu = Window.partitionBy($"k").orderBy($"t", $"tag", $"oid")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        changes.unionByName(probes)
          .withColumn("prio_before", last($"prio", ignoreNulls = true).over(wu))
          .filter($"tag" === 0)
          .select($"oid".as("o_orderkey"), $"k".as("o_custkey"), $"prio_before")
      },
      oracle = Some("""
        WITH changes AS (
          SELECT o_custkey AS k, o_orderdate AS t, 1 AS tag,
                 o_orderkey AS oid, o_orderpriority AS prio
          FROM (
            SELECT *, lag(o_orderpriority) OVER (PARTITION BY o_custkey
                        ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders)
          WHERE prev IS NULL OR prev <> o_orderpriority),
        probes AS (
          SELECT o_custkey AS k, o_orderdate AS t, 0 AS tag,
                 o_orderkey AS oid, CAST(NULL AS VARCHAR) AS prio
          FROM orders),
        uni AS (SELECT * FROM changes UNION ALL SELECT * FROM probes)
        SELECT oid AS o_orderkey, k AS o_custkey,
               last_value(prio IGNORE NULLS) OVER (PARTITION BY k
                 ORDER BY t, tag, oid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS prio_before
        FROM uni
        QUALIFY tag = 0""")),

    // ------------------------------------------------------------------
    // Trending entities: top-3 most active users per hour (rank over
    // hourly activity counts). Two exchanges — the (hour, user) count and
    // the per-hour rank — both on aggregated rows; the raw event scan
    // never shuffles twice.
    "ts_trending" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"bucket")
          .orderBy($"n".desc, $"user_id")
        Tables.load(s, dir, "events")
          .groupBy(date_trunc("hour", $"ts").as("bucket"), $"user_id")
          .agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(w))
          .filter($"rnk" <= 3)
          .select(date_format($"bucket", fmt).as("bucket"),
            $"user_id", $"n", $"rnk".cast("int").as("rnk"))
      },
      oracle = Some("""
        SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
               user_id, n, CAST(rnk AS INT) AS rnk
        FROM (
          SELECT bucket, user_id, n,
                 row_number() OVER (PARTITION BY bucket
                   ORDER BY n DESC, user_id) AS rnk
          FROM (SELECT date_trunc('hour', ts) AS bucket, user_id,
                       COUNT(*) AS n
                FROM events GROUP BY 1, 2))
        WHERE rnk <= 3""")),

    // ------------------------------------------------------------------
    // Gaps and islands (longest consecutive-day streak per user): the
    // island id is day − row_number — constant exactly while days run
    // consecutively — so streaks fall out of two cheap aggregations after
    // a (user, day) dedup. Everything shuffles on user_id at (user, day)
    // granularity, never event granularity; no self-joins over gaps.
    "ts_streaks" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val w = Window.partitionBy($"user_id").orderBy($"day")
        Tables.load(s, dir, "events")
          .select($"user_id",
            datediff(to_date($"ts"), to_date(lit("2024-01-01"))).as("day"))
          .distinct()
          .withColumn("grp", $"day" - row_number().over(w))
          .groupBy($"user_id", $"grp")
          .agg(count(lit(1)).as("len"))
          .groupBy($"user_id")
          .agg(max($"len").as("longest_streak"), count(lit(1)).as("n_streaks"))
      },
      oracle = Some("""
        SELECT user_id, MAX(len) AS longest_streak,
               COUNT(*) AS n_streaks
        FROM (
          SELECT user_id, grp, COUNT(*) AS len
          FROM (
            SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id
                                            ORDER BY day) AS grp
            FROM (SELECT DISTINCT user_id,
                         date_diff('day', DATE '2024-01-01',
                                   CAST(ts AS DATE)) AS day
                  FROM events))
          GROUP BY user_id, grp)
        GROUP BY user_id""")),

    // ------------------------------------------------------------------
    // Classical additive time-series decomposition (trend + seasonal +
    // residual — the moving-average form of STL) of each type's hourly
    // volume series:
    //   trend    = centered 25-hour moving average (full windows only);
    //   seasonal = hour-of-day mean of the detrended series;
    //   residual = series − trend − seasonal.
    // Exactness discipline: summing detrended DOUBLES would be partial-
    // aggregation-order-dependent, so the detrended series is carried in
    // 25ths as the INTEGER 25·y − Σ₂₅y (window sums of counts), seasonal
    // means stay integer-ratio, and trend/seasonal/residual each become
    // ONE identically-spelled double expression — bit-identical at any
    // parallelism. The grid is ~types×hours rows; one shuffle builds it,
    // one window pass and one hour-of-day aggregate decompose it. Windows
    // are over OBSERVED hours (gap-fill first via ts_gap_fill when the
    // calendar matters); partial-history edges emit NULL, not a
    // renormalized guess.
    "ts_decompose" -> QuerySpec(
      fn = (s, dir) => {
        import s.implicits._
        val grid = Tables.load(s, dir, "events")
          .groupBy($"event_type", date_trunc("hour", $"ts").as("hr"))
          .agg(count(lit(1)).cast("long").as("y"))
        val w = Window.partitionBy($"event_type").orderBy($"hr")
          .rowsBetween(-12, 12)
        // Seasonal as a SECOND WINDOW over (type, hour-of-day) rather than
        // a groupBy + join back: the grid is built (and events scanned)
        // exactly once, and sum/count over the hod partition ignore the
        // NULL det25 edges — same integer moments the join spelling had.
        val ws = Window.partitionBy($"event_type", hour($"hr"))
        grid
          .withColumn("sum25", sum($"y").over(w))
          .withColumn("cnt25", count(lit(1)).over(w))
          .withColumn("det25",
            when($"cnt25" === 25, lit(25L) * $"y" - $"sum25"))
          .withColumn("seasonal",
            sum($"det25").over(ws).cast("double") /
              (lit(25.0) * count($"det25").over(ws)))
          .select($"event_type",
            date_format($"hr", "yyyy-MM-dd HH:00").as("hr"), $"y",
            when($"cnt25" === 25, $"sum25".cast("double") / 25.0).as("trend"),
            $"seasonal",
            when($"det25".isNotNull && $"seasonal".isNotNull,
              $"det25".cast("double") / 25.0 - $"seasonal").as("residual"))
      },
      oracle = Some("""
        WITH grid AS (
          SELECT event_type, date_trunc('hour', ts) AS hr,
                 CAST(COUNT(*) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        t AS (
          SELECT event_type, hr, y,
                 SUM(y) OVER w AS sum25,
                 COUNT(*) OVER w AS cnt25,
                 CASE WHEN COUNT(*) OVER w = 25
                      THEN 25 * y - SUM(y) OVER w END AS det25
          FROM grid
          WINDOW w AS (PARTITION BY event_type ORDER BY hr
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
        s AS (
          SELECT event_type, hr, y, sum25, cnt25, det25,
                 CAST(SUM(det25) OVER ws AS DOUBLE)
                   / (25.0 * COUNT(det25) OVER ws) AS seasonal
          FROM t
          WINDOW ws AS (PARTITION BY event_type, hour(hr)))
        SELECT event_type, strftime(hr, '%Y-%m-%d %H:00') AS hr, y,
               CASE WHEN cnt25 = 25
                    THEN CAST(sum25 AS DOUBLE) / 25.0 END AS trend,
               seasonal,
               CASE WHEN det25 IS NOT NULL AND seasonal IS NOT NULL
                    THEN CAST(det25 AS DOUBLE) / 25.0 - seasonal
                    END AS residual
        FROM s"""))
  )
}
