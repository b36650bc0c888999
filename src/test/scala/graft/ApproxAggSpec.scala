package graft

import org.apache.spark.sql.functions._

/** Sketch aggregates: the oracle-checked query emits error-bound booleans
  * (each engine checks its own sketch); this spec bounds the RAW relative
  * error tighter on the Spark side, so a degrading sketch fails here before
  * it ever widens past the query's 10% gate. */
class ApproxAggSpec extends SparkSpec {

  test("approx distinct count and percentile stay within tolerance of exact") {
    val rows = SparkEntry.queries("rel_agg_approx")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("parts_within_10pct"), s"HLL out of bound: $r")
      assert(r.getAs[Boolean]("median_within_10pct"), s"percentile out of bound: $r")
    }

    val raw = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("approx_median"),
        median(col("l_extendedprice")).as("exact_median"))
      .collect()
    raw.foreach { r =>
      val approxParts = r.getAs[Long]("approx_parts").toDouble
      val exactParts = r.getAs[Long]("exact_parts").toDouble
      assert(math.abs(approxParts - exactParts) / exactParts < 0.05,
        s"HLL error too large: $approxParts vs $exactParts")
      val approxMed = r.getAs[Double]("approx_median")
      val exactMed = r.getAs[Double]("exact_median")
      assert(math.abs(approxMed - exactMed) / exactMed < 0.05,
        s"percentile error too large: $approxMed vs $exactMed")
    }
  }

  test("portable HLL: accurate, partition-independent, and slice-sketches max-merge to the whole") {
    val out = SparkEntry.queries("rel_hll_distinct")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Double]("rel_err") < 0.05,
        s"HLL estimate off by more than the 4096-register rsd allows: $r")
      assert(r.getAs[Long]("n_registers") <= 4096)
    }

    // The register table IS the mergeable sketch state: computing it on
    // any two disjoint slices and max-merging must reproduce the
    // whole-corpus registers exactly — the property a 1000-executor
    // combine relies on.
    def registers(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("event_type",
        "md5_long(CAST(user_id AS STRING)) & 9223372036854775807 AS hp")
      .selectExpr("event_type", "hp & 4095 AS reg",
        """CASE WHEN (hp >> 12) & 1099511627775 = 0 THEN 41
           ELSE 41 - length(bin((hp >> 12) & 1099511627775)) END AS rho""")
      .groupBy(col("event_type"), col("reg")).agg(max(col("rho")).as("mrho"))
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_type", "user_id", "event_id")
    val whole = registers(ev).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val a = registers(ev.filter(col("event_id") % 2 === 0)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val b = registers(ev.filter(col("event_id") % 2 === 1)).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val merged = (a.keySet ++ b.keySet).map { k =>
      k -> math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))
    }.toMap
    assert(merged === whole, "max-merge of slice sketches != whole-corpus sketch")

    // Partition-independence of the full estimate.
    val again = SparkEntry.queries("rel_hll_distinct")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toMap
    out.foreach(r => assert(again(r.getString(0)) === r.getDouble(2)))
  }

  test("bloom prune: no false negatives, bounded false positives, broadcast word table") {
    val df = SparkEntry.queries("rel_bloom_prune")(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, actual, maybe, fp) = (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      // Every member passes the filter: maybe = actual + false positives
      // exactly — a single missed member would break this identity.
      assert(maybe === actual + fp, s"false negative in segment ${r.getString(0)}: $r")
      assert(fp <= n - actual)
      // At this load factor (k=4, n << m) the fp rate must stay tiny.
      assert(r.getDouble(5) < 0.05, s"fp rate out of bound: $r")
    }
    // The 4096-word filter broadcasts onto the probe side — the pruning
    // join must never shuffle the probe scan.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"bloom probe must broadcast:\n$plan")
  }
}
