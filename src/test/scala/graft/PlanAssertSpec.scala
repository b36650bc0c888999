package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guards: the properties that make these queries
  * scale are asserted, not just observed once in a bench run. */
class PlanAssertSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  /** Count shuffle exchanges in a formatted plan: detail headers look like
    * `(7) Exchange` with an `Arguments: hashpartitioning(...)` line below. */
  private def hashExchanges(p: String): Int =
    p.linesIterator.count(_.matches("""\(\d+\) Exchange"""))

  test("rel_q1: date filter reaches the parquet scan; schema pruned") {
    val p = plan("rel_q1_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      "shipdate filter not pushed to scan")
    // 7 of 11 lineitem columns are needed; the scan must not read more.
    val read = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!read.contains("l_partkey") && !read.contains("l_suppkey"),
      s"scan reads unused columns: $read")
  }

  test("rel_q3: top-k is TakeOrderedAndProject, not a global sort") {
    assert(plan("rel_q3_shipping_priority").contains("TakeOrderedAndProject"))
  }

  test("pipe_enrich: the IP dimension joins as a broadcast hash join") {
    assert(plan("pipe_enrich").contains("BroadcastHashJoin"))
  }

  test("rel_join_null_safe: <=> stays an equi-join key, never a nested loop") {
    val p = plan("rel_join_null_safe")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality fell out of the equi-join path:\n$p")
  }

  test("llm_text_tf: document scan reads only doc_id and text") {
    val read = plan("llm_text_tf").linesIterator
      .find(_.trim.startsWith("ReadSchema")).get
    assert(!read.contains("lang") && !read.contains("source") && !read.contains("n_chars"),
      s"scan reads unused columns: $read")
  }

  test("decorrelation analogs: semi/anti shapes, no cartesian, no re-execution") {
    // The six TPC-H decorrelation-pattern analogs must compile to joins —
    // a correlated subquery that survives to execution would re-run per
    // outer row (plan would show a CartesianProduct or an in-loop
    // subquery). EXISTS → LeftSemi, NOT EXISTS → LeftAnti, IN → LeftSemi,
    // correlated scalar agg → aggregate + equi-join on the correlation key.
    val all = Seq("rel_q2_min_cost_supplier", "rel_q13_order_distribution",
      "rel_q17_small_qty_revenue", "rel_q20_volume_suppliers",
      "rel_q21_sole_blame", "rel_q22_lapsed_customers")
    val plans = all.map(n => n -> plan(n)).toMap
    plans.foreach { case (n, p) =>
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product")
    }
    assert(plans("rel_q21_sole_blame").contains("LeftSemi") &&
      plans("rel_q21_sole_blame").contains("LeftAnti"),
      "Q21's EXISTS/NOT EXISTS must be semi + anti joins")
    assert(plans("rel_q20_volume_suppliers").contains("LeftSemi"),
      "Q20's nested IN must be a semi join")
    assert(plans("rel_q22_lapsed_customers").contains("LeftAnti"),
      "Q22's NOT EXISTS must be an anti join")
    assert(plans("rel_q13_order_distribution").contains("LeftOuter"),
      "Q13 must keep the outer join (NOT LIKE stays in the join condition)")
    // The correlated scalar aggregates decorrelate into real aggregates.
    assert(plans("rel_q2_min_cost_supplier").contains("HashAggregate"))
    assert(plans("rel_q17_small_qty_revenue").contains("HashAggregate"))
  }

  test("shuffle_hash hint: medium build side skips the sort-merge sorts") {
    // The middle ground of the join-strategy ladder: a build side too big
    // to broadcast but far smaller than the probe side — SHUFFLE_HASH
    // builds a hash map per partition and skips BOTH sort passes a
    // sort-merge join would pay. At 100 TB the sorts dominate; the hint
    // (or AQE's preferShuffledHashJoin) is how a user reaches this plan.
    import org.apache.spark.sql.functions.col
    val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
    val ord = graft.sources.Tables.load(spark, sfDir, "orders")
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val smj = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      assert(smj.queryExecution.executedPlan.toString.contains("SortMergeJoin"),
        "without the hint this shape must default to sort-merge")
      val shj = li.join(ord.hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"))
      assert(shj.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"),
        "shuffle_hash hint not honored")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("Q8/Q9/Q11/Q16 analogs: no cartesian; NOT IN is an anti join") {
    for (n <- Seq("rel_q8_market_share", "rel_q9_product_profit",
        "rel_q11_important_stock", "rel_q16_part_suppliers")) {
      assert(!plan(n).contains("CartesianProduct"), s"$n has a cartesian product")
    }
    // Q16's NOT IN blacklist must become an anti join, not a per-row probe.
    assert(plan("rel_q16_part_suppliers").contains("LeftAnti"),
      "Q16's NOT IN must plan as an anti join")
    // Q11's global total is an uncorrelated scalar subquery: one extra
    // aggregate, reused as a literal — the plan must show a subquery, and
    // its aggregate must not sit under a join (no re-execution per group).
    assert(plan("rel_q11_important_stock").contains("Subquery"),
      "Q11's global total must be a one-shot scalar subquery")
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // InjectRuntimeFilter — Spark's runtime semi-join reduction: when one
    // join side carries a selective predicate, the optimizer builds a bloom
    // filter over its join keys (bloom_filter_agg subquery) and applies it
    // to the other side BEFORE that side's shuffle
    // (bloom_filter_might_contain). At 100 TB this is the difference
    // between shuffling the whole fact table and shuffling only rows that
    // can match — the runtime analog of static partition pruning, and it
    // composes with AQE. Thresholds here only scale the feature down to
    // fixture size (app side must normally scan >10 GB to be worth a bloom
    // pass); the plan shape is what production sees.
    import org.apache.spark.sql.functions.col
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0")
      val li = graft.sources.Tables.load(spark, sfDir, "lineitem")
      val ord = graft.sources.Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("might_contain"),
        s"no runtime bloom filter injected on the fact side:\n$p")
      assert(p.contains("bloom_filter_agg"),
        "no bloom_filter_agg build over the selective dim's join keys")
      // The filter must not change answers, only shuffle volume.
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val plainCount = li.join(ord, col("l_orderkey") === col("o_orderkey")).count()
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(joined.count() === plainCount)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("headline queries contain no cartesian product over large inputs") {
    for (n <- Seq("rel_q1_pricing_summary", "rel_q3_shipping_priority",
        "rel_q5_local_supplier", "pipe_gold", "llm_dedup_minhash",
        "ts_window_tumbling", "llm_dedup_simhash", "llm_knn_lsh")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product")
    }
  }

  test("date-partitioned reads prune partitions at planning time") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("prune")
    spark.range(99).selectExpr("id", "CAST(id % 3 AS STRING) AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val df = spark.read.parquet(dir).filter(col("p") === "1")
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("p"),
      s"no partition filter pushed: ${scan.metadata("PartitionFilters")}")
    // Drive THIS plan instance so its scan metrics populate (count() would
    // plan a separate execution).
    assert(df.queryExecution.executedPlan.execute().count() === 33L)
    // Physical evidence, not just plan text: the scan's numFiles metric
    // equals the matching partition's file count, not the table's.
    val p1Files = new java.io.File(dir, "p=1").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val allFiles = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.listFiles().count(_.getName.endsWith(".parquet"))).sum
    assert(scan.metrics("numFiles").value === p1Files.toLong,
      s"scan read ${scan.metrics("numFiles").value} files, partition has $p1Files of $allFiles")
    assert(p1Files < allFiles, "test setup must have multiple partitions")
  }

  test("src_parquet_partitioned: event_type predicate prunes partitions") {
    // The query fn writes the partitioned layout as it builds, so its OWN
    // plan's leaf scan is the thing to inspect (sparkPlan: the scan listing
    // exists without executing the aggregate on top).
    val df = SparkEntry.queries("src_parquet_partitioned")(spark, sfDir)
    val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PartitionFilters").contains("event_type"),
      s"no partition filter: ${scan.metadata("PartitionFilters")}")
    assert(scan.selectedPartitions.partitionCount === 2,
      s"expected 2 of 5 partitions selected, got ${scan.selectedPartitions.partitionCount}")
  }

  test("llm_embed_kmeans: centroids broadcast; one corpus pass, no cartesian") {
    val p = plan("llm_embed_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroids not broadcast")
    assert(!p.contains("CartesianProduct"), "kmeans has a cartesian product")
  }

  test("llm_text_bm25: corpus stats broadcast; top-k is TakeOrderedAndProject") {
    val p = plan("llm_text_bm25")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "stats row not broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-100 is a global sort")
  }

  test("rel_join_skew_salted: shuffle keys carry the salt") {
    // The point of salting: the exchange must hash on (key, salt), not the
    // bare key — otherwise the hot key still lands in one partition.
    val p = plan("rel_join_skew_salted")
    assert(p.contains("__salt"), "salt column absent from the physical plan")
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_dedup_containment: the vocab-bounded rare table is the broadcast build") {
    // The exploded postings side has a garbage size estimate; left to the
    // planner it became the BROADCAST build at sf10 (8 GB driver OOM,
    // round 9). The explicit broadcast(rare) pin must survive in the
    // plan: exactly the rare-side joins broadcast, the corpus-side
    // posting/profile joins never nest-loop or go cartesian.
    val p = plan("llm_dedup_containment")
    assert(p.contains("BroadcastExchange"), "rare table not broadcast")
    assert(!p.contains("CartesianProduct"), "containment has a cartesian product")
    // The only nested-loop joins allowed are the single-row threshold
    // ride-ins (crossJoin(broadcast(thr))): the plan re-derives the
    // profile subtree 4× (aPrefix, bFull, two verification sides) and
    // FormattedMode lists each node in tree AND details — 8 mentions.
    // Corpus-scale sides must never nest-loop; any increase trips this.
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 8, s"$bnlj nested-loop join mentions in containment (expected ≤ 8)")
  }

  test("llm_knn_ivf: centroid assignment is a broadcast, never a shuffle") {
    // The corpus-side fold joins a SINGLE-ROW centroid array: the plan must
    // ship it broadcast (nested-loop on one row = a map-side append), and
    // the only exchanges allowed are the probe join on cell id and the
    // final per-query window — NOT a corpus×centroids shuffle.
    val p = plan("llm_knn_ivf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "centroid array not broadcast")
    assert(!p.contains("CartesianProduct"), "IVF has a cartesian product")
  }

  test("dynamic partition pruning fires for a dim-filtered join on the partition key") {
    // The 100 TB pattern: fact partitioned by key, predicate only on the
    // dimension — the fact scan must receive a DYNAMIC pruning filter
    // built from the dim side at runtime, not read every partition.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val dir = tempDir("dpp")
    spark.range(1000)
      .select($"id", ($"id" % 10).as("k"))
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    // The partition column reads back as INT (directory-value inference);
    // a cast around it would disqualify the scan from DPP. The dim is a
    // real parquet table with a selective predicate — the shape the
    // pruning rule's benefit estimate recognizes.
    val dimDir = tempDir("dpp_dim")
    spark.range(10).select($"id".cast("int").as("dk"),
      concat(lit("t"), $"id").as("tag"))
      .write.mode("overwrite").parquet(dimDir)
    val joined = spark.read.parquet(dir)
      .join(spark.read.parquet(dimDir), $"k" === $"dk")
      .filter($"tag" === "t3")
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in plan:\n$p")
  }

  test("rel_q6: every predicate reaches the parquet scan") {
    val p = plan("rel_q6_forecast_revenue")
    val pushed = p.linesIterator.find(_.trim.startsWith("PushedFilters")).get
    for (c <- Seq("l_shipdate", "l_discount", "l_quantity"))
      assert(pushed.contains(c), s"$c not pushed to scan: $pushed")
  }

  test("rel_scd2: change detection and interval close share ONE shuffle") {
    // Both window passes partition on o_custkey with the same ordering;
    // Catalyst must plan a single Exchange (a second one would double the
    // dimension-build cost at 100 TB for nothing).
    val p = plan("rel_scd2")
    assert(hashExchanges(p) == 1, s"expected 1 hash exchange:\n$p")
  }

  test("rel_cdc_apply: latest-wins is one shuffle + rank filter") {
    val p = plan("rel_cdc_apply")
    assert(hashExchanges(p) == 1, s"expected 1 hash exchange:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("rel_zorder: interleave arithmetic stays inside whole-stage codegen") {
    // Codegen ids only annotate the FINAL adaptive plan — execute first.
    val df = SparkEntry.queries("rel_zorder")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.explainString(FormattedMode)
    assert(p.contains("codegen id"), s"z-order compute fell out of codegen:\n$p")
    // The executed explain repeats the tree (Final + Initial): count the
    // final section only.
    val finalPlan = p.split("== Initial Plan ==")(0)
    val n = finalPlan.linesIterator.count(_.contains("- Exchange"))
    // Two shuffles: the one-row range-stats aggregate (SinglePartition,
    // broadcast back for normalization) and the block aggregation itself.
    assert(n == 2, s"expected the stats + block-agg exchanges only:\n$p")
  }

  test("llm_lm_score: reference model joins as a broadcast") {
    val p = plan("llm_lm_score")
    assert(p.contains("BroadcastHashJoin"), "model side not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("rel_graph_pagerank: rank rounds broadcast the rank side, no cartesian") {
    val p = plan("rel_graph_pagerank")
    assert(!p.contains("CartesianProduct"), "pagerank has a cartesian product")
    assert(p.contains("BroadcastHashJoin"), "rank joins not broadcast at this scale")
  }

  test("rel_basket_pairs: map-side HOF pair expansion, top-k never a global sort") {
    val p = plan("rel_basket_pairs")
    assert(p.contains("TakeOrderedAndProject"), "top-k fell back to a global sort")
    assert(!p.contains("CartesianProduct"))
    // The pair stream must come from the array HOF over collected baskets,
    // not a fact-table self-join (which would shuffle lineitem twice).
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "pair expansion regressed to a self-join")
    assert(hashExchanges(p) <= 2, s"basket mining needs ≤2 shuffles:\n$p")
  }

  test("rel_geo_nearest: spatial candidate join is a broadcast equi-join") {
    val p = plan("rel_geo_nearest")
    assert(p.contains("BroadcastHashJoin"), "grid-cell join not broadcast")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "spatial join degenerated to all-pairs")
  }

  test("rel_agg_winsorized: bounds join back as a broadcast") {
    val p = plan("rel_agg_winsorized")
    assert(p.contains("BroadcastHashJoin"), "p05/p95 bounds not broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("triangles/sssp/passage-dedup: no cartesian in the candidate shapes") {
    for (n <- Seq("rel_graph_triangles", "rel_graph_sssp", "llm_dedup_passage",
        "llm_dedup_containment", "rel_agg_mode", "ts_rolling_corr"))
      assert(!plan(n).contains("CartesianProduct"), s"$n has a cartesian product")
  }

  test("robust stats / pareto: medians and bounds broadcast, never a cartesian") {
    for (n <- Seq("ts_cusum")) {
      val p = plan(n)
      assert(p.contains("BroadcastHashJoin"), s"$n scalar stats not broadcast")
      assert(!p.contains("CartesianProduct"), s"$n has a cartesian product")
    }
    // rel_agg_mad runs its two-phase selections eagerly (histogram +
    // residual jobs with literal CASE predicates — no joins at all) and
    // returns the assembled 2-row result: the final plan must be a bare
    // LocalTableScan with no join of any kind.
    val mad = plan("rel_agg_mad")
    assert(mad.contains("LocalTableScan"), "mad result not locally assembled")
    assert(!mad.contains("Join"), "mad final frame should not join")
    for (n <- Seq("rel_benford", "rel_abc_analysis"))
      assert(!plan(n).contains("CartesianProduct"), s"$n has a cartesian product")
  }

  test("ts_attribution: the composition runs through the native as-of exec") {
    val p = plan("ts_attribution")
    assert(p.contains("AsofJoin"), "attribution lost the native as-of operator")
    assert(!p.contains("CartesianProduct"))
  }

  /** Each join node of a formatted plan: (operator, its `Left keys` line). */
  private def joins(p: String): Seq[(String, String)] =
    p.split("\n(?=\\(\\d+\\) )").toSeq.flatMap { block =>
      val lines = block.linesIterator.toSeq
      val op = lines.head.split(" ").lift(1).getOrElse("")
      if (!op.endsWith("Join")) None
      else lines.find(_.startsWith("Left keys")).map(op -> _)
    }

  /** The operators of the joins keyed on `key` (first left key). */
  private def joinsOn(p: String, key: String): Seq[String] =
    joins(p).collect { case (op, keys) if keys.contains(s"[$key#") => op }

  test("LSH dedup: corpus-sized band/set tables never broadcast") {
    // The band tables sit behind posexplode, and sets derived from text
    // behind `transform`, so Catalyst's estimates are the pre-fanout
    // child's: "broadcastable" on paper, ~1 GiB at sf10 (measured: driver
    // abort + executor OOM). Those joins are pinned to sort-merge (spills,
    // never a per-task hash build — the sweep's candidate volume outgrew a
    // shuffled-hash build at sf30).
    for (n <- Seq("llm_dedup_jaccard", "llm_dedup_minhash")) {
      val bandJoins = joinsOn(plan(n), "band")
      assert(bandJoins.nonEmpty && bandJoins.forall(_ == "SortMergeJoin"),
        s"$n band self-join: $bandJoins")
    }
    val fromText = graft.llm.Dedup.lshJaccardPairs(graft.llm.Dedup.nearCorpus(spark, sfDir))
      .queryExecution.explainString(FormattedMode)
    assert(!fromText.contains("BroadcastHashJoin"),
      s"the from-text path broadcasts a derived side:\n$fromText")
    assert(Seq("doc_a", "doc_b").forall(k => joinsOn(fromText, k) == Seq("SortMergeJoin")),
      s"from-text verify joins: ${joins(fromText)}")
    // The stored TextFeatures set table is unpinned: it is estimated from
    // its parquet files, which hold every stored column, so the estimate
    // over-states the three columns verification reads, and a broadcast
    // chosen on it is safe.
    val sets = graft.llm.TextFeatures.features(spark, sfDir, "near")
      .select("doc_id", "sh", "n")
    val fileBytes = sets.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p).getLen
    }.sum
    val estimate = sets.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate > 0 && estimate <= fileBytes, s"estimate $estimate, files $fileBytes")
    // Fixture scale: under the threshold, both verify joins broadcast the
    // set table, so the candidates are never shuffled by doc id.
    val small = plan("llm_dedup_minhash")
    assert(Seq("doc_a", "doc_b").forall(k => joinsOn(small, k) == Seq("BroadcastHashJoin")),
      s"verify joins at fixture scale: ${joins(small)}")
    val verifyExchange = """hashpartitioning\((doc_a|doc_b)#\d+L?, \d+\)""".r
    assert(verifyExchange.findFirstIn(small).isEmpty,
      s"verify exchanges at fixture scale:\n$small")
    // Corpus scale: the threshold below the table (its files, and the
    // estimate taken from them) — both verify joins sort-merge.
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", (estimate - 1).toString)
      val large = plan("llm_dedup_minhash")
      assert(!large.contains("BroadcastHashJoin"), s"corpus-scale plan broadcasts:\n$large")
      assert(Seq("doc_a", "doc_b").forall(k => joinsOn(large, k) == Seq("SortMergeJoin")),
        s"verify joins at corpus scale: ${joins(large)}")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("rel_merge_upsert: MERGE is one shuffle join, no broadcast of the target") {
    val p = plan("rel_merge_upsert")
    assert(!p.contains("CartesianProduct"), "merge fell out of the equi-join path")
    // Full-outer on the key: either shuffle strategy is fine, broadcast of
    // a full table side is not (the target is never broadcastable at scale).
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"merge join not a shuffle join:\n$p")
  }

  test("llm_sample_weighted: map-only filter — the only exchanges feed the total") {
    val p = plan("llm_sample_weighted")
    // The corpus-side work is a scan + filter; the sole aggregation is the
    // one-row SumW (its exchange partitions a single row). No corpus
    // shuffle may exist: inclusion is a per-row function.
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"weighted sample shuffles the corpus:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "total-weight scalar not broadcast")
  }

  test("llm_script_profile: zero exchanges — pure codegen map work") {
    val p = plan("llm_script_profile")
    assert(hashExchanges(p) == 0, s"script profile shuffles:\n$p")
    // FormattedMode marks codegen stages with a leading `*`.
    assert(p.contains("* Project"), s"projection left codegen:\n$p")
  }

  test("llm_decontaminate_fuzzy: eval side broadcasts; train corpus never broadcast") {
    val p = plan("llm_decontaminate_fuzzy")
    // Candidate generation joins the streaming train band scan against the
    // BROADCAST eval bands; the verify join builds the small pair list.
    assert(p.contains("BroadcastHashJoin"), s"eval side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("llm_shuffle_export: exactly one corpus exchange (the shard partition)") {
    val p = plan("llm_shuffle_export")
    assert(hashExchanges(p) == 1,
      s"export plan should shuffle once on shard, found ${hashExchanges(p)}:\n$p")
  }

  test("rel_aqp_sum: sample filter precedes the aggregate; no join anywhere") {
    val p = plan("rel_aqp_sum")
    assert(!p.contains("Join"), s"AQP estimator must not join:\n$p")
    // The hash filter must run inside the scan stage, before aggregation —
    // the whole point is aggregating 1/64th of the rows. Formatted-plan
    // operator ids ascend from the scan upward, so the filter's id must be
    // SMALLER than every aggregate's.
    def ids(op: String): Seq[Int] =
      s"""\\((\\d+)\\) $op""".r.findAllMatchIn(p).map(_.group(1).toInt).toSeq
    val (f, a) = (ids("Filter"), ids("HashAggregate"))
    assert(f.nonEmpty && a.nonEmpty && f.min < a.min,
      s"sample filter not below the aggregate:\n$p")
  }

  test("llm_posting_index: window and aggregate share one term exchange") {
    val p = plan("llm_posting_index")
    // perDoc groupBy(term, doc_id) shuffles once; the rank window and the
    // final term aggregate both consume term-partitioned rows — at most
    // two exchanges total, never a third for the window.
    assert(hashExchanges(p) <= 2,
      s"posting index shuffles ${hashExchanges(p)}x:\n$p")
  }

  test("ts_decompose: window and seasonal share the pre-aggregated grid") {
    val p = plan("ts_decompose")
    // The events table is scanned ONCE: trend windows and the seasonal
    // aggregate both derive from the grouped types×hours grid.
    // Formatted plans print each node in the tree AND the detail section.
    val scans = p.linesIterator
      .count(_.matches("""\(\d+\) Scan parquet\s*""")) // detail headers only
    assert(scans == 1, s"events scanned $scans times:\n$p")
    assert(!p.contains("Join"), "decomposition needs no join at all")
  }

  test("ts_ohlc: one partial-aggregated exchange, no ranking windows") {
    val p = plan("ts_ohlc")
    assert(!p.contains(") Window"), s"OHLC must not sort per-extreme:\n$p")
    // min_by/max_by on a struct ordering key lowers to SortAggregate (a
    // struct buffer is not hash-aggregable) — still partial: an aggregate
    // node must appear BELOW the exchange, and there is exactly one
    // exchange (contrast ts_downsample_m4's four full windows).
    // FormattedMode detail sections print in ascending operator number =
    // leaf-first, so the MAP-SIDE partial aggregate must be the FIRST
    // aggregate section and appear before the exchange section.
    val lines = p.linesIterator.toVector
    val partialAgg = lines.indexWhere(_.matches("""\(\d+\) \w*Aggregate.*"""))
    val exch = lines.indexWhere(_.matches("""\(\d+\) Exchange"""))
    assert(partialAgg >= 0 && exch >= 0 && partialAgg < exch,
      s"no map-side partial aggregate below the exchange:\n$p")
    assert(hashExchanges(p) == 1, s"OHLC must shuffle exactly once:\n$p")
    // events has 6 columns; OHLC needs 4.
    val read = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!read.contains("user_id") && !read.contains("props"),
      s"scan reads unused columns: $read")
  }

  test("llm_select_budget: broadcast bucket joins, no global sort of docs") {
    val p = plan("llm_select_budget")
    assert(p.contains("BroadcastHashJoin"),
      "bucket membership must join by broadcast")
    // No global sort of the corpus: a rangepartitioning exchange is the
    // signature of a corpus-wide ORDER BY / global-order window. The only
    // single-partition funnels allowed are over the bounded histogram
    // side (<=512 rows: its cumsum window and the boundary limit-1) —
    // never more.
    assert(!p.contains("rangepartitioning"), s"global corpus sort:\n$p")
    // Single-partition funnels are allowed ONLY over histogram-scale
    // inputs (bucket/tok pairs or the 1-row budget sum — the static plan
    // prints those subtrees twice; ReusedExchange dedupes at runtime).
    // A funnel whose Input carries corpus columns (doc_id/text/ratio)
    // would mean the corpus serializes through one task.
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Arguments: SinglePartition"))
      .foreach { case (_, i) =>
        val input = lines(i - 1)
        assert(input.contains("bucket#") || input.contains("tok#") ||
          input.contains("sum#"),
          s"single-partition funnel over non-histogram input: $input\n$p")
      }
  }

  test("rank<=k filters lower to WindowGroupLimit (partial top-k before the sort)") {
    // Spark 4's InferWindowGroupLimit turns `filter(row_number()<=k)` into
    // a WindowGroupLimit that keeps k rows per key on the MAP side before
    // the window shuffle-sort — the difference between sorting k rows and
    // sorting the partition at 100 TB. Guard that the engine's rank-filter
    // queries actually hit it.
    // (ts_downsample_m4 deliberately cannot: its filter is a DISJUNCTION
    // over four windows — each extreme needs the other three's rows.)
    val p = plan("pipe_gold")
    assert(p.contains("WindowGroupLimit"),
      s"pipe_gold rank filter did not lower to WindowGroupLimit:\n$p")
  }

  test("ts_drawdown / ts_var_cvar: exactly one shuffle, keyed windows") {
    Seq("ts_drawdown", "ts_var_cvar").foreach { n =>
      val p = plan(n)
      assert(hashExchanges(p) <= 2,
        s"$n shuffles more than (window + final agg):\n$p")
      assert(!p.contains("SinglePartition"),
        s"$n serializes through one partition:\n$p")
    }
  }

  test("feature-fed dedup: each feature scan prunes to its stage's columns") {
    // The shingle-once economics only hold if downstream plans read the
    // NARROW slices of the persisted feature table: the band derivation
    // needs (doc_id, sig), verification needs (doc_id, sh, n) — neither
    // may drag the md5 twin set, the simhash, or the window keys through
    // its scan. Two scans of the table, each pruned, is the right shape.
    val p = plan("llm_dedup_minhash")
    val reads = p.linesIterator.filter(_.trim.startsWith("ReadSchema"))
      .filter(r => r.contains("sig") || r.contains("sh")).toSeq
    assert(reads.nonEmpty, s"no feature-table scans found:\n$p")
    reads.foreach { r =>
      assert(!r.contains("shm") && !r.contains("wins") && !r.contains("simhash"),
        s"feature scan reads columns its stage never uses: $r")
    }
    // The passage spelling must likewise read ONLY (doc_id, wins).
    val pw = plan("llm_dedup_passage")
    val readsW = pw.linesIterator.filter(_.trim.startsWith("ReadSchema")).toSeq
    readsW.foreach { r =>
      assert(!r.contains("shm") && !r.contains("sig") && !r.contains("simhash"),
        s"passage feature scan reads unused columns: $r")
    }
  }
}
