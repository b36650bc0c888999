package graft

import graft.api.Exact.dsum
import graft.plans.MaterializedView
import graft.plans.MaterializedView.{MvCount, MvCountStar, MvDef, MvMax, MvMin, MvSum, MvSumD}
import graft.sources.MaintenanceLease
import org.apache.hadoop.fs.Path
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The materialized-view rollup rewrite: fires only in the subsumed
  * shape, is bit-identical to the unrewritten plan, falls through on
  * every non-derivable or stale shape, and maintains incrementally. */
class MaterializedViewSpec extends SparkSpec {

  private def li = Tables.load(spark, sfDir, "lineitem")

  private def scans(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** A fresh registered copy of lineitem (so registrations here never
    * interfere with MvQueries' JVM-wide registration of the fixture
    * path itself). */
  private def freshFact(aggs: Seq[MaterializedView.MvAgg] = defaultAggs)
      : (String, String) = {
    val fact = tempDir("mv_spec_fact") + "/fact"
    li.write.parquet(fact)
    val mv = tempDir("mv_spec_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag", "l_linestatus", "l_linenumber"), aggs, mv))
    (fact, mv)
  }

  private val defaultAggs = Seq(MvSum("l_quantity"), MvCountStar,
    MvCount("l_quantity"), MvMin("l_extendedprice"), MvMax("l_extendedprice"))

  private def query(fact: String): DataFrame = {
    spark.read.parquet(fact)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
  }

  private def withRewriteOff[A](body: => A): A = {
    spark.conf.set("spark.graft.mv.rewrite", "false")
    try body finally spark.conf.set("spark.graft.mv.rewrite", "true")
  }

  test("subsumed aggregate scans the MV, not the fact table") {
    val (fact, mv) = freshFact()
    val p = scans(query(fact))
    assert(p.contains(mv), s"MV not scanned:\n$p")
    assert(!p.contains(fact), s"fact table still scanned:\n$p")
  }

  test("rewritten result is bit-identical to the unrewritten plan") {
    val (fact, _) = freshFact()
    val on  = query(fact).collect().map(_.toString).sorted
    val off = withRewriteOff(query(fact).collect().map(_.toString).sorted)
    assert(on.sameElements(off))
    // Schema (names, types, nullability-insensitive) preserved too.
    assert(query(fact).schema.map(f => (f.name, f.dataType)) ==
      withRewriteOff(query(fact).schema.map(f => (f.name, f.dataType))))
  }

  test("grouping-column filter re-binds onto the MV") {
    val (fact, mv) = freshFact()
    val df = spark.read.parquet(fact)
      .filter(col("l_linenumber").isin(1, 2, 3))
      .groupBy(col("l_linestatus")).agg(count(lit(1)).as("n"))
    val p = scans(df)
    assert(p.contains(mv) && !p.contains(fact), s"filtered agg not rewritten:\n$p")
    val off = withRewriteOff(df.collect().map(_.toString).sorted)
    assert(df.collect().map(_.toString).sorted.sameElements(off))
  }

  test("global (ungrouped) aggregate rewrites; count survives an empty MV") {
    val (fact, mv) = freshFact()
    val df = spark.read.parquet(fact)
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("s"))
    assert(scans(df).contains(mv))
    assert(df.collect()(0).getLong(0) == li.count())

    // Empty fact table: count(*) must be 0 (not null) through the
    // coalesce'd sum-of-counts.
    val emptyFact = tempDir("mv_spec_empty") + "/fact"
    li.filter(lit(false)).write.parquet(emptyFact)
    val emptyMv = tempDir("mv_spec_empty_rollup")
    MaterializedView.register(spark, emptyFact,
      MvDef(Seq("l_returnflag"), Seq(MvCountStar, MvSum("l_quantity")), emptyMv))
    val g = spark.read.parquet(emptyFact)
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("s"))
    assert(scans(g).contains(emptyMv))
    val row = g.collect()(0)
    assert(row.getLong(0) == 0L && row.isNullAt(1))
  }

  test("never fires: non-derivable aggregate (countDistinct, bare double sum)") {
    val (fact, mv) = freshFact()
    val cd = spark.read.parquet(fact)
      .groupBy(col("l_returnflag")).agg(countDistinct(col("l_linenumber")).as("n"))
    assert(!scans(cd).contains(mv), "DISTINCT wrongly served from MV")
    // sum over a raw double re-associates — must NOT be rewritten even
    // though sum_l_quantity is declared.
    val raw = spark.read.parquet(fact)
      .groupBy(col("l_returnflag")).agg(sum(col("l_quantity")).as("s"))
    assert(!scans(raw).contains(mv), "bare double sum wrongly served from MV")
  }

  test("never fires: filter on a non-grouping column") {
    val (fact, mv) = freshFact()
    val df = spark.read.parquet(fact)
      .filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(!scans(df).contains(mv), "non-grouping predicate wrongly re-bound")
  }

  test("never fires: grouping key outside the MV's grouping set") {
    val (fact, mv) = freshFact()
    val df = spark.read.parquet(fact)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n"))
    assert(!scans(df).contains(mv), "finer grouping wrongly served from MV")
  }

  test("stale source disables the rewrite until the maintainer runs") {
    val (fact, mv) = freshFact()
    assert(scans(query(fact)).contains(mv))
    // The fact table grows: new files → fingerprint mismatch → direct plan.
    val delta = li.filter(col("l_orderkey") % 2 === 0).limit(50)
    delta.write.mode("append").parquet(fact)
    val grown = query(fact)
    assert(!scans(grown).contains(mv), "stale MV wrongly served after growth")
    // Results are correct (just slower) while stale.
    val direct = withRewriteOff(grown.collect().map(_.toString).sorted)
    assert(grown.collect().map(_.toString).sorted.sameElements(direct))
    // Maintainer folds the delta in → rewrite resumes, bit-identical.
    MaterializedView.appendDelta(spark, fact, delta)
    val served = query(fact)
    assert(scans(served).contains(mv), "rewrite did not resume after appendDelta")
    assert(served.collect().map(_.toString).sorted.sameElements(direct))
  }

  test("declared rel_mv_* queries are actually MV-served (not vacuous)") {
    // The oracle gate proves VALUES; this pins that the declared query's
    // physical plan reads the rollup, not the fixture's lineitem.parquet.
    val rollup = SparkEntry.specs("rel_mv_rollup").fn(spark, sfDir)
    val p = scans(rollup)
    assert(!p.contains("lineitem.parquet"), s"rel_mv_rollup reads the fact:\n$p")
    val filtered = SparkEntry.specs("rel_mv_filtered").fn(spark, sfDir)
    assert(!scans(filtered).contains("lineitem.parquet"))
    val inc = SparkEntry.specs("rel_mv_incremental").fn(spark, sfDir)
    assert(!scans(inc).contains("lineitem_fact"), "incremental not MV-served")
    val rev = SparkEntry.specs("rel_mv_revenue").fn(spark, sfDir)
    assert(!scans(rev).contains("lineitem.parquet"), "revenue not MV-served")
    val dst = SparkEntry.specs("rel_mv_distinct").fn(spark, sfDir)
    assert(!scans(dst).contains("events_fact"), "hll distinct not MV-served")
    val gs = SparkEntry.specs("rel_mv_grouping_sets").fn(spark, sfDir)
    assert(!scans(gs).contains("lineitem.parquet"), "rollup not MV-served")
    val sr = SparkEntry.specs("rel_mv_star_rollup").fn(spark, sfDir)
    val srp = scans(sr)
    assert(!srp.contains("lineitem.parquet") && !srp.contains("orders.parquet"),
      s"star rollup not MV-served:\n$srp")
    val av = SparkEntry.specs("rel_mv_avg").fn(spark, sfDir)
    assert(!scans(av).contains("lineitem.parquet"), "avg not MV-served")
    val hv = SparkEntry.specs("rel_mv_having").fn(spark, sfDir)
    assert(!scans(hv).contains("lineitem.parquet"), "having not MV-served")
  }

  test("derived time-bucket grouping rewrites; wrong bucket / finer key fall through") {
    val fact = tempDir("mv_spec_ev") + "/fact"
    Tables.load(spark, sfDir, "events").write.parquet(fact)
    val mv = tempDir("mv_spec_ev_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("event_type"), Seq(MvSum("value"), MvCountStar, MvMax("value")),
        mv, derived = Seq("bucket" -> "date_trunc('hour', ts)")))

    // The query spells the bucket ITSELF (no reference to the MV or its
    // column name) — matched semantically, served from the rollup,
    // bit-identical to the unrewritten plan.
    val df = spark.read.parquet(fact)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("b"))
      .agg(dsum(col("value")).as("sv"), count(lit(1)).as("n"),
        max(col("value")).as("mx"))
    val p = scans(df)
    assert(p.contains(mv) && !p.contains(fact), s"bucketed agg not rewritten:\n$p")
    val off = withRewriteOff(df.collect().map(_.toString).sorted)
    assert(df.collect().map(_.toString).sorted.sameElements(off))

    // Coarser than the MV (drop the bucket) re-aggregates the partials.
    val coarse = spark.read.parquet(fact)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    assert(scans(coarse).contains(mv))

    // A predicate over the derived expression re-binds onto the MV column.
    val cutoff = spark.read.parquet(fact)
      .select(date_trunc("hour", col("ts")).as("h")).agg(max(col("h"))).collect()(0)
      .getTimestamp(0)
    val filtered = spark.read.parquet(fact)
      .filter(date_trunc("hour", col("ts")) < lit(cutoff))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val fp = scans(filtered)
    assert(fp.contains(mv) && !fp.contains(fact), s"bucket predicate not re-bound:\n$fp")
    val foff = withRewriteOff(filtered.collect().map(_.toString).sorted)
    assert(filtered.collect().map(_.toString).sorted.sameElements(foff))

    // A DIFFERENT bucket (day ≠ hour) is not semantically equal → direct.
    val day = spark.read.parquet(fact)
      .groupBy(date_trunc("day", col("ts")).as("b")).agg(count(lit(1)).as("n"))
    assert(!scans(day).contains(mv), "day bucket wrongly served from hour MV")

    // Grouping by the raw timestamp is finer than the bucket → direct.
    val bare = spark.read.parquet(fact)
      .groupBy(col("ts")).agg(count(lit(1)).as("n"))
    assert(!scans(bare).contains(mv), "raw-ts grouping wrongly served from MV")
  }

  test("declared rel_mv_time_bucket is actually MV-served (not vacuous)") {
    val df = SparkEntry.specs("rel_mv_time_bucket").fn(spark, sfDir)
    val p = scans(df)
    assert(!p.contains("events.parquet"), s"rel_mv_time_bucket reads the fact:\n$p")
  }

  test("star fact⋈dim rollup rewrites; wrong join shape falls through") {
    val fact = tempDir("mv_star_fact") + "/fact"
    val dim = tempDir("mv_star_dim") + "/dim"
    li.write.parquet(fact)
    Tables.load(spark, sfDir, "orders").write.parquet(dim)
    val mv = tempDir("mv_star_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("o_orderpriority"),
        Seq(MvSum("l_extendedprice"), MvCountStar, MvMin("l_extendedprice")),
        mv, joins = Seq(MaterializedView.MvJoin(dim, "l_orderkey", "o_orderkey"))))

    def q(left: String, right: String) = spark.read.parquet(left)
      .join(spark.read.parquet(right), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("sp"), count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("mn"))

    // The query writes its own join; served from the rollup, neither
    // table scanned, bit-identical to the unrewritten join+aggregate.
    val df = q(fact, dim)
    val p = scans(df)
    assert(p.contains(mv) && !p.contains(fact) && !p.contains(dim),
      s"star agg not rewritten:\n$p")
    val off = withRewriteOff(q(fact, dim).collect().map(_.toString).sorted)
    assert(df.collect().map(_.toString).sorted.sameElements(off))

    // Swapped child order (dim ⋈ fact) serves too.
    assert(scans(q(dim, fact)).contains(mv), "swapped join order not served")

    // A dim-attribute predicate re-binds onto the MV.
    val filtered = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_orderkey") === col("o_orderkey"))
      .filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    val fp = scans(filtered)
    assert(fp.contains(mv) && !fp.contains(fact), s"dim predicate not re-bound:\n$fp")
    val foff = withRewriteOff(filtered.collect().map(_.toString).sorted)
    assert(filtered.collect().map(_.toString).sorted.sameElements(foff))

    // LEFT join is a different relation (unmatched fact rows survive) →
    // direct plan.
    val lj = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_orderkey") === col("o_orderkey"), "left")
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(!scans(lj).contains(mv), "left join wrongly served from inner-join MV")

    // A different key pair → direct plan.
    val wrongKey = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_partkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(!scans(wrongKey).contains(mv), "wrong join key wrongly served")

    // Grouping by a fact column the MV doesn't carry → direct plan.
    val byFact = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linenumber")).agg(count(lit(1)).as("n"))
    assert(!scans(byFact).contains(mv), "undeclared grouping wrongly served")
  }

  test("star MV: growth stales, delta re-enables, changed dim refuses maintenance") {
    val fact = tempDir("mv_star2_fact") + "/fact"
    val dim = tempDir("mv_star2_dim") + "/dim"
    val full = li
    full.filter(pmod(col("l_orderkey"), lit(10)) < 7).write.parquet(fact)
    Tables.load(spark, sfDir, "orders").write.parquet(dim)
    val mv = tempDir("mv_star2_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("o_orderpriority"), Seq(MvSum("l_quantity"), MvCountStar),
        mv, joins = Seq(MaterializedView.MvJoin(dim, "l_orderkey", "o_orderkey"))))

    def q() = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(dsum(col("l_quantity")).as("s"), count(lit(1)).as("n"))

    assert(scans(q()).contains(mv))
    // Fact grows → stale → direct (correct) until the delta folds in.
    val delta = full.filter(pmod(col("l_orderkey"), lit(10)) >= 7)
    delta.write.mode("append").parquet(fact)
    assert(!scans(q()).contains(mv), "stale star MV wrongly served")
    MaterializedView.appendDelta(spark, fact, delta)
    assert(scans(q()).contains(mv), "rewrite did not resume after star delta")
    val off = withRewriteOff(q().collect().map(_.toString).sorted)
    assert(q().collect().map(_.toString).sorted.sameElements(off))

    // The dimension changes: maintenance refuses loudly (folding a delta
    // joined against dim-v2 under batches built on dim-v1 would be
    // silently wrong), and the rewrite no longer fires.
    spark.read.parquet(dim).limit(1).write.mode("append").parquet(dim)
    val d2 = full.limit(10)
    d2.write.mode("append").parquet(fact)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.appendDelta(spark, fact, d2)
    }
    assert(e.getMessage.contains("dim"), s"wrong refusal: ${e.getMessage}")
    assert(!scans(q()).contains(mv), "dim-stale star MV wrongly served")
  }

  test("plain and star MVs coexist on one fact path; each query picks its own") {
    // The fixture path carries MvQueries' plain lineitem rollup AND the
    // star registration made by rel_mv_star — a single-table aggregate
    // must serve from the plain one, the join aggregate from the star.
    val star = SparkEntry.specs("rel_mv_star").fn(spark, sfDir)
    val ps = scans(star)
    assert(!ps.contains("lineitem.parquet") && !ps.contains("orders.parquet"),
      s"rel_mv_star reads a base table:\n$ps")
    val plain = SparkEntry.specs("rel_mv_rollup").fn(spark, sfDir)
    assert(!scans(plain).contains("lineitem.parquet"))
    // Star × derived composed (join + month bucket) is served too.
    val month = SparkEntry.specs("rel_mv_star_month").fn(spark, sfDir)
    val pm = scans(month)
    assert(!pm.contains("lineitem.parquet") && !pm.contains("orders.parquet"),
      s"rel_mv_star_month reads a base table:\n$pm")
  }

  test("incremental batches re-aggregate to the full-refresh rollup") {
    val (fact, _) = freshFact()
    // Reference: one-shot refresh over the same rows.
    val fullMv = tempDir("mv_spec_full")
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag", "l_linestatus", "l_linenumber"), defaultAggs, fullMv))
    // Rebuild the same fact in three appends on a second copy.
    val fact2 = tempDir("mv_spec_fact2") + "/fact"
    val incMv = tempDir("mv_spec_inc")
    val full = spark.read.parquet(fact)
    full.filter(pmod(col("l_orderkey"), lit(3)) === 0).write.parquet(fact2)
    MaterializedView.register(spark, fact2,
      MvDef(Seq("l_returnflag", "l_linestatus", "l_linenumber"), defaultAggs, incMv))
    (1L to 2L).foreach { k =>
      val d = full.filter(pmod(col("l_orderkey"), lit(3)) === k)
      d.write.mode("append").parquet(fact2)
      MaterializedView.appendDelta(spark, fact2, d)
    }
    // The LSM of three batch partials answers identically to one batch.
    def agg(path: String) = spark.read.parquet(path)
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
      .agg(
        dsum(col("l_quantity")).as("s"),
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
      .collect().map(_.toString).sorted
    assert(agg(fact2).sameElements(agg(fact)))
    val p = scans(spark.read.parquet(fact2).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n")))
    assert(p.contains(incMv), "incremental MV not consulted")
  }

  // Build a registered MV fact in `n` appends (n batch partitions).
  private def appendedFact(tag: String, n: Int): (String, String) = {
    val fact = tempDir(s"mv_${tag}_fact") + "/fact"
    val mv = tempDir(s"mv_${tag}_rollup")
    li.filter(pmod(col("l_orderkey"), lit(n)) === 0).write.parquet(fact)
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag", "l_linestatus", "l_linenumber"), defaultAggs, mv))
    (1 until n).foreach { k =>
      val d = li.filter(pmod(col("l_orderkey"), lit(n)) === k)
      d.write.mode("append").parquet(fact)
      MaterializedView.appendDelta(spark, fact, d)
    }
    (fact, mv)
  }

  private def serveOf(fact: String) = spark.read.parquet(fact)
    .groupBy(col("l_returnflag"))
    .agg(dsum(col("l_quantity")).as("s"), count(lit(1)).as("n"),
      min(col("l_extendedprice")).as("mn"), max(col("l_extendedprice")).as("mx"))

  test("compaction collapses batch partials; serves bit-identical after") {
    val (fact, mv) = appendedFact("cmp", 4)
    assert(scans(serveOf(fact)).contains(mv))
    val before = serveOf(fact).collect().map(_.toString).sorted
    val mvRowsBefore = spark.read.parquet(mv).count()
    val res = MaterializedView.compact(spark, fact) // keepLast = 1
    assert(res == Seq((mv, 4, 2)), s"unexpected compaction report: $res")
    val fs = new org.apache.hadoop.fs.Path(mv)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(mv))
      .map(_.getPath.getName).filter(_.startsWith("batch=")).sorted
    assert(dirs.sameElements(Array("batch=0", "batch=3")), dirs.mkString(","))
    assert(spark.read.parquet(mv).count() < mvRowsBefore,
      "compaction did not collapse duplicated group rows")
    val after = serveOf(fact).collect().map(_.toString).sorted
    assert(after.sameElements(before))
    assert(scans(serveOf(fact)).contains(mv), "MV no longer consulted")
    // Idempotent: nothing left to merge.
    assert(MaterializedView.compact(spark, fact) == Seq((mv, 2, 2)))
  }

  test("compaction crash windows recover without loss or double-count") {
    import org.apache.hadoop.fs.Path
    val (fact, mv) = appendedFact("crash", 3)
    val truth = serveOf(fact).collect().map(_.toString).sorted
    val root = new Path(mv)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // The merge a real compaction of batches 0,1 would write (partials
    // re-aggregate: sum of sums, sum of counts, min of mins, max of maxes).
    def merged01 = spark.read
      .parquet(s"$mv/batch=0", s"$mv/batch=1")
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
      .agg(sum(col("sum_l_quantity")).as("sum_l_quantity"),
        sum(col("cnt_star")).as("cnt_star"),
        sum(col("cnt_l_quantity")).as("cnt_l_quantity"),
        min(col("min_l_extendedprice")).as("min_l_extendedprice"),
        max(col("max_l_extendedprice")).as("max_l_extendedprice"))

    // Window 1: crash AFTER the manifest commit, BEFORE the swap — tmp
    // complete (_merged), manifest names 0,1, originals intact.
    merged01.coalesce(1).write.parquet(s"$mv/.compact_tmp_batches")
    fs.create(new Path(s"$mv/.compact_tmp_batches/_merged"), true).close()
    val man = fs.create(new Path(root, ".compact_manifest"), true)
    man.write("batch=0\nbatch=1".getBytes("UTF-8")); man.close()
    // The next maintenance run completes the swap, then has nothing new.
    assert(MaterializedView.compact(spark, fact) == Seq((mv, 2, 2)))
    assert(!fs.exists(new Path(root, ".compact_manifest")))
    assert(serveOf(fact).collect().map(_.toString).sorted.sameElements(truth))

    // Window 2: crash AFTER the rename, BEFORE straggler deletion — dest
    // (batch=0) holds merged data + _merged marker, a straggler original
    // remains, manifest still present. Recreate: re-split batch=0 into a
    // "straggler" batch=1 and a merged batch=0 (content unchanged).
    val b0 = spark.read.parquet(s"$mv/batch=0")
    b0.coalesce(1).write.parquet(s"$mv/batch=1") // straggler double-copy
    fs.create(new Path(s"$mv/batch=0/_merged"), true).close()
    val man2 = fs.create(new Path(root, ".compact_manifest"), true)
    man2.write("batch=0\nbatch=1".getBytes("UTF-8")); man2.close()
    // Unrecovered, a naive read would double-count batch=1's rows;
    // recovery deletes exactly the straggler and commits.
    assert(MaterializedView.compact(spark, fact) == Seq((mv, 2, 2)))
    assert(!fs.exists(new Path(s"$mv/batch=1")))
    assert(serveOf(fact).collect().map(_.toString).sorted.sameElements(truth))
  }

  test("concurrent compaction refused loudly by the maintenance lease") {
    import org.apache.hadoop.fs.Path
    val (fact, mv) = appendedFact("lease", 2)
    val root = new Path(mv)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val held = graft.sources.MaintenanceLease.acquire(fs, root, "spec-holder")
    try {
      intercept[graft.sources.MaintenanceLease.ConcurrentMaintenanceException] {
        MaterializedView.compact(spark, fact)
      }
    } finally graft.sources.MaintenanceLease.release(fs, held)
    // Released: maintenance proceeds.
    assert(MaterializedView.compact(spark, fact) == Seq((mv, 2, 2)))
  }

  test("ROLLUP/CUBE grouping sets served from the MV through the Expand") {
    val (fact, mv) = freshFact()
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted

    // ROLLUP: every grouping set is a coarsening of the MV grain — the
    // Expand survives, its input swaps to MV partial rows.
    val roll = spark.read.parquet(fact)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(dsum(col("l_quantity")).as("s"), count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("mn"))
    val p = scans(roll)
    assert(p.contains(mv) && !p.contains(fact), s"rollup not MV-served:\n$p")
    assert(canon(roll).sameElements(withRewriteOff(canon(roll))))

    // CUBE, with a grouping-column predicate riding along and grouping()
    // markers over the grouping id.
    val cube = spark.read.parquet(fact)
      .filter(col("l_linenumber").isin(1, 2, 3))
      .cube(col("l_returnflag"), col("l_linenumber"))
      .agg(grouping(col("l_returnflag")).cast("bigint").as("g_rf"),
        dsum(col("l_quantity")).as("s"), count(lit(1)).as("n"))
    val cp = scans(cube)
    assert(cp.contains(mv) && !cp.contains(fact), s"cube not MV-served:\n$cp")
    assert(canon(cube).sameElements(withRewriteOff(canon(cube))))

    // Fall-through: a rollup key outside the MV's grouping set.
    val bad = spark.read.parquet(fact)
      .rollup(col("l_returnflag"), col("l_shipdate"))
      .agg(count(lit(1)).as("n"))
    assert(!scans(bad).contains(mv), "unsubsumed rollup wrongly MV-served")

    // Fall-through: a non-derivable aggregate inside the grouping sets.
    val avgQ = spark.read.parquet(fact)
      .rollup(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("a"))
    assert(!scans(avgQ).contains(mv), "bare avg rollup wrongly MV-served")

    // ROLLUP over a DERIVED bucket: the grouping copy's source expression
    // matches the declared time bucket semantically, through the Expand.
    val evFact = tempDir("mv_gs_ev") + "/fact"
    Tables.load(spark, sfDir, "events").write.parquet(evFact)
    val evMv = tempDir("mv_gs_ev_rollup")
    MaterializedView.register(spark, evFact,
      MvDef(Seq("event_type"), Seq(MvSum("value"), MvCountStar), evMv,
        derived = Seq("bucket" -> "date_trunc('hour', ts)")))
    val bucketRoll = spark.read.parquet(evFact)
      .rollup(col("event_type"), date_trunc("hour", col("ts")).as("b"))
      .agg(dsum(col("value")).as("s"), count(lit(1)).as("n"))
    val bp = scans(bucketRoll)
    assert(bp.contains(evMv) && !bp.contains(evFact),
      s"derived-bucket rollup not MV-served:\n$bp")
    assert(canon(bucketRoll).sameElements(withRewriteOff(canon(bucketRoll))))
  }

  test("star ROLLUP: grouping sets over fact⋈dim served, join dropped") {
    val fact = tempDir("mv_gs_star_fact") + "/fact"
    val dim = tempDir("mv_gs_star_dim") + "/dim"
    li.write.parquet(fact)
    Tables.load(spark, sfDir, "orders").write.parquet(dim)
    val mv = tempDir("mv_gs_star_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("o_orderpriority"),
        Seq(MvSum("l_extendedprice"), MvCountStar), mv,
        joins = Seq(MaterializedView.MvJoin(dim, "l_orderkey", "o_orderkey"))))
    val roll = spark.read.parquet(fact)
      .join(spark.read.parquet(dim), col("l_orderkey") === col("o_orderkey"))
      .rollup(col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice")).as("s"), count(lit(1)).as("n"))
    val p = scans(roll)
    assert(p.contains(mv) && !p.contains(fact) && !p.contains(dim),
      s"star rollup not MV-served:\n$p")
    val on = roll.collect().map(_.toString).sorted
    assert(on.sameElements(withRewriteOff(roll.collect().map(_.toString).sorted)))
  }

  test("derived-measure (revenue) rollup rewrites; other expressions fall through") {
    import graft.plans.MaterializedView.MvSumD
    val fact = tempDir("mv_rev_fact") + "/fact"
    li.write.parquet(fact)
    val mv = tempDir("mv_rev_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag", "l_linestatus"),
        Seq(MvSumD("revenue", "l_extendedprice * (1 - l_discount)"),
          graft.plans.MaterializedView.MvMinD(
            "revenue", "l_extendedprice * (1 - l_discount)"),
          MvCountStar),
        mv))

    // The query spells its own sum(price * (1 - discount)) in the
    // exact-decimal form — matched semantically, served, bit-identical.
    // min over the same expression serves from the MvMinD partial.
    def q = spark.read.parquet(fact)
      .groupBy(col("l_returnflag"))
      .agg(dsum(expr("l_extendedprice * (1 - l_discount)")).as("rev"),
        min(expr("l_extendedprice * (1 - l_discount)")).as("min_rev"),
        count(lit(1)).as("n"))
    val p = scans(q)
    assert(p.contains(mv) && !p.contains(fact), s"revenue agg not rewritten:\n$p")
    val off = withRewriteOff(q.collect().map(_.toString).sorted)
    assert(q.collect().map(_.toString).sorted.sameElements(off))

    // A DIFFERENT expression is not semantically equal → direct plan.
    val other = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(dsum(expr("l_extendedprice * (1 + l_tax)")).as("x"))
    assert(!scans(other).contains(mv), "wrong expression served from revenue MV")

    // A bare DOUBLE sum of the same expression (no exact-decimal cast)
    // would re-associate float addition → never rewritten.
    val bare = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(sum(expr("l_extendedprice * (1 - l_discount)")).as("x"))
    assert(!scans(bare).contains(mv), "bare double sum wrongly served from MV")
  }

  test("HLL register MV: register build MV-served; delta fold ≡ one-shot sketch") {
    import graft.functions.Hll
    import graft.plans.MaterializedView.MvMaxD
    val fact = tempDir("mv_hll_fact") + "/fact"
    val ev = Tables.load(spark, sfDir, "events")
    val head = ev.filter(pmod(col("user_id"), lit(10)) < 7)
    val tail = ev.filter(pmod(col("user_id"), lit(10)) >= 7)
    head.write.parquet(fact)
    val mv = tempDir("mv_hll_rollup")
    MaterializedView.register(spark, fact,
      MvDef(Seq("event_type"), Seq(MvMaxD("mrho", Hll.rhoSql("user_id"))),
        mv, derived = Seq("reg" -> Hll.regSql("user_id"))))
    tail.write.mode("append").parquet(fact)
    MaterializedView.appendDelta(spark, fact, tail)

    // The standard register-build spelling (hp → reg/rho → group MAX) is
    // itself a subsumed aggregate: the rule serves it from the maintained
    // register table (2 batch partitions MAX-merged = sketch union).
    def regs = spark.read.parquet(fact)
      .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
      .select(col("event_type"), expr(Hll.regExpr).as("reg"),
        expr(Hll.rhoExpr).as("rho"))
      .groupBy(col("event_type"), col("reg")).agg(max(col("rho")).as("mrho"))
    val p = scans(regs)
    assert(p.contains(mv) && !p.contains(fact), s"register build not MV-served:\n$p")

    // Estimates from the incrementally-maintained sketch are bit-identical
    // to the direct one-shot computation over the whole corpus.
    def est = Hll.estimate(regs, Seq("event_type"))
      .collect().map(_.toString).sorted
    val direct = withRewriteOff(est)
    assert(est.sameElements(direct))
  }

  // ---- round-14: multi-dimension star ------------------------------------

  test("two-dimension star (snowflake chain) serves; wrong/partial shapes fall through") {
    val base = tempDir("mv_star2")
    val fact = base + "/fact"
    val dimO = base + "/orders"
    val dimC = base + "/customer"
    li.write.parquet(fact)
    Tables.load(spark, sfDir, "orders").write.parquet(dimO)
    Tables.load(spark, sfDir, "customer").write.parquet(dimC)
    val mv = tempDir("mv_star2_rollup")
    MaterializedView.register(spark, fact, MvDef(
      Seq("c_mktsegment"),
      Seq(MvSum("l_extendedprice"), MvCountStar),
      mv,
      joins = Seq(
        MaterializedView.MvJoin(dimO, "l_orderkey", "o_orderkey"),
        MaterializedView.MvJoin(dimC, "o_custkey", "c_custkey"))))
    def q = spark.read.parquet(fact)
      .join(spark.read.parquet(dimO), col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(dimC), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(dsum(col("l_extendedprice")).as("rev"), count(lit(1)).as("n"))
    val p = scans(q)
    assert(p.contains(mv), s"star2 not MV-served:\n$p")
    assert(!p.contains(fact) && !p.contains(dimO) && !p.contains(dimC),
      s"a joined table still scanned:\n$p")
    val off = withRewriteOff(q.collect().map(_.toString).sorted)
    assert(q.collect().map(_.toString).sorted.sameElements(off))

    // The OTHER join order (customer joined to orders first, fact last)
    // flattens to the same multiset and still serves.
    val q2 = spark.read.parquet(dimC)
      .join(spark.read.parquet(dimO), col("c_custkey") === col("o_custkey"))
      .join(spark.read.parquet(fact), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    assert(scans(q2).contains(mv), "reassociated join order not served")
    val off2 = withRewriteOff(q2.collect().map(_.toString).sorted)
    assert(q2.collect().map(_.toString).sorted.sameElements(off2))

    // PARTIAL join (fact⋈orders only): a different relation — never served
    // by the two-dim registration.
    val partial = spark.read.parquet(fact)
      .join(spark.read.parquet(dimO), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
    assert(!scans(partial).contains(mv), "partial join wrongly served")

    // WRONG key pair on the second hop: a different relation.
    val wrongKey = spark.read.parquet(fact)
      .join(spark.read.parquet(dimO), col("l_orderkey") === col("o_orderkey"))
      .join(spark.read.parquet(dimC), col("o_orderkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    assert(!scans(wrongKey).contains(mv), "wrong key pair wrongly served")

    // EXTRA join predicate: a strictly smaller relation than the MV's.
    val extraPred = spark.read.parquet(fact)
      .join(spark.read.parquet(dimO),
        col("l_orderkey") === col("o_orderkey") && col("o_totalprice") > 10)
      .join(spark.read.parquet(dimC), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    assert(!scans(extraPred).contains(mv), "extra join predicate wrongly served")

    // A changed SECOND dimension refuses incremental maintenance.
    Tables.load(spark, sfDir, "customer").limit(10)
      .write.mode("append").parquet(dimC)
    val e = intercept[IllegalArgumentException] {
      MaterializedView.appendDelta(spark, fact,
        li.filter(col("l_orderkey") % 2 === 0).limit(10))
    }
    assert(e.getMessage.contains("dimension"), e.getMessage)
  }

  test("declared rel_mv_star2 is actually MV-served (not vacuous)") {
    val st2 = SparkEntry.specs("rel_mv_star2").fn(spark, sfDir)
    val p = scans(st2)
    assert(!p.contains("lineitem.parquet") && !p.contains("orders.parquet") &&
      !p.contains("customer.parquet"), s"star2 not MV-served:\n$p")
  }

  // ---- round-14: avg + HAVING ------------------------------------------

  test("bare avg over exact-sum sources is served; float avg and missing-count fall through") {
    // The fixture's integral column: avg(l_linenumber) needs MvSum +
    // MvCount over it.
    val fact = tempDir("mv_avg_fact") + "/fact"
    li.write.parquet(fact)
    val mv = tempDir("mv_avg_rollup")
    MaterializedView.register(spark, fact, MvDef(
      Seq("l_returnflag", "l_linestatus"),
      Seq(MvSum("l_linenumber"), MvCount("l_linenumber"),
        MvSum("l_orderkey"), MvCountStar), mv))
    val served = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(avg(col("l_linenumber")).as("a"), count(lit(1)).as("n"))
    assert(scans(served).contains(mv), "integral avg not MV-served")
    val off = withRewriteOff(served.collect().map(_.toString).sorted)
    assert(served.collect().map(_.toString).sorted.sameElements(off))
    // avg over a raw DOUBLE re-associates — never rewritten.
    val dbl = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(avg(col("l_quantity")).as("a"))
    assert(!scans(dbl).contains(mv), "float avg wrongly served")
    // avg whose MvCount partial is missing — sum alone cannot serve it.
    val noCnt = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(avg(col("l_orderkey")).as("a"))
    assert(!scans(noCnt).contains(mv), "avg without MvCount wrongly served")
  }

  test("decimal avg served bit-identically through Spark's own division lattice") {
    val fact = tempDir("mv_avg_dec_fact") + "/fact"
    li.select(col("l_returnflag"),
      col("l_extendedprice").cast("decimal(12,2)").as("p2")).write.parquet(fact)
    val mv = tempDir("mv_avg_dec_rollup")
    MaterializedView.register(spark, fact, MvDef(
      Seq("l_returnflag"), Seq(MvSum("p2"), MvCount("p2"), MvCountStar), mv))
    // avg(decimal(12,2)) → decimal(16,6) via Average's own precision
    // lattice — the substituted evaluateExpression must reproduce it
    // exactly (value AND schema).
    val served = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(avg(col("p2")).as("a"), count(lit(1)).as("n"))
    assert(scans(served).contains(mv), "decimal avg not MV-served")
    assert(served.schema("a").dataType ==
      withRewriteOff(served.schema("a").dataType))
    val off = withRewriteOff(served.collect().map(_.toString).sorted)
    assert(served.collect().map(_.toString).sorted.sameElements(off))
  }

  test("HAVING rides above the rewrite; its subquery threshold is MV-served too") {
    val (fact, mv) = freshFact(defaultAggs :+ MvSum("l_linenumber"))
    spark.read.parquet(fact).createOrReplaceTempView("mv_spec_having")
    val df = spark.sql("""
      SELECT l_linenumber, COUNT(*) AS n
      FROM mv_spec_having
      GROUP BY l_linenumber
      HAVING COUNT(*) > 0.12 * (SELECT COUNT(*) FROM mv_spec_having)
         AND 2 * SUM(l_linenumber) > 9 * COUNT(*)""")
    val p = scans(df)
    assert(p.contains(mv), s"HAVING aggregate not MV-served:\n$p")
    assert(!p.contains(fact), s"fact still scanned under HAVING:\n$p")
    val off = withRewriteOff(df.collect().map(_.toString).sorted)
    val on = df.collect().map(_.toString).sorted
    assert(on.sameElements(off))
    // The aggregate clause genuinely filters: line numbers 5, 6, 7 only.
    assert(on.length == 3, s"HAVING did not filter: ${on.mkString(";")}")
  }

  // ---- round-14 hardening (the five ADVICE items) ----------------------

  test("lossy-decimal MvSum refused at build; bare lossy sum never served; dsum rides MvSumD") {
    val fact = tempDir("mv_dec_fact") + "/fact"
    li.select(col("l_returnflag"),
      col("l_quantity").cast("decimal(38,10)").as("q10")).write.parquet(fact)
    val mv = tempDir("mv_dec_rollup")
    // decimal(38,10): scale 10 > 6 — the partial's cast to decimal(30,6)
    // would ROUND, so the declaration is unsound and must refuse loudly.
    val e = intercept[IllegalArgumentException] {
      MaterializedView.register(spark, fact,
        MvDef(Seq("l_returnflag"), Seq(MvSum("q10")), mv))
    }
    assert(e.getMessage.contains("MvSumD"), s"wrong refusal: ${e.getMessage}")
    // The sound declaration for such a type: the exact-decimal measure.
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag"), Seq(MvSumD("q10", "q10"), MvCountStar), mv))
    // A bare sum(q10) keeps the source's (38,10) lattice — the rewrite
    // would re-type it; must fall through.
    val bare = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(sum(col("q10")).as("s"), count(lit(1)).as("n"))
    assert(!scans(bare).contains(mv), "lossy bare decimal sum wrongly served")
    // The dsum spelling casts to decimal(30,6) on BOTH plans — identical
    // per-row rounding, so the MvSumD partial serves it bit-identically.
    val exact = spark.read.parquet(fact).groupBy(col("l_returnflag"))
      .agg(dsum(col("q10")).as("s"), count(lit(1)).as("n"))
    assert(scans(exact).contains(mv), "dsum spelling not served by MvSumD")
    val off = withRewriteOff(exact.collect().map(_.toString).sorted)
    assert(exact.collect().map(_.toString).sorted.sameElements(off))
  }

  test("re-register on the same mvPath clears stale batch partitions") {
    val (fact, mv) = freshFact()
    val delta = li.filter(col("l_orderkey") % 7 === 0).limit(25)
    delta.write.mode("append").parquet(fact)
    MaterializedView.appendDelta(spark, fact, delta)
    val fs = new Path(mv).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batches(): Int =
      fs.listStatus(new Path(mv)).count(_.getPath.getName.startsWith("batch="))
    assert(batches() == 2)
    // Full rebuild reuses the SAME mv path: the stale batch=1 must not
    // survive to double-count under the fresh batch 0.
    MaterializedView.register(spark, fact,
      MvDef(Seq("l_returnflag", "l_linestatus", "l_linenumber"),
        defaultAggs, mv))
    assert(batches() == 1, "rebuild left stale batch partitions behind")
    assert(scans(query(fact)).contains(mv))
    val off = withRewriteOff(query(fact).collect().map(_.toString).sorted)
    assert(query(fact).collect().map(_.toString).sorted.sameElements(off))
  }

  test("appendDelta proves a source-scanned delta against the XOR digest") {
    val (fact, mv) = freshFact()
    val fs = new Path(fact).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] = fs.listStatus(new Path(fact)).toSeq
      .map(_.getPath)
      .filter(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
      .map(_.toString).toSet
    val before = files()
    li.filter(col("l_orderkey") % 5 === 0).limit(30)
      .write.mode("append").parquet(fact)
    val freshFiles = (files() -- before).toSeq
    def batches(): Int =
      fs.listStatus(new Path(mv)).count(_.getPath.getName.startsWith("batch="))
    val n0 = batches()
    // WRONG delta: scans every file under the source — it would re-add
    // the registered rows. The XOR-multiset digest detects it exactly and
    // the fold refuses BEFORE writing anything.
    val e = intercept[IllegalArgumentException] {
      MaterializedView.appendDelta(spark, fact, spark.read.parquet(fact))
    }
    assert(e.getMessage.contains("refusing to fold"))
    assert(batches() == n0, "wrong delta was folded anyway")
    // Registration is merely stale: direct plan, right answer.
    assert(!scans(query(fact)).contains(mv))
    // RIGHT delta: exactly the new files — the digest extends to the
    // current listing, so the fold proceeds and serving resumes.
    MaterializedView.appendDelta(spark, fact,
      spark.read.parquet(freshFiles: _*))
    assert(scans(query(fact)).contains(mv), "verified delta did not resume serving")
    val off = withRewriteOff(query(fact).collect().map(_.toString).sorted)
    assert(query(fact).collect().map(_.toString).sorted.sameElements(off))
  }

  test("cold-read swap recovery gates on the maintenance lease") {
    val (fact, mv) = freshFact()
    val delta = li.filter(col("l_orderkey") % 3 === 0).limit(40)
    delta.write.mode("append").parquet(fact)
    MaterializedView.appendDelta(spark, fact, delta) // two batch dirs
    val direct = withRewriteOff(query(fact).collect().map(_.toString).sorted)
    // Hand-craft a compactor crashed AFTER the manifest commit, BEFORE
    // the deletes — the window where a concurrent reader's recovery
    // racing a LIVE compactor could delete the merged batches' only copy.
    val fs = new Path(mv).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(s"$mv/batch=0", s"$mv/batch=1")
      .groupBy(col("l_returnflag"), col("l_linestatus"), col("l_linenumber"))
      .agg(sum(col("sum_l_quantity")).as("sum_l_quantity"),
        sum(col("cnt_star")).as("cnt_star"),
        sum(col("cnt_l_quantity")).as("cnt_l_quantity"),
        min(col("min_l_extendedprice")).as("min_l_extendedprice"),
        max(col("max_l_extendedprice")).as("max_l_extendedprice"))
      .coalesce(1).write.parquet(s"$mv/.compact_tmp_batches")
    fs.create(new Path(s"$mv/.compact_tmp_batches/_merged"), true).close()
    val mOut = fs.create(new Path(s"$mv/.compact_manifest"), true)
    mOut.write("batch=0\nbatch=1".getBytes("UTF-8")); mOut.close()
    MaintenanceLease.acquire(fs, new Path(mv), "test-crashed-compactor")
    // Lease present ⇒ the cold read must NOT recover (a live maintainer
    // is indistinguishable from a crashed one) — and still serves the
    // correct answer from the untouched original batches.
    MaterializedView.invalidateCache(mv)
    assert(query(fact).collect().map(_.toString).sorted.sameElements(direct))
    assert(fs.exists(new Path(s"$mv/.compact_manifest")), "recovered under a held lease")
    assert(fs.exists(new Path(s"$mv/batch=1")), "originals deleted under a held lease")
    // A second maintainer is refused while the dead holder's lease stands.
    intercept[MaintenanceLease.ConcurrentMaintenanceException] {
      MaterializedView.compact(spark, fact)
    }
    // Operator breaks the dead lease ⇒ the next cold read completes the
    // swap (manifest gone, originals cleared) and serving is unchanged.
    MaintenanceLease.break(fs, new Path(mv))
    MaterializedView.invalidateCache(mv)
    assert(query(fact).collect().map(_.toString).sorted.sameElements(direct))
    assert(!fs.exists(new Path(s"$mv/.compact_manifest")), "swap not completed")
    assert(!fs.exists(new Path(s"$mv/batch=1")), "originals not cleared")
  }
}
