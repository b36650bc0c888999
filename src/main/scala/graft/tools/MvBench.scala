package graft.tools

import graft.GraftSession
import graft.api.Exact.dsum
import graft.plans.MaterializedView
import graft.plans.MaterializedView.{MvCount, MvCountStar, MvDef, MvMax, MvMin, MvSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Measures the materialized-view rewrite's economics — the claim under
  * test: a subsumed aggregate over a fact table costs O(rollup) ≈
  * constant once the MV exists, the one-time build costs one fact scan,
  * and incremental maintenance costs O(delta), so at 100 TB a dashboard's
  * repeated aggregates never pay the fact scan again.
  *
  * Protocol per scale: register (timed: one full scan + ~40-row write),
  * run the rollup query direct (rewrite disabled) and MV-served, two
  * timed runs each (min reported); then append a ~1% delta to the fact
  * and time `appendDelta` (one delta rollup) vs what a full refresh
  * would pay (re-register). Results must match between modes — asserted
  * on canonicalized rows, not assumed.
  *
  * Usage: `runMain graft.tools.MvBench <sfDir> [<sfDir> ...]`
  * Prints one JSON line per dir; append to MV_BENCH.json to commit.
  */
object MvBench {

  private def dfn(mvPath: String) = MvDef(
    groupCols = Seq("l_returnflag", "l_linestatus", "l_linenumber"),
    aggs = Seq(MvSum("l_quantity"), MvSum("l_extendedprice"), MvCountStar,
      MvCount("l_quantity"), MvMin("l_extendedprice"), MvMax("l_extendedprice"),
      // round 14: the pair that serves bare avg(l_linenumber).
      MvSum("l_linenumber"), MvCount("l_linenumber")),
    mvPath = mvPath)

  private def rollupQuery(spark: SparkSession, fact: String): DataFrame =
    spark.read.parquet(fact)
      .groupBy(col("l_returnflag"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        count(lit(1)).as("n"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))

  private def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = body
    ((System.nanoTime() - t0) / 1e9, a)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder("graft-mv-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    args.toSeq.foreach { dir =>
      // A scratch COPY of lineitem is the fact (the delta step appends).
      val scratch = graft.api.Scratch.dir("mvbench")
      val fact = s"$scratch/fact"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      li.write.parquet(fact)
      val nRows = spark.read.parquet(fact).count()

      // Build with the rewrite OFF: once one MV is fresh, a second
      // register's own rollup aggregation would be transparently served
      // from it (rollup-from-rollup — correct, but it would understate
      // the honest full-scan build cost this artifact reports).
      def registerDirect(path: String): Unit = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try MaterializedView.register(spark, fact, dfn(path))
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (buildSec, _) = timed(registerDirect(s"$scratch/mv"))

      def canon(df: DataFrame): Seq[String] =
        df.collect().map(_.toString).sorted.toSeq
      def run(rewrite: Boolean): (Double, Seq[String]) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        try {
          val times = (1 to 2).map(_ => timed(canon(rollupQuery(spark, fact))))
          (times.map(_._1).min, times.head._2)
        } finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (directSec, directRows) = run(rewrite = false)
      val (servedSec, servedRows) = run(rewrite = true)
      require(directRows == servedRows, "MV-served rows != direct rows")

      // ~1% delta lands as new files; maintenance = one delta rollup.
      val delta = li.filter(pmod(col("l_orderkey"), lit(100)) === 7)
      val nDelta = delta.count()
      delta.write.mode("append").parquet(fact)
      val (deltaSec, _) =
        timed(MaterializedView.appendDelta(spark, fact, delta))
      // What a full refresh would pay instead (rebuild over grown fact).
      val (refreshSec, _) = timed(registerDirect(s"$scratch/mv2"))
      val (servedSec2, served2) = run(rewrite = true)
      val (directSec2, direct2) = run(rewrite = false)
      require(served2 == direct2, "post-delta MV-served rows != direct rows")

      // Star rollup: the fact joined to the orders dimension, grouped by
      // a dim attribute — the shape where the MV's economics dominate
      // (the direct plan pays a fact⋈dim shuffle join every run).
      val dimSrc = s"$dir/orders.parquet"
      val starDfn = MvDef(
        groupCols = Seq("o_orderpriority"),
        aggs = Seq(MvSum("l_extendedprice"), MvCountStar),
        mvPath = s"$scratch/mv_star",
        joins = Seq(MaterializedView.MvJoin(dimSrc, "l_orderkey", "o_orderkey")))
      def starQuery(): DataFrame = spark.read.parquet(fact)
        .join(spark.read.parquet(dimSrc), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice")).as("sum_price"), count(lit(1)).as("n"))
      def runStar(rewrite: Boolean): (Double, Seq[String]) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        try {
          val times = (1 to 2).map(_ => timed(canon(starQuery())))
          (times.map(_._1).min, times.head._2)
        } finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (starBuildSec, _) = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try timed(MaterializedView.register(spark, fact, starDfn))
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (starDirectSec, starDirectRows) = runStar(rewrite = false)
      val (starServedSec, starServedRows) = runStar(rewrite = true)
      require(starDirectRows == starServedRows, "star MV rows != direct rows")

      // Grouping sets: ROLLUP triples every fact row through the Expand in
      // the direct plan; the served plan Expands ~|groups| partial rows.
      def rollupGs(): DataFrame = spark.read.parquet(fact)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(dsum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      def runGs(rewrite: Boolean): (Double, Seq[String]) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        try {
          val times = (1 to 2).map(_ => timed(canon(rollupGs())))
          (times.map(_._1).min, times.head._2)
        } finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (gsDirectSec, gsDirect) = runGs(rewrite = false)
      val (gsServedSec, gsServed) = runGs(rewrite = true)
      require(gsDirect == gsServed, "rollup grouping sets rows != direct rows")

      // Round-14 shapes. Bare avg: the MvSum+MvCount pair substituted into
      // Spark's own Average division — previously always fell through.
      def avgQuery(): DataFrame = spark.read.parquet(fact)
        .groupBy(col("l_returnflag"))
        .agg(avg(col("l_linenumber")).as("a"), count(lit(1)).as("n"))
      def runGeneric(q: () => DataFrame, rewrite: Boolean): (Double, Seq[String]) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        try {
          val times = (1 to 2).map(_ => timed(canon(q())))
          (times.map(_._1).min, times.head._2)
        } finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (avgDirectSec, avgDirect) = runGeneric(avgQuery _, rewrite = false)
      val (avgServedSec, avgServed) = runGeneric(avgQuery _, rewrite = true)
      require(avgDirect == avgServed, "avg MV rows != direct rows")

      // HAVING (a Filter above the served Aggregate, referencing its
      // aggregate outputs): served cost stays at the rollup floor.
      def havingQuery(): DataFrame = spark.read.parquet(fact)
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"), sum(col("l_linenumber")).as("sl"),
          dsum(col("l_quantity")).as("sum_qty"))
        .filter(col("sl") * 2 > col("n") * 9)
      val (havDirectSec, havDirect) = runGeneric(havingQuery _, rewrite = false)
      val (havServedSec, havServed) = runGeneric(havingQuery _, rewrite = true)
      require(havDirect == havServed, "having MV rows != direct rows")

      // TWO-dimension star chain (fact ⋈ orders ⋈ customer, grouped by a
      // second-hop dim attribute): the direct plan pays two shuffle joins
      // over the corpus per run; the served plan reads ~5 rollup rows.
      val custSrc = s"$dir/customer.parquet"
      val star2Dfn = MvDef(
        groupCols = Seq("c_mktsegment"),
        aggs = Seq(MvSum("l_extendedprice"), MvCountStar),
        mvPath = s"$scratch/mv_star2",
        joins = Seq(
          MaterializedView.MvJoin(dimSrc, "l_orderkey", "o_orderkey"),
          MaterializedView.MvJoin(custSrc, "o_custkey", "c_custkey")))
      val (star2BuildSec, _) = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try timed(MaterializedView.register(spark, fact, star2Dfn))
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      def star2Query(): DataFrame = spark.read.parquet(fact)
        .join(spark.read.parquet(dimSrc), col("l_orderkey") === col("o_orderkey"))
        .join(spark.read.parquet(custSrc), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("l_extendedprice")).as("rev"), count(lit(1)).as("n"))
      val (star2DirectSec, star2Direct) = runGeneric(star2Query _, rewrite = false)
      val (star2ServedSec, star2Served) = runGeneric(star2Query _, rewrite = true)
      require(star2Direct == star2Served, "star2 MV rows != direct rows")

      // HLL sketch rollup: count-distinct users per event_type served from
      // the maintained register MV (derived-measure MVs) — the direct plan
      // hashes every fact row per run; the served plan reads ≤ |types|·4096
      // register rows.
      import graft.functions.Hll
      val evFact = s"$scratch/ev_fact"
      spark.read.parquet(s"$dir/events.parquet")
        .select(col("event_type"), col("user_id")).write.parquet(evFact)
      val hllDfn = MvDef(
        groupCols = Seq("event_type"),
        aggs = Seq(MaterializedView.MvMaxD("mrho", Hll.rhoSql("user_id"))),
        mvPath = s"$scratch/mv_hll",
        derived = Seq("reg" -> Hll.regSql("user_id")))
      val (hllBuildSec, _) = {
        spark.conf.set("spark.graft.mv.rewrite", "false")
        try timed(MaterializedView.register(spark, evFact, hllDfn))
        finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      def distinctQuery(): DataFrame = {
        val regs = spark.read.parquet(evFact)
          .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
          .select(col("event_type"), expr(Hll.regExpr).as("reg"),
            expr(Hll.rhoExpr).as("rho"))
          .groupBy(col("event_type"), col("reg")).agg(max(col("rho")).as("mrho"))
        Hll.estimate(regs, Seq("event_type"))
      }
      def runDistinct(rewrite: Boolean): (Double, Seq[String]) = {
        spark.conf.set("spark.graft.mv.rewrite", rewrite.toString)
        try {
          val times = (1 to 2).map(_ => timed(canon(distinctQuery())))
          (times.map(_._1).min, times.head._2)
        } finally spark.conf.set("spark.graft.mv.rewrite", "true")
      }
      val (distDirectSec, distDirect) = runDistinct(rewrite = false)
      val (distServedSec, distServed) = runDistinct(rewrite = true)
      require(distDirect == distServed, "HLL MV estimates != direct estimates")

      // Fragmentation + compaction: a streamed maintainer leaves one batch
      // partition per trigger; compaction re-aggregates them into one and
      // the serve cost returns to the single-rollup floor. 24 tiny deltas
      // stand in for a day of hourly triggers.
      (0 until 24).foreach { k =>
        val d = li.filter(pmod(col("l_orderkey"), lit(2400)) === (1200 + k))
        d.write.mode("append").parquet(fact)
        MaterializedView.appendDelta(spark, fact, d)
      }
      val (servedFragSec, fragRows) = run(rewrite = true)
      // One call compacts every rollup registered on the path (plain, the
      // post-delta rebuild, star, HLL lives on its own path) — the same
      // one-call-maintains-all discipline appendDelta has.
      val (compactSec, compactReport) =
        timed(MaterializedView.compact(spark, fact, keepLast = 1))
      val fragBatches = compactReport
        .collectFirst { case (p, b, _) if p == s"$scratch/mv" => b }.get
      val (servedCompactSec, compactRows) = run(rewrite = true)
      require(fragRows == compactRows, "compacted MV rows != fragmented rows")

      println(
        s"""{"metric":"mv_bench","sf":"$dir","fact_rows":$nRows,""" +
        s""""build_sec":${f"$buildSec%.2f"},"direct_sec":${f"$directSec%.2f"},""" +
        s""""mv_served_sec":${f"$servedSec%.2f"},""" +
        s""""speedup":${f"${directSec / servedSec}%.1f"},""" +
        s""""delta_rows":$nDelta,"append_delta_sec":${f"$deltaSec%.2f"},""" +
        s""""full_refresh_sec":${f"$refreshSec%.2f"},""" +
        s""""post_delta_served_sec":${f"$servedSec2%.2f"},""" +
        s""""post_delta_direct_sec":${f"$directSec2%.2f"},""" +
        s""""star_build_sec":${f"$starBuildSec%.2f"},""" +
        s""""star_direct_sec":${f"$starDirectSec%.2f"},""" +
        s""""star_served_sec":${f"$starServedSec%.2f"},""" +
        s""""star_speedup":${f"${starDirectSec / starServedSec}%.1f"},""" +
        s""""gs_direct_sec":${f"$gsDirectSec%.2f"},""" +
        s""""gs_served_sec":${f"$gsServedSec%.2f"},""" +
        s""""gs_speedup":${f"${gsDirectSec / gsServedSec}%.1f"},""" +
        s""""avg_direct_sec":${f"$avgDirectSec%.2f"},""" +
        s""""avg_served_sec":${f"$avgServedSec%.2f"},""" +
        s""""avg_speedup":${f"${avgDirectSec / avgServedSec}%.1f"},""" +
        s""""having_direct_sec":${f"$havDirectSec%.2f"},""" +
        s""""having_served_sec":${f"$havServedSec%.2f"},""" +
        s""""having_speedup":${f"${havDirectSec / havServedSec}%.1f"},""" +
        s""""star2_build_sec":${f"$star2BuildSec%.2f"},""" +
        s""""star2_direct_sec":${f"$star2DirectSec%.2f"},""" +
        s""""star2_served_sec":${f"$star2ServedSec%.2f"},""" +
        s""""star2_speedup":${f"${star2DirectSec / star2ServedSec}%.1f"},""" +
        s""""hll_build_sec":${f"$hllBuildSec%.2f"},""" +
        s""""distinct_direct_sec":${f"$distDirectSec%.2f"},""" +
        s""""distinct_served_sec":${f"$distServedSec%.2f"},""" +
        s""""distinct_speedup":${f"${distDirectSec / distServedSec}%.1f"},""" +
        s""""frag_batches":$fragBatches,""" +
        s""""served_frag_sec":${f"$servedFragSec%.2f"},""" +
        s""""compact_all_mvs_sec":${f"$compactSec%.2f"},""" +
        s""""served_compacted_sec":${f"$servedCompactSec%.2f"}}""")
    }
    spark.stop()
  }
}
