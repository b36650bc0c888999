package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DecimalType

import graft.api.StreamWidth
import graft.pipeline.ActivityPipeline
import graft.streaming.{ActivityGenerator, Medallion}

object Workloads {
  // Each workload is a few queries, so that a run (a cold set-up with its
  // warm-up passes, several measured passes, a checked final pass) fits the
  // benchmark's time budget; the queries are chosen for the layers each
  // workload stresses.

  /** TPC-H-shaped scan/join/aggregate queries: fixed per-query costs
    * (schema inference, Catalyst, job launch), no loops, no native
    * functions. */
  val relTpch: Seq[String] = Seq(
    "rel_q1_pricing_summary", "rel_q3_shipping_priority", "rel_q6_forecast_revenue",
    "rel_q14_promo_effect", "rel_q19_disjunctive")

  /** LLM-data queries: `llm_curate_e2e` runs a chain of label-propagation
    * jobs (checkpoints, counts) while its DataFrame is built, so the driver
    * schedules and the cores idle; `llm_dedup_minhash` and
    * `llm_gopher_gate` spend executor time in native expressions
    * (`minhash_sig`, `band_hashes`, `gopher_stats`). */
  val llm: Seq[String] = Seq("llm_curate_e2e", "llm_dedup_minhash", "llm_gopher_gate")

  val batch: Map[String, Seq[String]] = Map("rel-tpch" -> relTpch, "llm" -> llm)

  /** Seeded order of a pass: the seed fixes every pass's permutation. */
  def shuffled(xs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(xs)

  private def message(e: Throwable): String =
    Option(e.getMessage).map(_.linesIterator.take(3).mkString(" | "))
      .getOrElse(e.getClass.getName)

  /** Drop whatever a query left in the session (cached plans, streams,
    * state-store providers), so it cannot tax the next one. */
  def clean(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.streams.active.foreach(q => Try(q.stop()))
    Try(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
    ()
  }

  def deleteTree(f: File): Unit = {
    if (Files.isDirectory(f.toPath, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
    ()
  }

  /** Queries built through `graft.Graft.query` and run to a noop sink.
    * Two untimed passes write each query's result for the DuckDB oracle:
    * the first warm-up pass (the first execution in the session) and a
    * final pass after the measured ones (a repeat execution), under
    * `out/first` and `out/last`. */
  final class Batch(val queries: Seq[String], dir: String, seed: Long, out: String,
      injectWrong: Option[String]) {
    private val failures = mutable.Map.empty[String, String]
    val checkDirs: Seq[String] = Seq(s"$out/first", s"$out/last")

    /** Table listing, then `warmUps` untimed passes; the first writes
      * the results, the others run to the noop sink like measured passes. */
    def setup(spark: SparkSession, warmUps: Int): Unit = {
      graft.sources.Tables.all.foreach(t => graft.Graft.table(spark, dir, t).schema)
      write(spark, checkDirs.head, corrupt = false)
      for (pass <- -1 to -(warmUps - 1) by -1; n <- order(pass))
        run(spark, n, pass).error.foreach(e => failures(n) = s"warm-up run failed: $e")
    }

    /** The final pass, in the measured session. `--inject-wrong` corrupts
      * this pass only, so the self-test shows that repeat executions are
      * checked. */
    def finalPass(spark: SparkSession): Unit = write(spark, checkDirs.last, corrupt = true)

    private def write(spark: SparkSession, to: String, corrupt: Boolean): Unit =
      queries.foreach { n =>
        try {
          val df = graft.Graft.query(spark, dir, n)
          val result = if (corrupt && injectWrong.contains(n)) df.union(df.limit(1)) else df
          result.coalesce(1).write.mode("overwrite").parquet(s"$to/$n")
        } catch {
          case e: Throwable =>
            failures(n) = s"${new File(to).getName} run failed: ${message(e)}"
        }
        clean(spark)
      }

    def order(pass: Int): Seq[String] = shuffled(queries, seed, pass)

    def run(spark: SparkSession, name: String, pass: Int): Op = {
      val group = s"$name#$pass"
      spark.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
      val start = Clock.ms()
      var built = Double.NaN
      var phases = Seq.empty[(String, Double, Double)]
      val error =
        try {
          val df = graft.Graft.query(spark, dir, name)
          built = Clock.ms()
          // The built DataFrame's own Catalyst phases (its analysis ran in
          // the builder); the write's phases reach the traced run's listener.
          phases = df.queryExecution.tracker.phases.toSeq.map { case (p, s) =>
            (p, s.startTimeMs.toDouble, s.endTimeMs.toDouble) }
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable => Some(message(e)) }
      val end = Clock.ms()
      spark.sparkContext.clearJobGroup()
      clean(spark)
      val parts =
        if (built.isNaN) Seq(Part("build", "build", start, end))
        else Seq(Part("build", "build", start, built), Part("execute", "exec", built, end))
      Op(name, group, "query", start, end, error, parts, phases = phases)
    }

    /** The failures of the written passes, and queries without oracle SQL;
      * writes the oracle SQL next to each pass's results. */
    def check(): Map[String, String] = {
      val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => queries.contains(k) }
      checkDirs.foreach(d => Json.write(s"$d/oracle_sql.json", oracle))
      failures.toMap ++ queries.filterNot(oracle.contains).map(_ -> "no oracle SQL")
    }
  }

  /** The streaming probe of traced runs: a seeded activity feed drained
    * through `Medallion.startBronze` → `startSilver` → `startGoldIncremental`,
    * each layer with `Trigger.AvailableNow` and the library's default
    * admission caps, into fresh sinks. */
  final class StreamProbe(work: String, seed: Long, files: Int, rowsPerFile: Int,
      timeoutMs: Long) {
    val feed = s"$work/feed"
    private var summary: ActivityGenerator.Summary = _

    /** Generates the feed and drains it once, untimed. */
    def setup(spark: SparkSession): Unit = {
      deleteTree(new File(feed))
      summary = ActivityGenerator.generate(feed, numFiles = files,
        rowsPerFile = rowsPerFile, seed = seed, chronological = true)
      val warm = run(spark, -1)
      warm.error.foreach(e => System.err.println(s"[perfbench] warm-up drain failed: $e"))
      deleteTree(new File(base(-1)))
    }

    def base(pass: Int): String = s"$work/drain-$pass"

    def run(spark: SparkSession, pass: Int): Op = {
      val dirs = Medallion.Dirs(base(pass))
      deleteTree(new File(dirs.base))
      Files.createDirectories(Paths.get(dirs.base))
      Files.createSymbolicLink(Paths.get(dirs.raw), Paths.get(feed).toAbsolutePath)
      val trigger = Trigger.AvailableNow()
      val parts = ArrayBuffer.empty[Part]
      val batches = ArrayBuffer.empty[MicroBatch]
      def layer(name: String)(start: => Seq[StreamingQuery]): Unit = {
        val l0 = Clock.ms()
        val qs = start
        val l1 = Clock.ms()
        try qs.foreach(q => require(q.awaitTermination(timeoutMs),
          s"$name did not drain within $timeoutMs ms"))
        finally qs.foreach(q => Try(q.stop()))
        parts += Part(s"$name.start", "build", l0, l1)
        parts += Part(name, s"stream.$name", l0, Clock.ms())
        // The second bronze query is the quarantine sink.
        val labels = if (name == "bronze") Seq(name, "quarantine") else Seq(name)
        for ((q, label) <- qs.zip(labels); p <- q.recentProgress)
          batches += MicroBatch(label,
            java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
            p.numInputRows,
            p.stateOperators.map(_.memoryUsedBytes).sum,
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
      val start = Clock.ms()
      val error =
        try {
          StreamWidth.withShufflePartitions(spark, StreamWidth.forInput(spark, dirs.raw)) {
            layer("bronze") {
              val (valid, quarantine) = Medallion.startBronze(spark, dirs, trigger)
              Seq(valid, quarantine)
            }
            layer("silver")(Seq(Medallion.startSilver(spark, dirs, trigger)))
            layer("gold")(Seq(Medallion.startGoldIncremental(spark, dirs, trigger)))
          }
          if (spark.streams.active.isEmpty)
            Try(org.apache.spark.sql.execution.streaming.state.StateStore.stop())
          None
        } catch { case e: Throwable => Some(message(e)) }
      val end = Clock.ms()
      Op("drain", s"drain#$pass", "drain", start, end, error, parts.toSeq, batches.toSeq)
    }

    /** Row accounting of a drain: silver holds exactly the feed's distinct
      * valid log_ids (nothing dropped as late), and gold's watch-time total
      * equals the batch recomputation from the raw feed. */
    def check(spark: SparkSession, op: Op): Option[String] = {
      val dirs = Medallion.Dirs(base(op.group.stripPrefix("drain#").toInt))
      val problems = ArrayBuffer.empty[String]
      try {
        val raw = spark.read.schema(ActivityPipeline.RawSchema)
          .option("header", "true").csv(feed)
        val expected = ActivityPipeline.goldFromRaw(raw)
        def total(df: DataFrame) =
          df.agg(sum(col("total_watch_time").cast(DecimalType(30, 6)))).first().get(0)
        val (wantTotal, wantUsers) = (total(expected), expected.count())
        val silver = spark.read.parquet(dirs.silver)
        val rows = silver.count()
        val ids = silver.select("log_id").distinct().count()
        if (rows != summary.distinctValidLogIds)
          problems += s"silver rows $rows != distinct valid log_ids ${summary.distinctValidLogIds}"
        if (ids != rows) problems += s"silver has ${rows - ids} duplicate log_ids"
        val late = op.batches.map(_.droppedByWatermark).sum
        if (late != 0) problems += s"late_dropped $late"
        val gold = spark.read.parquet(dirs.gold)
        val (gotTotal, gotUsers) = (total(gold), gold.count())
        if (gotTotal != wantTotal)
          problems += s"gold total_watch_time $gotTotal != batch recomputation $wantTotal"
        if (gotUsers != wantUsers) problems += s"gold users $gotUsers != $wantUsers"
      } catch { case e: Throwable => problems += s"check failed: ${message(e)}" }
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }

    def sinkMb(pass: Int): Double = {
      val dirs = Medallion.Dirs(base(pass))
      def size(f: File): Long =
        if (Files.isSymbolicLink(f.toPath)) 0L
        else if (f.isDirectory) Option(f.listFiles()).map(_.map(size).sum).getOrElse(0L)
        else f.length()
      Seq(dirs.bronze, dirs.quarantine, dirs.silver, dirs.gold)
        .map(d => size(new File(d))).sum / Tracer.MB
    }
  }
}
