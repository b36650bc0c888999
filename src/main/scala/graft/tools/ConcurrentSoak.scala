package graft.tools

import graft.SparkEntry
import graft.streaming.{ActivityGenerator, Drain, Medallion}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.file.{Files, Paths}

/** Concurrent multi-pipeline soak: the medallion streams (bronze →
  * quarantine → silver → gold) drain LIVE while a rotating batch-query
  * mix — including another streaming query — executes in the same
  * session, each side in its own FAIR scheduler pool. Everything
  * measured before this ran one query at a time; a real deployment does
  * not.
  *
  * The contract under test: end-state EQUALITY — gold, silver, and
  * quarantine (minus its wall-clock column) after the concurrent run must
  * be bit-identical to a sequential run over the same raw files — plus no
  * cross-talk:
  *   - a batch-side drain must not stop the state-store machinery under
  *     the live medallion ([[Drain.release]] waits until no stream is
  *     active anywhere in the application);
  *   - no drain changes the session's width: each concurrent batch query
  *     records the shuffle width it started at, and the session's two
  *     width keys are recorded after the run ([[Drain]] sets its width on
  *     a fork).
  * Interference is RECORDED, not asserted: per-query wall-clock solo vs
  * concurrent.
  *
  * Usage: spark-submit --class graft.tools.ConcurrentSoak <jar>
  *   [sfDir] [workDir]     (env SPARK_GRAFT_SOAK_OUT = artifact path)
  */
object ConcurrentSoak {

  /** The rotating mix: cheap-to-medium batch queries across families plus
    * one STREAMING query (rel_hll_stream runs its own checkpointed waves —
    * the stream-beside-stream case where state-store cross-talk would
    * bite). */
  val defaultMix: Seq[String] = Seq(
    "rel_q1_pricing_summary", "rel_window_rank", "ts_drawdown",
    "rel_agg_quantiles", "llm_text_stats", "rel_geo_nearest",
    "rel_hll_stream")

  final case class Result(
      goldEqual: Boolean, silverEqual: Boolean, quarantineEqual: Boolean,
      seqStreamSec: Double, conStreamSec: Double,
      soloQuerySec: Map[String, Double], conQuerySec: Map[String, Double],
      queriesRun: Int, conQueryWidths: Seq[Int],
      widthKeysAfter: Map[String, Option[String]])

  private def canonRows(spark: SparkSession, dir: String,
      drop: Seq[String] = Nil): Seq[String] = {
    val df0 = spark.read.parquet(dir)
    val df = drop.foldLeft(df0)((d, c) => d.drop(c))
    val cols = df.columns.sorted.toIndexedSeq
    df.select(cols.map(col): _*).collect()
      .map(_.toString).sorted.toIndexedSeq
  }

  private def inPool[A](spark: SparkSession, pool: String)(f: => A): A = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
    try f finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }

  private def time[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Drive one medallion ingest over `waves` generator waves into `base`,
    * draining after each (restart-per-wave). Same seed ⇒ identical raw
    * bytes across calls. */
  private def ingest(spark: SparkSession, base: String, waves: Int): Unit = {
    val dirs = Medallion.Dirs(base)
    (1 to waves).foreach { w =>
      ActivityGenerator.generate(dirs.raw, numFiles = 2, rowsPerFile = 1500,
        seed = 42L + w)
      Medallion.runAvailableNow(spark, dirs)
    }
  }

  /** Run the soak; callable from the spec (small) and main (full). */
  def run(spark: SparkSession, sfDir: String, base: String, waves: Int,
      mix: Seq[String]): Result = {
    val seqBase = s"$base/seq"
    val conBase = s"$base/con"

    // Solo baselines: the sequential medallion run and each query alone.
    val (seqSec, _) = time(ingest(spark, seqBase, waves))
    val soloTimes = mix.map { q =>
      q -> time(SparkEntry.queries(q)(spark, sfDir).collect().length)._1
    }.toMap

    // Concurrent phase: medallion in pool "streaming", the rotating mix
    // in pool "batch", simultaneously.
    @volatile var streamDone = false
    @volatile var streamErr: Option[Throwable] = None
    var conStreamSec = 0.0
    val streamThread = new Thread(() => {
      try inPool(spark, "streaming") {
        conStreamSec = time(ingest(spark, conBase, waves))._1
      } catch { case t: Throwable => streamErr = Some(t) }
      finally streamDone = true
    }, "soak-streaming")
    val conTimes = scala.collection.mutable.Map[String, List[Double]]()
    val conWidths = Seq.newBuilder[Int]
    var ran = 0
    streamThread.start()
    inPool(spark, "batch") {
      var i = 0
      while (!streamDone) {
        val q = mix(i % mix.size)
        conWidths += spark.sessionState.conf.numShufflePartitions
        val (sec, _) = time(SparkEntry.queries(q)(spark, sfDir).collect().length)
        conTimes.updateWith(q)(l => Some(sec :: l.getOrElse(Nil)))
        ran += 1
        i += 1
      }
    }
    streamThread.join()
    streamErr.foreach(throw _)

    val sd = Medallion.Dirs(seqBase); val cd = Medallion.Dirs(conBase)
    Result(
      goldEqual = canonRows(spark, sd.gold) == canonRows(spark, cd.gold),
      silverEqual = canonRows(spark, sd.silver) == canonRows(spark, cd.silver),
      quarantineEqual =
        canonRows(spark, sd.quarantine, drop = Seq("processing_time")) ==
          canonRows(spark, cd.quarantine, drop = Seq("processing_time")),
      seqStreamSec = seqSec, conStreamSec = conStreamSec,
      soloQuerySec = soloTimes,
      conQuerySec = conTimes.map { case (k, v) => k -> v.min }.toMap,
      queriesRun = ran, conQueryWidths = conWidths.result(),
      widthKeysAfter = Drain.widthKeys.map(k => k -> spark.conf.getOption(k)).toMap)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val base = if (args.length > 1) args(1) else "/tmp/graft_concurrent_soak"
    org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(base))
    // FAIR scheduling is a static SparkConf — set before the context
    // builds so the two pools actually time-slice.
    val spark = graft.GraftSession.builder("graft-concurrent-soak")
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val width = spark.sessionState.conf.numShufflePartitions
    val keys = Drain.widthKeys.map(k => k -> spark.conf.getOption(k)).toMap
    val r = run(spark, sfDir, base, waves = 3, mix = defaultMix)
    val widthKept = r.conQueryWidths.forall(_ == width) && r.widthKeysAfter == keys
    def m(xs: Map[String, Double]) = xs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString("{", ",", "}")
    val row =
      s"""{"gold_equal":${r.goldEqual},"silver_equal":${r.silverEqual},""" +
        s""""quarantine_equal":${r.quarantineEqual},""" +
        s""""stream_solo_sec":${f"${r.seqStreamSec}%.1f"},""" +
        s""""stream_concurrent_sec":${f"${r.conStreamSec}%.1f"},""" +
        s""""batch_queries_completed_during_stream":${r.queriesRun},""" +
        s""""query_solo_sec":${m(r.soloQuerySec)},""" +
        s""""query_concurrent_min_sec":${m(r.conQuerySec)},""" +
        s""""session_width":$width,""" +
        s""""concurrent_query_widths":${r.conQueryWidths.mkString("[", ",", "]")},""" +
        s""""width_keys_after":${r.widthKeysAfter.toSeq.sorted
          .map { case (k, v) => s""""$k":${v.fold("null")(x => s""""$x"""")}""" }
          .mkString("{", ",", "}")}}"""
    println(row)
    val out = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "CONCURRENT_SOAK.json")
    Files.writeString(Paths.get(out), row + "\n")
    spark.stop()
    if (!(r.goldEqual && r.silverEqual && r.quarantineEqual && widthKept)) sys.exit(1)
  }
}
