package graft.tools

import graft.GraftSession
import graft.streaming.{ActivityGenerator, Medallion}
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Paths}

/** Streaming ingest throughput at scale: the medallion path has only ever
  * been exercised at test size (a few thousand rows per drain), so the
  * "streams hold up at 100 TB/day" posture rested on operator shape alone.
  * This main drains N CSV rows through the full bronze→silver→gold tree
  * with Trigger.AvailableNow, timing each layer separately, and reports
  * end-to-end and per-layer rows/second. Run it at two or more input sizes
  * and compare: admission caps (10 files per bronze trigger) mean the drain
  * is a sequence of bounded micro-batches, so rows/s should hold roughly
  * constant as input grows — that constancy, not any single number, is the
  * scale claim under test.
  *
  * Usage: StreamThroughput <workDir> <numFiles> <rowsPerFile>
  * Output: one JSON line (also appended to SPARK_GRAFT_STREAM_OUT or
  * STREAM_THROUGHPUT.json) with per-layer seconds, batch counts, rows/s.
  */
object StreamThroughput {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: StreamThroughput <workDir> <numFiles> <rowsPerFile>")
    val base = args(0)
    val numFiles = args(1).toInt
    val rowsPerFile = args(2).toInt
    val spark = GraftSession("graft-stream-throughput")
    val dirs = Medallion.Dirs(base)

    // Chronological arrival: real log streams come roughly in time order.
    // The default generator shape (every file spans the whole 69-day
    // window) makes any multi-batch watermarked drain discard later
    // batches wholesale as late data — measured 44% of rows dropped —
    // which would turn "throughput" into a measurement of the late-row
    // filter.
    val genT0 = System.nanoTime()
    // Config-sweep support: SPARK_GRAFT_STREAM_RAW names a raw dir from a
    // previous run to reuse (same numFiles/rowsPerFile), so an attempt
    // prices at the drain, not at minutes of CSV generation. The row count
    // is recomputed from the reused files' summary convention.
    val gen = sys.env.get("SPARK_GRAFT_STREAM_RAW") match {
      case Some(raw) =>
        require(Files.exists(Paths.get(raw)), s"reuse dir $raw missing")
        if (!Files.exists(Paths.get(dirs.raw))) {
          Files.createDirectories(Paths.get(dirs.raw).toAbsolutePath.getParent)
          Files.createSymbolicLink(
            Paths.get(dirs.raw).toAbsolutePath,
            Paths.get(raw).toAbsolutePath)
        }
        // Rows = line count minus one header per file (cheap: Spark scan).
        val n = spark.read.textFile(dirs.raw + "/*.csv").count() -
          new java.io.File(raw).listFiles().count(_.getName.endsWith(".csv"))
        ActivityGenerator.Summary(files = numFiles, totalRows = n.toInt,
          invalidRows = -1, distinctValidLogIds = -1)
      case None =>
        ActivityGenerator.generate(
          dirs.raw, numFiles = numFiles, rowsPerFile = rowsPerFile,
          chronological = true)
    }
    val genSec = (System.nanoTime() - genT0) / 1e9

    val t = Trigger.AvailableNow()
    def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = body
      (a, (System.nanoTime() - t0) / 1e9)
    }
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery, layer: String): Long = {
      require(q.awaitTermination(3600000L), s"$layer did not drain in 1 h")
      q.recentProgress.length.toLong
    }

    val ((bronzeBatches, quarBatches), bronzeSec) = timed {
      // Replay admission for bronze, matching the silver/gold treatment
      // below: the 14th point paid 99 admission triggers (155 s of fixed
      // cost) at 3,200 input files because the FILE cap governed. A
      // replay's admission should scale with VOLUME, so the file cap is
      // effectively lifted and the 10 GiB byte cap (the Auto-Loader
      // analog the DSv2 source implements) becomes the governing knob —
      // triggers ∝ bytes, not file count. Live deployments keep the
      // default dual caps.
      val (bv, bq) = Medallion.startBronze(spark, dirs, t,
        maxFilesPerTrigger = 1000000)
      (drain(bv, "bronze-valid"), drain(bq, "bronze-quarantine"))
    }
    // Silver must drain its whole backlog in ONE admission batch here: this
    // drain is a REPLAY — it advances ~800 minutes of event time per wall
    // second at the largest point — so the 2 h watermark advancing between
    // forced admission splits would drop genuinely-old history (measured
    // 22% at 3200 input files with the default 1000-file tail cap; the
    // SURVEY §8 "tail admission caps" caveat in the wild). A replay either
    // admits everything under one watermark epoch, or needs its watermark
    // sized to the replay's reorder window — the tool measures throughput,
    // not the late filter, so it takes the former.
    val (silverBatches, silverSec) = timed(drain(
      Medallion.startSilver(spark, dirs, t, maxFilesPerTrigger = 1000000), "silver"))
    // Gold gets the same replay admission as silver, for a different
    // reason: it has no watermark (nothing to mis-drop), so splitting the
    // backlog across the tail cap only multiplies the per-trigger fixed
    // cost — the 150M-row round-11 point paid 36 gold batches = 36
    // state-merge/overwrite cycles (197.6 s) for work one increment-merge
    // covers. The cap exists for pathological *live* backlogs; a measured
    // replay drain is exactly the case that admits everything at once.
    val (goldBatches, goldSec) = timed(drain(
      Medallion.startGoldIncremental(spark, dirs, t, maxFilesPerTrigger = 1000000), "gold"))
    graft.streaming.Drain.release(spark)

    val bronzeRows = spark.read.parquet(dirs.bronze).count()
    val bronzeIds = spark.read.parquet(dirs.bronze).select("log_id").distinct().count()
    val silverRows = spark.read.parquet(dirs.silver).count()
    // Accounting: bronze − distinct = duplicate suppression (dedup's job);
    // distinct − silver = rows lost to the watermark's late filter — with
    // chronological arrival this should be ~0, and a nonzero value here
    // means the drain dropped history, not duplicates.
    val lateDropped = bronzeIds - silverRows
    val totalSec = bronzeSec + silverSec + goldSec
    // Record the knobs that distinguish this point from its neighbors so
    // the artifact is a config-by-config ledger, not a bag of numbers.
    // Full JSON string escaping (backslash FIRST, then quote, then control
    // chars): a backslash or newline in SPARK_GRAFT_EXTRA_CONF must not
    // produce an unparseable artifact line.
    def jsonEscape(s: String): String = s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val confDesc = jsonEscape((
      Seq(s"shuffle=${spark.conf.get("spark.sql.shuffle.partitions")}") ++
        sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
    ).mkString("; "))
    val json =
      s"""{"conf":"$confDesc","rows_in":${gen.totalRows},"gen_sec":${f"$genSec%.1f"},""" +
        s""""bronze_sec":${f"$bronzeSec%.1f"},"bronze_batches":$bronzeBatches,"quarantine_batches":$quarBatches,""" +
        s""""silver_sec":${f"$silverSec%.1f"},"silver_batches":$silverBatches,""" +
        s""""gold_sec":${f"$goldSec%.1f"},"gold_batches":$goldBatches,""" +
        s""""bronze_rows":$bronzeRows,"bronze_distinct_ids":$bronzeIds,"silver_rows":$silverRows,"late_dropped":$lateDropped,""" +
        s""""total_sec":${f"$totalSec%.1f"},"rows_per_sec":${(gen.totalRows / totalSec).toLong}}"""
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_STREAM_OUT", "STREAM_THROUGHPUT.json")
    Files.writeString(Paths.get(out),
      (if (Files.exists(Paths.get(out))) Files.readString(Paths.get(out)) else "") + json + "\n")
    spark.stop()
  }
}
