package graft

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: runs EVERY registered query (headline-only with
  * SPARK_GRAFT_BENCH_HEADLINE=1) against SPARK_GRAFT_SF_DIR and emits one
  * JSON line with per-query wall-clock seconds — so per-query regressions
  * are visible across the whole surface, not just the headline set. The
  * top-level "value" remains the HEADLINE total (the figure BASELINE.md
  * tracks across rounds); "total_all" is the all-query total.
  *
  * Outlier discipline: a single-JVM 133-query run shares JIT, GC, and page
  * cache across queries, and one GC pause can land a 5× outlier on an
  * unchanged query (round 4's rel_agg_grouping_sets: 5.04 s in-suite,
  * 1.08 s solo). Full runs therefore execute TWO timed passes in different
  * orders (sorted, then seeded-shuffled) and report the per-query MIN —
  * the minimum over orderings is the statistic least contaminated by
  * neighbors. Both raw passes and any query whose two times differ by
  * >30% ("unstable") are emitted so a real regression (slow in BOTH
  * orders) is distinguishable from scheduling noise (slow in one).
  *
  * Leak detection: after every query the harness asserts the session is
  * clean — no cached plans left behind, no streaming query still running.
  * A query that leaks either would tax every neighbor that follows (the
  * round-3 rel_agg_stats episode was exactly a leaked cache); leakers are
  * reported by name under "leaks" and the residue is cleared so one
  * offender cannot poison the rest of the measurement.
  *
  * Failures are never reported as timings: a failed query records -1 and is
  * listed under "errors", and the process exits nonzero. The JSON line is
  * printed to stdout AND (because stdout is interleaved with sbt/log4j
  * noise) written to the file named by SPARK_GRAFT_BENCH_OUT when set.
  *
  * Each run is one [[Graft.record]]: its `wall_ms` is the timing, and
  * the whole record (build, Catalyst phases, jobs, stages, tasks, bytes,
  * spill, rows out) lands in the on-disk JSON under "records", one per
  * pass. The untimed warm-up runs are recorded too, under "warmup", so a
  * cold build (text or image features, BPE) stays visible: a full run
  * warms the first query, a targeted run (`Bench <query...>`, how one
  * query's layers are attributed) warms every named query.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark: SparkSession =
      GraftSession.builder("graft-bench", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names =
      if (args.nonEmpty) args.toSeq // targeted profiling
      else if (sys.env.get("SPARK_GRAFT_BENCH_HEADLINE").contains("1"))
        SparkEntry.benchQueries
      else SparkEntry.queries.keys.toSeq.sorted
    // Execute the FULL plan: count() would let Catalyst prune the very
    // aggregates/projections being measured (and collapse pure projections
    // to a parquet metadata count). Graft.record runs it to the noop sink.
    def run(name: String): api.QueryRecord = Graft.record(spark, sfDir, name)

    // Post-query hygiene: report (and clear) anything the query left
    // behind that would interfere with subsequent measurements.
    val leaks = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def checkClean(name: String): Unit = {
      if (!spark.sharedState.cacheManager.isEmpty) {
        leaks.getOrElseUpdate(name, "cached plan not released")
        spark.sharedState.cacheManager.clearCache()
      }
      // Any session's stream: a drain runs on a fork of this one.
      val running = streaming.Drain.active(spark)
      if (running.nonEmpty) {
        leaks.getOrElseUpdate(name, "streaming query left running")
        running.foreach(q => scala.util.Try(q.stop()))
      }
      // Streaming residue: a finished streaming query (e.g. the AvailableNow
      // medallion run) leaves its RocksDB state-store providers cached in
      // the executor plus a maintenance thread pool — measured ~20-35% tax
      // on the batch queries that follow. Unload them; the next streaming
      // query reloads lazily. No-op when nothing is cached.
      streaming.Drain.release(spark)
    }

    val twoPass = args.isEmpty
    // Untimed warm-up against the measured dataset so JIT/codegen and file
    // listing don't land in the first query's measurement. A targeted run
    // warms every named query: each one's own cold build (text or image
    // features, BPE) would otherwise land in its timed run.
    val warmup = (if (twoPass) names.take(1) else names).map { n =>
      val r = run(n)
      checkClean(n)
      r.error.foreach(e => System.err.println(s"[bench] warm-up $n failed: $e"))
      r
    }
    // Contention probe: the same fixed CPU-bound job timed at run start,
    // between the two passes, and at run end. The work is constant, so any
    // drift measures the HOST (another tenant, thermal throttling), not the
    // engine — a run whose probes spread ≥1.5× is flagged "contended" so a
    // hosed pass is machine-detectable instead of inferred from uniform
    // query slowdowns (round 6 recorded one such ~2× run).
    // Deliberately NOT a Spark job: a Spark-side probe reads the engine's
    // own end-of-run state (GC debt, listener backlog, JIT re-tiering) as
    // "contention". A fixed multi-threaded integer spin measures only what
    // the HOST gives us: with all cores spinning, an oversubscribed host
    // (the thing the flag exists to catch) stretches wall time directly.
    @volatile var probeSink = 0L
    def probe(): Double = {
      System.gc() // keep collector pauses out of the spin
      val threads = math.max(1, cpus)
      val iters = 300000000L
      val t0 = System.nanoTime()
      val pool = (0 until threads).map { t =>
        new Thread(() => {
          var x = t.toLong; var i = 0L
          while (i < iters) { x ^= x * 2654435761L + (i >>> 13); i += 1 }
          probeSink ^= x
        })
      }
      pool.foreach(_.start()); pool.foreach(_.join())
      (System.nanoTime() - t0) / 1e9
    }

    def timedPass(order: Seq[String]): Map[String, api.QueryRecord] =
      order.map { name =>
        // Targeted profiling measures each query against a settled heap:
        // a heavy neighbor's collection debt otherwise lands in the next
        // query's wall clock (measured 3.8 → 25 s on llm_knn_ivf after
        // llm_dedup_minhash at sf10). Full two-pass runs keep the
        // historical in-suite measurement — min-of-two-orderings already
        // absorbs neighborhood effects there.
        if (!twoPass) System.gc()
        val r = run(name)
        checkClean(name)
        name -> r
      }.toMap
    def seconds(r: api.QueryRecord): Double =
      if (r.error.isDefined) -1.0 else r("wall_ms") / 1e3

    // Pass 1 in the given (sorted) order; pass 2, full runs only, in a
    // seeded-shuffled order so each query sees different neighbors. Probes
    // bracket the passes (full runs only — targeted profiling stays lean).
    // Each probe point is the MIN of three consecutive runs: transient JVM
    // residue (JIT re-tiering, a concurrent GC cycle, listener backlog from
    // the preceding pass) recovers within a run or two, while genuine
    // external host load slows all three. The first point additionally
    // warms until two consecutive runs agree within 20% so the probe's own
    // codegen/JIT never lands in the measurement.
    def probeMin3(): Double = Seq(probe(), probe(), probe()).min
    val probeStart = if (twoPass) {
      var prev = probe()
      var cur = probe()
      var tries = 0
      while (tries < 4 && math.max(prev, cur) > 1.2 * math.min(prev, cur)) {
        prev = cur; cur = probe(); tries += 1
      }
      probeMin3()
    } else -1.0
    val pass1 = timedPass(names)
    val probeMid = if (twoPass) probeMin3() else -1.0
    val pass2: Map[String, api.QueryRecord] =
      if (!twoPass) Map.empty
      else {
        val seed = sys.env.getOrElse("SPARK_GRAFT_BENCH_SEED", "42").toLong
        timedPass(new scala.util.Random(seed).shuffle(names))
      }
    val probeEnd = if (twoPass) probeMin3() else -1.0
    val probes = Seq(probeStart, probeMid, probeEnd)
    // Asymmetric test: residual JIT tiering makes later probes FASTER than
    // the start (measured 0.126→0.084 over a clean run), so only a later
    // probe ≥1.5× the start indicates the host degraded mid-run. All three
    // values are emitted so start-contended runs remain human-visible.
    val contended = twoPass && math.max(probeMid, probeEnd) >= 1.5 * probeStart

    def runsOf(name: String): Seq[api.QueryRecord] = pass1.get(name).toSeq ++ pass2.get(name)
    // A query must succeed in BOTH passes to count as ok.
    val results: Seq[(String, Double, Option[String])] = names.map { name =>
      val runs = runsOf(name)
      val err = runs.flatMap(_.error).headOption
      (name, if (err.isDefined) -1.0 else runs.map(seconds).min, err)
    }
    val unstable = if (!twoPass) Seq.empty[(String, Double, Double)]
      else names.flatMap { name =>
        val t1 = seconds(pass1(name))
        val t2 = seconds(pass2(name))
        if (t1 > 0 && t2 > 0 && math.max(t1, t2) > 1.3 * math.min(t1, t2))
          Some((name, t1, t2))
        else None
      }

    def esc(s: String): String =
      s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      }
    def obj(entries: Iterable[(String, String)]): String =
      entries.map { case (k, v) => "\"" + esc(k) + "\":" + v }
        .mkString("{", ",", "}")
    val ok = results.filter(_._3.isEmpty)
    val qs = obj(results.map { case (k, v, _) => k -> v.toString })
    val errs = obj(results.collect { case (k, _, Some(m)) =>
      k -> ("\"" + esc(m) + "\"") })
    val headline = SparkEntry.benchQueries.toSet
    // "value" stays the headline-query total so the figure is comparable
    // to BASELINE.md and earlier rounds regardless of how many queries ran.
    val total = ok.filter(r => headline(r._1)).map(_._2).sum
    val totalAll = ok.map(_._2).sum
    val extra =
      if (!twoPass) ""
      else {
        val p1 = obj(names.map(n => n -> seconds(pass1(n)).toString))
        val p2 = obj(names.map(n => n -> seconds(pass2(n)).toString))
        val un = obj(unstable.map { case (n, t1, t2) =>
          n -> s"[$t1,$t2]" })
        val lk = obj(leaks.map { case (k, v) => k -> ("\"" + esc(v) + "\"") })
        val pr = probes.map(p => f"$p%.3f").mkString("[", ",", "]")
        s""","passes":2,"pass1":$p1,"pass2":$p2,"unstable":$un,"leaks":$lk,"probe":$pr,"contended":$contended"""
      }
    val records = obj(names.map(n => n -> runsOf(n).map(_.toJson).mkString("[", ",", "]")))
    val warm = obj(warmup.map(r => r.name -> r.toJson))
    // Two renditions of the same result. stdout gets the COMPACT line —
    // headline figure, HEADLINE per-query minima, errors, contention flag.
    // The round driver keeps only a bounded tail (~2 KB) of captured
    // output: BENCH_r13's tail shows the all-query map (10+ KB) truncated
    // at its FRONT, which is what left "parsed": null three rounds
    // running. The compact line therefore carries only the ~11 headline
    // queries (≈0.7 KB — whole line fits the tail buffer); the full
    // per-query map, passes and records live in the on-disk
    // copy the "full" field points at.
    val pr = probes.map(p => f"$p%.3f").mkString("[", ",", "]")
    // Spill (MiB) per query, max over passes: a scale point whose wall
    // clock moves with partition count but whose plan is unchanged is
    // memory-bound, not plan-bound.
    val sp = obj(names.flatMap { n =>
      val mb = runsOf(n).map(_("exec.spill_mb")).max
      if (mb >= 1.0) Some(n -> f"$mb%.1f") else None
    })
    val qsHead = obj(results.collect {
      case (k, v, _) if headline(k) => k -> f"$v%.3f" })
    val compact =
      s"""{"metric":"total","value":$total,"unit":"sec","total_all":$totalAll,"n_queries":${results.size},"n_ok":${ok.size},"queries":$qsHead,"errors":$errs,"contended":$contended,"probe":$pr,"spill_mb":$sp,"full":"BENCH_LAST.json","sf":"${esc(sfDir)}"}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","total_all":$totalAll,"queries":$qs,"errors":$errs$extra,"spill_mb":$sp,"warmup":$warm,"records":$records,"sf":"${esc(sfDir)}"}"""
    // Always leave a machine-readable copy on disk: sbt prefixes forked
    // stdout with "[info] ", which broke JSON-line scraping in the past.
    // EXCEPT for targeted profiling runs (explicit query args) without an
    // explicit out path — those would clobber BENCH_LAST.json's tracked
    // headline figure with a partial (usually 0) subtotal.
    // BENCH_LAST_c<cpus>.json rides along (round-14 verdict item 6): the
    // driver's low-core scaling pass otherwise overwrites the full-width
    // run's only complete per-query map.
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .orElse(if (args.isEmpty) Some("BENCH_LAST.json") else None)
    val outs = out.toSeq ++ (if (args.isEmpty) Seq(s"BENCH_LAST_c$cpus.json") else Seq.empty)
    outs.distinct.foreach { o =>
      try Files.writeString(Paths.get(o), json + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write $o: ${e.getMessage}")
      }
    }
    // Print AFTER spark.stop(): shutdown logging otherwise lands between
    // the JSON and sbt's [success] banner, pushing the line out of the
    // driver's bounded tail.
    spark.stop()
    println(compact)
    if (ok.size != results.size) sys.exit(1)
  }
}
