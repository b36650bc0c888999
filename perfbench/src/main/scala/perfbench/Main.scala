package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.streaming.ActivityGenerator

/** The benchmark's JVM side. One client, one operation at a time, against
  * `local[cores]`: set up (from JVM start to the end of the warm-up passes),
  * bracket the measurement with CPU-spin probes, run passes over the
  * workload until `seconds` have passed, run the checked final pass, and
  * write the raw samples to `<work>/result.json` (and, traced, spans and
  * layer records to `<work>/trace.json`). `perfbench/run.py` turns those
  * into metrics and checks the written results.
  *
  * Traced runs alternate untraced and traced passes, so the difference of
  * their medians is the tracing overhead. */
object Main {
  /** Untimed passes before the measured ones. Pass times still fall over
    * the first few executions of each query, as the JIT compiles Spark's
    * and the library's hot paths; three keep most of that fall out of the
    * measured passes. */
  val WarmUpPasses = 3
  /** Rows each native function is projected over in the functions probe. */
  val ProbeRows = 10000L
  /** The streaming probe's feed (and the feed-determinism self-test's):
    * files × rows per file. */
  val ProbeFeedFiles = 5
  val ProbeFeedRowsPerFile = 1000

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Double,
      trace: Boolean,
      data: String,
      work: String,
      injectWrong: Option[String])

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    kv.get("feed-only") match {
      case Some(dir) =>
        // Feed generation alone, for the same-seed-same-bytes self-test.
        ActivityGenerator.generate(dir, numFiles = ProbeFeedFiles,
          rowsPerFile = ProbeFeedRowsPerFile, seed = need("seed").toLong,
          chronological = true)
      case None =>
        run(Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
          need("trace") == "1", need("data"), need("work"), kv.get("inject-wrong")))
    }
  }

  private val t0 = System.nanoTime()
  /** Progress to stderr (the run's log), with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.1f s  $msg")

  /** Per-layer figures of one drain: wall seconds, micro-batches, input
    * rows per second and summed progress durations per layer. Bronze is its
    * valid and quarantine queries together; its row rate counts each feed
    * row once. */
  def streamLayers(op: Op, sinkMb: Double): Map[String, Double] = {
    def of(layer: String) = op.batches.filter(b =>
      b.layer == layer || (layer == "bronze" && b.layer == "quarantine"))
    def dur(bs: Seq[MicroBatch], keys: String*) =
      bs.map(b => keys.map(k => b.durations.getOrElse(k, 0L)).sum).sum.toDouble
    Seq("bronze", "silver", "gold").flatMap { l =>
      val secs = op.parts.find(_.name == l).map(p => (p.end - p.start) / 1e3).getOrElse(0.0)
      val bs = of(l)
      val rows = op.batches.filter(_.layer == l).map(_.inputRows).sum
      Seq(
        s"stream.$l.s" -> secs,
        s"stream.$l.batches" -> bs.size.toDouble,
        s"stream.$l.rows_per_s" -> (if (secs > 0) rows / secs else 0.0),
        s"stream.$l.add_batch_ms" -> dur(bs, "addBatch"),
        s"stream.$l.commit_ms" -> dur(bs, "walCommit", "commitOffsets"),
        s"stream.$l.planning_ms" -> dur(bs, "queryPlanning"))
    }.toMap ++ Map(
      "stream.silver.state_mb" -> (of("silver").map(_.stateBytes).maxOption
        .getOrElse(0L) / Tracer.MB),
      "stream.sink_mb" -> sinkMb)
  }

  private def mean(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> ms.map(_.getOrElse(k, 0.0)).sum / ms.size).toMap

  def run(a: Args): Unit = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val workload = new Workloads.Batch(Workloads.batch.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'; " +
        s"known: ${Workloads.batch.keys.toSeq.sorted.mkString(", ")}")), a.data, a.seed,
      s"${a.work}/check", a.injectWrong)

    // Set-up, timed from JVM start: session start, table listing and the
    // warm-up passes.
    val spark = graft.Graft.session("perfbench")
    workload.setup(spark, WarmUpPasses)
    val setupS = (Clock.ms() - jvmStart) / 1e3
    log(f"set-up took $setupS%.2f s")

    val cores = spark.sparkContext.defaultParallelism
    val tracer = if (a.trace) Some(new Tracer(spark, cores)) else None
    tracer.foreach(_.installCodegenAppender())
    val probeBefore = Probes.spin(cores)
    val jiffiesBefore = Probes.cpuJiffies()
    // Live heap after a full collection, before the first pass and after
    // every pass (outside the timed operations).
    def liveHeapMb(): Double = { System.gc(); Probes.heapAfterGcMb() }
    var heapPeak = liveHeapMb()
    final case class Pass(index: Int, traced: Boolean, ops: Seq[Op], cpuS: Seq[Double])
    val passes = ArrayBuffer.empty[Pass]
    val records = ArrayBuffer.empty[(Int, Op, Map[String, Double])]
    val spans = ArrayBuffer.empty[Span]
    var spanId = 0
    val nextId = () => { spanId += 1; spanId }
    // Spans and layer records of operations run with the tracer attached.
    def collect(pass: Int, ops: Seq[Op]): Unit = tracer.foreach { t =>
      t.drain()
      ops.foreach { op =>
        val (rec, sp) = t.analyse(op, nextId)
        records += ((pass, op, rec))
        spans ++= sp
      }
      t.detach()
      t.clear()
    }
    val m0 = Clock.ms()
    // Traced runs end on an untraced pass, so every traced pass has an
    // untraced pass on each side to be compared with.
    def more = passes.isEmpty || Clock.ms() - m0 < a.seconds * 1e3 ||
      (a.trace && (passes.size < 3 || passes.size % 2 == 0))
    while (more) {
      val index = passes.size
      val traced = a.trace && index % 2 == 1
      if (traced) tracer.foreach(_.attach())
      val p0 = Clock.ms()
      val (ops, cpuS) = workload.order(index).map { name =>
        val cpu0 = Probes.processCpuSeconds()
        val op = workload.run(spark, name, index)
        val cpu = Probes.processCpuSeconds() - cpu0
        log(f"  ${op.name} ${op.seconds}%.3f s, cpu $cpu%.3f s" +
          op.error.fold("")(e => s" FAILED: $e"))
        (op, cpu)
      }.unzip
      val wall = (Clock.ms() - p0) / 1e3
      if (traced) collect(index, ops)
      passes += Pass(index, traced, ops, cpuS)
      log(f"pass $index${if (traced) " (traced)" else ""} took $wall%.2f s")
      heapPeak = math.max(heapPeak, liveHeapMb())
    }
    val stealShare = for ((t0, s0) <- jiffiesBefore; (t1, s1) <- Probes.cpuJiffies()
      if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0)
    val probeAfter = Probes.spin(cores)
    workload.finalPass(spark)
    log("final pass done")

    // Traced runs also drain a small feed through the medallion pipeline,
    // for the streaming layer; the drain is a traced operation (its record
    // has pass -1), and checked.
    val streamProbe = new Workloads.StreamProbe(s"${a.work}/stream-probe", a.seed,
      ProbeFeedFiles, ProbeFeedRowsPerFile, timeoutMs = 150000L)
    val streamOp = if (!a.trace) None else {
      streamProbe.setup(spark)
      tracer.foreach(_.attach())
      val op = streamProbe.run(spark, 0)
      collect(-1, Seq(op))
      log(s"stream probe done${op.error.fold("")(e => s" FAILED: $e")}")
      Some(op)
    }

    // Layer figures of the traced passes, then the layer probes.
    val layers: Map[String, Double] = if (!a.trace) Map.empty else {
      val perPass = records.filter(_._1 >= 0).groupBy(_._1).values.map { rs =>
        val sum = rs.map(_._3).flatMap(_.toSeq)
          .groupMapReduce(_._1)(_._2)(_ + _)
        sum + ("exec.util" -> sum("exec.task_ms") / (sum("wall_ms") * cores))
      }.toSeq
      val (fns, compileMs) =
        Probes.functionNsPerRow(spark, a.data, a.work, ProbeRows, reps = 5)
      log("functions probe done")
      (mean(perPass) - "wall_ms") ++ streamLayers(streamOp.get, streamProbe.sinkMb(0)) ++
        fns.map { case (f, ns) => s"functions.$f.ns_per_row" -> ns } ++
        Map("functions.codegen_compile_ms" -> compileMs,
          "sources.load_ms" -> Probes.sourcesLoadMs(spark, a.data, reps = 3))
    }

    val failed = workload.check() ++ streamOp.flatMap(op =>
      streamProbe.check(spark, op).map(op.group -> _))
    log("checks done")
    val opsJson = (p: Pass) => p.ops.zip(p.cpuS).map { case (o, cpu) =>
      Map("name" -> o.name, "group" -> o.group, "s" -> o.seconds, "cpu_s" -> cpu,
        "error" -> o.error)
    }
    Json.write(s"${a.work}/result.json", Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "host" -> Map(
        "cores" -> cores,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / Tracer.MB,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "steal_share" -> stealShare),
      "data" -> a.data,
      "queries" -> workload.queries,
      "setup_s" -> setupS,
      "passes" -> passes.map(p => Map("pass" -> p.index, "traced" -> p.traced,
        "ops" -> opsJson(p))),
      "probe_ops" -> streamOp.toSeq.map(o => Map("name" -> o.name, "group" -> o.group,
        "s" -> o.seconds, "error" -> o.error)),
      "heap_peak_mb" -> heapPeak,
      "probe_s" -> Seq(probeBefore, probeAfter),
      "check" -> Map("dirs" -> workload.checkDirs, "failed" -> failed),
      "layers" -> layers))
    if (a.trace) Json.write(s"${a.work}/trace.json", Map(
      "workload" -> a.workload,
      "seed" -> a.seed,
      "layers" -> layers,
      "records" -> records.map { case (pass, op, rec) =>
        Map("pass" -> pass, "name" -> op.name, "group" -> op.group,
          "error" -> op.error, "layers" -> rec)
      },
      "spans" -> spans.map(_.toMap)))
    spark.stop()
  }
}
