package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.functions.Hll
import graft.llm.{Dedup, WebCuration}
import graft.sources.Tables
import graft.streaming._
import org.apache.spark.scheduler.{SparkListener, SparkListenerExecutorRemoved, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Try

/** Executor-loss fault injection: the "recovery is bit-identical and
  * exactly-once" claims, exercised instead of asserted.
  *
  * Each scenario is one row of a table: a name, the work to run under the
  * killer, the reference it must equal and any invariants of its own. The
  * work is a registered query, or a stream drain fed in three fixed waves.
  * The reference is a clean run of the same work or the batch definition
  * the stream must reproduce. Under a real multi-process master (two
  * executor JVMs), the harness runs the reference, then the work with the
  * killer armed, and reports per scenario:
  *
  *   - `match`: the two sides' [[digest]]s are equal, part by part;
  *   - `landed`: the [[landed]] rule held over the work's window;
  *   - `verdict`: PASS, MISS (matched, but no kill landed), FAIL (a digest
  *     or an invariant differs) or ERROR (the scenario threw).
  *
  * Usage (`sbt package` first; README "Fault injection" has the memory
  * settings that fit a 4-core, 15 GB host):
  * {{{
  *   spark-submit --master 'local-cluster[2,2,3072]' \
  *     --class graft.tools.FaultInject <jar> <sfDir> <workDir> [scenario ...]
  * }}}
  * With no scenario it runs the six streams and [[defaultQueries]]; any
  * other name must be a registered query. Rows go to stdout and to
  * FAULTS.json (or SPARK_GRAFT_FAULT_OUT). The exit status is 1 unless
  * every row is PASS.
  *
  * Not a ScalaTest: local-cluster needs a packaged jar on the executor
  * classpath, which an sbt test JVM does not provide. Under `local[N]` no
  * executor process exists, so every row is a MISS.
  */
object FaultInject {

  /** A kill landed when it was fired while the work was in flight and the
    * scheduler saw at least one task failure or executor removal in the
    * work's window. Anything else is a MISS, never a vacuous pass. */
  def landed(firedInFlight: Boolean, taskFailures: Int, executorsRemoved: Int): Boolean =
    firedInFlight && (taskFailures > 0 || executorsRemoved > 0)

  final case class Digest(hash: BigDecimal, rows: Long)

  /** Order-independent digest of a frame, computed in Spark: the decimal
    * sum of one xxhash64 per row, plus the row count. A row hashes as the
    * JSON of its name-sorted columns, so a cell is tied to its column name;
    * nulls are written out, timestamps keep their microseconds, binary
    * cells are base64, and arrays and maps are JSON. A decimal sum, because
    * a 64-bit hash sum overflows Long under ANSI semantics. */
  def digest(df: DataFrame): Digest = {
    val json = to_json(struct(df.columns.sorted.map(c => col(s"`$c`")): _*), Map(
      "ignoreNullFields" -> "false",
      "timestampFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
      "timestampNTZFormat" -> "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    val r = df.select(xxhash64(json).cast("decimal(38,0)").as("h"))
      .agg(coalesce(sum("h"), lit(0)).cast("decimal(38,0)"), count(lit(1))).head()
    Digest(BigDecimal(r.getDecimal(0)), r.getLong(1))
  }

  private type Parts = Map[String, Digest]

  /** What a scenario's functions see: the session, the fixtures, its own
    * empty scratch dir, and [[underKill]] to mark the part the killer may
    * hit. */
  private final class Ctx(val spark: SparkSession, val sfDir: String, val dir: String, killer: Killer) {
    def underKill[T](body: => T): T = killer.armed(body)
    def docs: DataFrame = Tables.load(spark, sfDir, "documents")
  }

  private final case class Scenario(name: String, faulted: Ctx => Parts, reference: Ctx => Parts,
      invariants: Ctx => Seq[(String, Boolean)] = _ => Nil)

  /** Both sides run the same work, in `<dir>/clean` and `<dir>/faulted`. */
  private def twice(name: String)(work: (Ctx, String) => Parts,
      invariants: Ctx => Seq[(String, Boolean)] = _ => Nil): Scenario =
    Scenario(name, work(_, "faulted"), work(_, "clean"), invariants)

  /** A registered query, digested with the killer armed for the whole run. */
  private def query(name: String): Scenario = twice(name) { (c, _) =>
    c.underKill(Map(name -> digest(SparkEntry.queries(name)(c.spark, c.sfDir))))
  }

  /** Lands `df`'s `cols` in three waves (rows with `key` mod 3 = wave), each
    * as `files` files, and drains after each wave. With maxFilesPerTrigger=1
    * the batch contents are the same on both sides, so any divergence is a
    * recovery bug, not regrouping. */
  private def inWaves(df: DataFrame, key: String, cols: Seq[String], files: Int,
      landing: String)(drain: => Unit): Unit =
    (0 until 3).foreach { w =>
      df.filter(pmod(col(key), lit(3)) === w).select(cols.map(col): _*)
        .coalesce(files).write.mode("append").parquet(landing)
      drain
    }

  // Must bind at sf0.1 (about 25k tokens per source), or the quota half of
  // the claim is vacuous; the `every_source_capped` invariant checks it.
  private val QuotaCap = 10000L
  // Below the fixture's ~31-term vocabulary, so the sketch evicts (d > 0)
  // and the merge's subtract-v reduction runs under the kills.
  private val HhM = 16
  private val Gate = CurateStream.GateConfig(langs = Seq("en", "fr", "es"), minChars = 100, maxChars = 500)

  private def events(c: Ctx) = Tables.load(c.spark, c.sfDir, "events")
  private def lined(c: Ctx) = WebCuration.linedDocs(c.spark, c.sfDir)

  /** The newest `batch=<id>` summary dir of a heavy-hitter state dir. */
  private def hhSummary(d: String): String = {
    val b = new java.io.File(s"$d/state/summary").list()
      .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong).max
    s"$d/state/summary/batch=$b"
  }

  private val streams: Seq[Scenario] = Seq(
    // Medallion: the file-sink commit log (bronze, quarantine), RocksDB
    // dedup state (silver) and the idempotent foreachBatch overwrite (gold).
    // `processing_time` is a wall-clock audit column, different on every run.
    twice("medallion") { (c, tag) =>
      val d = Medallion.Dirs(s"${c.dir}/$tag")
      ActivityGenerator.generate(d.raw, numFiles = 24, rowsPerFile = 8000, seed = 7L)
      c.underKill(Medallion.runAvailableNow(c.spark, d, timeoutMs = 600000L))
      ListMap("bronze" -> d.bronze, "quarantine" -> d.quarantine, "silver" -> d.silver,
        "gold" -> d.gold).map { case (layer, p) =>
        layer -> digest(c.spark.read.parquet(p).drop("processing_time")) }
    },
    // Quota admission: prior spend reads only earlier batches' persisted sums.
    twice("quota")({ (c, tag) =>
      val d = s"${c.dir}/$tag"
      inWaves(c.docs, "doc_id", Seq("doc_id", "text", "source"), 1, s"$d/landing")(c.underKill(
        QuotaStream.start(c.spark, s"$d/landing", s"$d/state", s"$d/cp", QuotaCap,
          maxFilesPerTrigger = 1).awaitTermination()))
      Map("admitted" -> digest(QuotaStream.admitted(c.spark, s"$d/state")))
    }, c => {
      val spent = QuotaStream.admitted(c.spark, s"${c.dir}/faulted/state")
        .groupBy("source").agg(sum("n_tokens").as("t"), count(lit(1)).as("n"))
      val r = c.docs.groupBy("source").agg(count(lit(1)).as("arrived"))
        .join(spent, Seq("source"), "left")
        .agg(count(when(col("t") > QuotaCap, 1)),
          count(when(coalesce(col("n"), lit(0L)) >= col("arrived"), 1))).head()
      Seq("no_source_overspent" -> (r.getLong(0) == 0), "every_source_capped" -> (r.getLong(1) == 0))
    }),
    // Curation: the stream's keep set equals the from-scratch batch dedup.
    Scenario("curate", c => {
      val d = s"${c.dir}/faulted"
      inWaves(c.docs, "doc_id", Seq("doc_id", "text", "lang", "n_chars"), 4, s"$d/landing")(
        c.underKill(CurateStream.runAvailableNow(c.spark, s"$d/landing", s"$d/state", s"$d/cp",
          Gate, maxFilesPerTrigger = 1)))
      Map("survivors" -> digest(CurateStream.survivors(c.spark, s"$d/state")))
    }, c => {
      val gated = c.docs
        .filter(col("lang").isin(Gate.langs: _*) && col("n_chars").between(Gate.minChars, Gate.maxChars))
        .select(col("doc_id"), lower(col("text")).as("text"))
      Map("survivors" -> digest(Dedup.keepSet(gated, Dedup.minhashPairs(gated))))
    }),
    // Boilerplate: the emitted ban list equals the batch definition, each
    // line once (the digest counts rows, so a duplicate emission differs).
    Scenario("boiler", c => {
      val d = s"${c.dir}/faulted"
      inWaves(lined(c), "doc_id", Seq("doc_id", "aug"), 4, s"$d/landing")(c.underKill(
        BoilerplateStream.runAvailableNow(c.spark, s"$d/landing", s"$d/out", s"$d/cp",
          minDocs = 3, maxFilesPerTrigger = 1)))
      Map("banned" -> digest(BoilerplateStream.bannedSet(c.spark, s"$d/out").select("line")))
    }, c => Map("banned" -> digest(
      WebCuration.bannedLines(WebCuration.explodedLines(lined(c).select("doc_id", "aug")), minDocs = 3)))),
    // HLL: the sink's register table equals the batch sketch, every rise once.
    Scenario("hll", c => {
      val d = s"${c.dir}/faulted"
      inWaves(events(c), "event_id", Seq("event_type", "user_id"), 4, s"$d/landing")(c.underKill(
        DistinctStream.runAvailableNow(c.spark, s"$d/landing", s"$d/out", s"$d/cp", maxFilesPerTrigger = 1)))
      Map("registers" -> digest(DistinctStream.registerTable(c.spark, s"$d/out")))
    }, c => Map("registers" -> digest(events(c)
      .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
      .select(col("event_type"), expr(Hll.regExpr).as("reg"), expr(Hll.rhoExpr).cast("int").as("rho"))
      .groupBy("event_type", "reg").agg(max("rho").as("mrho")))),
      c => {
        val raw = c.spark.read.parquet(s"${c.dir}/faulted/out")
        Seq("no_duplicate_rises" -> (raw.count() == raw.distinct().count()))
      }),
    // Heavy hitters: each partition summary is a pure function of its file
    // split and the merge overwrites its own `batch=<id>` dir, so a replayed
    // attempt re-derives the same state. The MG bounds hold against exact
    // token recounts.
    twice("hh")({ (c, tag) =>
      val d = s"${c.dir}/$tag"
      inWaves(c.docs, "doc_id", Seq("doc_id", "text"), 4, s"$d/landing")(c.underKill(
        HeavyHitterStream.runAvailableNow(c.spark, s"$d/landing", s"$d/state", s"$d/cp", HhM,
          maxFilesPerTrigger = 1)))
      val s = hhSummary(d)
      Map("counters" -> digest(c.spark.read.parquet(s"$s/counters")),
        "meta" -> digest(c.spark.read.parquet(s"$s/meta")))
    }, c => {
      import c.spark.implicits._
      val s = hhSummary(s"${c.dir}/faulted")
      val counters = c.spark.read.parquet(s"$s/counters").as[(String, Long)].collect().toMap
      val (d, n) = c.spark.read.parquet(s"$s/meta").select("d", "n").as[(Long, Long)].head()
      val exact = c.docs.select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .filter(length(col("tok")) > 0).groupBy("tok").count().as[(String, Long)].collect().toMap
      Seq("mg_bounds" -> counters.forall { case (t, k) =>
          val e = exact.getOrElse(t, 0L); k <= e && e <= k + d },
        "mg_guarantee" -> (n == exact.values.sum && d <= n / (HhM + 1) &&
          exact.filter(_._2 > d).keys.forall(counters.contains)))
    }))

  /** Queries with recorded fault runs: a reliable-checkpoint loop
    * (components, BPE), persisted indexes (IVF, IVF-PQ), window and
    * shuffle-heavy finance, joins and dedup. */
  val defaultQueries: Seq[String] = Seq(
    "rel_q7_nations_volume", "llm_dedup_minhash", "rel_graph_components", "llm_bpe_train",
    "llm_knn_ivfpq", "llm_knn_ivf", "llm_dedup_semantic", "llm_mm_video_meta",
    "ts_drawdown", "ts_ohlc", "ts_var_cvar", "llm_select_budget")

  private def table(names: Seq[String]): Seq[Scenario] =
    if (names.isEmpty) streams ++ defaultQueries.map(query)
    else names.map(n => streams.find(_.name == n).getOrElse {
      require(SparkEntry.queries.contains(n), s"unknown scenario: $n")
      query(n)
    })

  /** One killer and one listener per run. The killer sends `kill -9` to one
    * of this app's executors (standalone workers launch them with
    * `--app-id <applicationId>`, so no other job's executor matches) while a
    * window has kills left, the work is armed and a stage is active, at
    * most once per 5 s. */
  private final class Killer(spark: SparkSession) {
    private val appId = spark.sparkContext.applicationId
    private var budget = 0 // kills the open window still allows
    private var fired = 0
    private var isArmed = false
    private var nextAt = 0L
    @volatile private var stopped = false
    // Scheduler stamps (epoch ms): listener events arrive late, so a window
    // counts the events stamped inside it, read once they have arrived.
    private val failures, removals = new ConcurrentLinkedQueue[Long]
    private val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.reason != org.apache.spark.Success) failures.add(t.taskInfo.finishTime)
      override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit = removals.add(e.time)
    }
    spark.sparkContext.addSparkListener(listener)

    def executors(): Seq[Int] =
      Try(Seq("pgrep", "-f", s"CoarseGrainedExecutorBackend.*$appId").!!.trim
        .split("\\s+").filter(_.nonEmpty).map(_.toInt).toSeq).getOrElse(Nil)

    private val thread = new Thread(() => while (!stopped) {
      Thread.sleep(50)
      if (synchronized(isArmed && budget > 0 && System.nanoTime() > nextAt) &&
          spark.sparkContext.statusTracker.getActiveStageIds.nonEmpty) {
        val victim = executors().headOption
        // Re-checked under the lock that closes the window, so a counted
        // kill was sent while the work was still in flight.
        synchronized {
          if (isArmed && budget > 0) victim.foreach { pid =>
            Seq("kill", "-9", pid.toString).!
            fired += 1; budget -= 1
          }
          nextAt = System.nanoTime() + (if (victim.isDefined) 5000L else 500L) * 1000000L
        }
      }
    })
    thread.setDaemon(true)
    thread.start()

    def armed[T](body: => T): T = {
      synchronized { isArmed = true }
      try body finally synchronized { isArmed = false }
    }

    /** Runs `work` with up to two kills allowed; returns its result and the
      * number of kills sent while it was armed. The window closes when
      * `work` returns. */
    def window[T](work: => T): (T, Int) = {
      synchronized { budget = 2; fired = 0; nextAt = 0L }
      val r = try work finally synchronized { budget = 0 }
      (r, synchronized(fired))
    }

    /** Task failures and executor removals stamped within [from, to]. */
    def seen(from: Long, to: Long): (Int, Int) = {
      def in(q: ConcurrentLinkedQueue[Long]) = q.asScala.count(t => t >= from && t <= to)
      (in(failures), in(removals))
    }

    /** Waits (up to 30 s) until the standalone workers have relaunched
      * killed executors, so the next scenario starts at full capacity and
      * the removal events have arrived. */
    def awaitExecutors(n: Int): Unit = {
      val deadline = System.nanoTime() + 30000000000L
      while (executors().size < n && System.nanoTime() < deadline) Thread.sleep(200)
    }

    def close(): Unit = { stopped = true; spark.sparkContext.removeSparkListener(listener) }
  }

  final case class Result(scenario: String, verdict: String, json: String)

  private def secs(t0: Long): Double = math.round((System.nanoTime() - t0) / 1e7) / 100.0

  private def runOne(spark: SparkSession, sfDir: String, workDir: String, k: Killer,
      s: Scenario): Result = {
    val dir = new org.apache.hadoop.fs.Path(s"$workDir/${s.name}")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(dir, true)
    val c = new Ctx(spark, sfDir, dir.toString, k)
    var (fired, from, to) = (0, Long.MaxValue, 0L)
    val t0 = System.nanoTime()
    val outcome = Try {
      val reference = s.reference(c)
      val refSec = secs(t0)
      val before = k.executors().size
      val t1 = System.nanoTime()
      from = System.currentTimeMillis()
      val (faulted, n) = try k.window(s.faulted(c)) finally to = System.currentTimeMillis()
      fired = n
      val faultSec = secs(t1)
      k.awaitExecutors(before)
      (reference, faulted, s.invariants(c), refSec, faultSec)
    }
    val (failures, removed) = k.seen(from, to)
    val hit = landed(fired > 0, failures, removed)
    val fields = ListMap[String, Any]("scenario" -> s.name) ++ (outcome.fold(e => {
      spark.streams.active.foreach(q => Try(q.stop()))
      ListMap("verdict" -> "ERROR", "match" -> false, "landed" -> hit, "error" -> e.toString)
    }, { case (reference, faulted, inv, refSec, faultSec) =>
      val matched = reference == faulted
      val verdict = if (!matched || inv.exists(!_._2)) "FAIL" else if (!hit) "MISS" else "PASS"
      ListMap("verdict" -> verdict, "match" -> matched, "landed" -> hit,
        "rows" -> reference.map { case (p, d) => p -> d.rows },
        "faulted_rows" -> faulted.map { case (p, d) => p -> d.rows },
        "invariants" -> ListMap(inv: _*), "reference_sec" -> refSec, "faulted_sec" -> faultSec)
    })) ++ ListMap("kills_in_flight" -> fired, "task_failures" -> failures, "executors_removed" -> removed)
    val json = render(fields)
    println(json)
    Result(s.name, fields("verdict").toString, json)
  }

  private def render(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => render(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: String => s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    }.mkString("\"", "", "\"")
    case x => x.toString
  }

  /** Runs the named scenarios (the default table when none are named) in
    * `spark`, each in its own empty dir under `workDir`. Returns the rows
    * and the exit status: 0 only when every row is PASS. */
  def run(spark: SparkSession, sfDir: String, workDir: String,
      names: Seq[String]): (Seq[Result], Int) = {
    val scenarios = table(names)
    val k = new Killer(spark)
    val results = try scenarios.map(runOne(spark, sfDir, workDir, k, _)) finally k.close()
    (results, if (results.forall(_.verdict == "PASS")) 0 else 1)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: FaultInject <sfDir> <workDir> [scenario ...]")
    val spark = GraftSession("graft-fault") // the master comes from spark-submit
    val (results, status) = run(spark, args(0), args(1), args.drop(2).toSeq)
    val out = sys.env.getOrElse("SPARK_GRAFT_FAULT_OUT", "FAULTS.json")
    Files.writeString(Paths.get(out), results.map(_.json).mkString("[", ",\n", "]\n"))
    spark.stop()
    sys.exit(status)
  }
}
