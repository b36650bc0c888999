package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

/** Host and layer probes that do not belong to any one workload. */
object Probes {
  @volatile private var spinSink = 0L

  /** Seconds for a fixed integer spin on every core: the same work on every
    * run, so a change between a run's first and last probe measures the
    * host (another tenant, throttling), not the program. */
  def spin(cores: Int, iters: Long = 200000000L): Double = {
    System.gc()
    val t0 = System.nanoTime()
    val threads = (0 until math.max(1, cores)).map { t =>
      new Thread(() => {
        var x = t.toLong
        var i = 0L
        while (i < iters) { x ^= x * 2654435761L + (i >>> 13); i += 1 }
        spinSink ^= x
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The host's cumulative CPU time and the part of it stolen by other
    * guests (jiffies, the `cpu` line of /proc/stat), where readable. */
  def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (f.sum, f.lift(7).getOrElse(0L))
  }.toOption

  /** CPU time of every thread of this JVM (driver, executor tasks, GC,
    * JIT), seconds. Time the host steals from the process is not in it. */
  def processCpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Driver heap still in use after the last collection, MB. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / Tracer.MB

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median milliseconds of one `graft.sources.Tables.load` call, over
    * every table of the data directory. */
  def sourcesLoadMs(spark: SparkSession, dir: String, reps: Int): Double =
    median((0 until reps).flatMap(_ => graft.sources.Tables.all.map { t =>
      val t0 = System.nanoTime()
      graft.Graft.table(spark, dir, t).schema
      (System.nanoTime() - t0) / 1e6
    }))

  /** Nanoseconds per row of each native function in `graft.functions`
    * that the LLM queries call. Each is projected over the stored corpus
    * (documents for the text kernels, embeddings for the vector kernels,
    * replicated to `rows`) with the projection Spark's executors use
    * (`UnsafeProjection`: generated code, or the interpreted fallback when
    * compilation fails), in a loop on the driver so job and scan costs stay
    * out; minus the same projection of its input columns alone. Medians of
    * `reps` alternating timings after one warm-up each. Also returns the
    * milliseconds spent creating (generating and compiling) the projections
    * with the functions. */
  def functionNsPerRow(spark: SparkSession, dir: String, work: String,
      rows: Long, reps: Int): (Map[String, Double], Double) = {
    val rnd = new scala.util.Random(7L)
    val cb = typedLit((0 until 16).map(c => (c, Seq.fill(64)(rnd.nextGaussian() * 0.4))))
    val dtab = typedLit(Seq.fill(128)(rnd.nextDouble()))
    val cs = typedLit((0 until 4).map { c =>
      val v = Seq.fill(64)(rnd.nextDouble())
      (s"c$c", v, v.map(x => x * x).sum)
    })
    val stops = typedLit(Seq("the", "a", "and", "of", "to", "in", "is", "data"))
    def replicated(table: String): DataFrame = {
      val t = graft.Graft.table(spark, dir, table)
      val n = t.count()
      t.crossJoin(spark.range(math.max(1L, (rows + n - 1) / n)).toDF("rep")).limit(rows.toInt)
    }
    replicated("documents")
      .withColumn("toks", split(lower(col("text")), " "))
      .select(col("text"), col("toks"),
        expr("minhash_sig(toks)").as("sig"),
        expr("transform(toks, t -> xxhash64(t))").as("hs"),
        expr("transform(toks, t -> xxhash64(t) % 64)").as("hsb"),
        expr("transform(toks, t -> md5_long(t) & 63)").as("toksh"))
      .write.mode("overwrite").parquet(s"$work/probe/docs")
    replicated("embeddings")
      .select(expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("ve"))
      .withColumn("ve2", reverse(col("ve")))
      .withColumn("code", call_function("pq_encode", col("ve"), cb))
      .write.mode("overwrite").parquet(s"$work/probe/vecs")
    val docs = spark.read.parquet(s"$work/probe/docs")
    val vecs = spark.read.parquet(s"$work/probe/vecs")
    val specs: Seq[(String, DataFrame, Seq[String], Seq[Column])] = Seq(
      ("minhash_sig", docs, Seq("toks"), Seq(col("toks"))),
      ("band_hashes", docs, Seq("sig"), Seq(col("sig"), lit(4), lit(32))),
      ("intersect_count", docs, Seq("hs", "hsb"), Seq(col("hs"), col("hsb"))),
      ("vec_cosine", vecs, Seq("ve", "ve2"), Seq(col("ve"), col("ve2"))),
      ("pq_encode", vecs, Seq("ve"), Seq(col("ve"), cb)),
      ("pq_adc", vecs, Seq("code"), Seq(dtab, col("code"))),
      ("rocchio_best", docs, Seq("toksh"), Seq(col("toksh"), cs)),
      ("gopher_stats", docs, Seq("toks"), Seq(col("toks"), stops)),
      ("simhash_md5", docs, Seq("toks"), Seq(col("toks"))),
      ("md5_long", docs, Seq("text"), Seq(col("text"))),
      ("cdc_chunks", docs, Seq("text"), Seq(col("text"))))
    var compileNs = 0L
    val nsPerRow = specs.map { case (fn, src, inputs, args) =>
      val in = src.select(inputs.map(col): _*)
      val data = in.queryExecution.toRdd.map(_.copy()).collect()
      def projection(cols: Seq[Column]): UnsafeProjection = {
        val exprs = in.select(cols: _*).queryExecution.analyzed.asInstanceOf[Project].projectList
        val p = UnsafeProjection.create(
          exprs.map(e => BindReferences.bindReference(e: Expression, in.queryExecution.analyzed.output)))
        p.initialize(0)
        p
      }
      val base = projection(inputs.map(col))
      val c0 = System.nanoTime()
      val withFn = projection(inputs.map(col) :+ call_function(fn, args: _*))
      compileNs += System.nanoTime() - c0
      def timed(p: UnsafeProjection): Double = {
        val t0 = System.nanoTime()
        var i = 0
        while (i < data.length) { p(data(i)); i += 1 }
        (System.nanoTime() - t0).toDouble
      }
      timed(base); timed(withFn)
      val pairs = (0 until reps).map(_ => (timed(base), timed(withFn)))
      fn -> (median(pairs.map(_._2)) - median(pairs.map(_._1))) / data.length
    }.toMap
    (nsPerRow, compileNs / 1e6)
  }
}
