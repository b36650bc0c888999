package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Every setting here is chosen to survive a 1000-executor cluster, not just
  * local[N]:
  *   - AQE on (runtime partition coalescing + skew-join splitting) so the
  *     static shuffle-partition count only needs to be an upper bound;
  *   - an explicit broadcast threshold so dimension tables (region, nation,
  *     customer at small SF) hash-join without a shuffle;
  *   - UTC session time zone so event-time semantics are deterministic and
  *     match the DuckDB oracle;
  *   - TIMESTAMP_MICROS parquet output (the portable representation).
  */
object GraftSession {
  def defaultCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(appName: String = "graft", cores: Int = defaultCores): SparkSession.Builder = {
    val b = SparkSession
      .builder()
      .appName(appName)
      // Native functions (graft.functions.GraftFunctions) and plan extensions.
      .withExtensions(new graft.functions.GraftExtensions)
    // A library factory must not override a real cluster master. Precedence:
    // a spark.master system property (spark-submit --master) always wins and
    // is left for Spark itself to pick up; otherwise an explicit
    // SPARK_MASTER env is applied; only then default to local[cores].
    if (!sys.props.contains("spark.master")) {
      sys.env.get("SPARK_MASTER") match {
        case Some(m) => b.master(m)
        case None => b.master(s"local[$cores]")
      }
    }
    // Durable catalog opt-in: SPARK_GRAFT_CATALOG=hive backs
    // Tables.registerAllPersistent with the Derby metastore (hive jars
    // ship in /opt/spark/jars), so registered tables survive the JVM. The
    // default stays in-memory — no metastore_db side effects for the
    // oracle/bench mains.
    if (sys.env.get("SPARK_GRAFT_CATALOG").contains("hive")) b.enableHiveSupport()
    b
      // Default: one shuffle partition per core (AQE coalesces down). At a
      // memory-tight scale point the per-task reduce footprint is inversely
      // proportional to this count, so spill-controlled re-measures raise
      // it independently of parallelism (the SPILL_PRESSURE.json recipe:
      // passage dedup OOMs at 1g×32 partitions, completes at ×256).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // Shuffle WIDTH must scale with the data: a width right at sf30
      // under-partitions at sf100 — reducer sorts stop fitting memory and
      // the stage goes superlinear on spill (round 13's jaccard/keep
      // tail at a fixed 256; round 9 found the same law for streaming
      // state partitions). Two knobs, both MEASURED in round 14
      // (TEXT_TAIL_PROBE/TEXT_FAMILY_BENCH conf ledger):
      //   - SPARK_GRAFT_SHUFFLE_PARTITIONS raises the static width — 512
      //     restores linear scaling on the sf100 text tail;
      //   - SPARK_GRAFT_INITIAL_PARTITIONS sets AQE's
      //     initialPartitionNum so AQE coalesces DOWN from a high width.
      //     Deliberately NOT a default: a blanket initial=2048 was
      //     measured 2.3x SLOWER on the sf30 text family (each map task
      //     writes 2048 tiny shuffle segments — the overhead exceeds the
      //     spill it prevents below the width threshold). On a real
      //     cluster with push-based/merged shuffle the economics differ;
      //     here the honest default is the per-deployment static width.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        sys.env.getOrElse("SPARK_GRAFT_INITIAL_PARTITIONS",
          sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cores.toString)))
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // events.parquet carries TIMESTAMP(NANOS) which Spark cannot read
      // natively; read as long and normalize in Tables.events.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state (dedup, windows) in RocksDB: state size is bounded
      // by disk, not executor heap — the only viable backend when 2 hours
      // of dedup keys no longer fit in memory at 100 TB/day.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // Changelog checkpointing: commit = append the batch's delta, not
      // upload the store's full snapshot (snapshots move to background
      // maintenance) — O(increment) commits are the only sane contract
      // when state is 10^8 keys. Measured on the 151M-row medallion
      // replay (STREAM_TUNE_36M.json / STREAM_THROUGHPUT.json, round 12):
      // never slower, and the 36M point's silver stage drops 159 → 123 s
      // combined with the row-tracking knob below.
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      // RocksDB keeps numRowsTotal by doing a GET before every PUT; at one
      // state row per input row that is a second point-lookup per record
      // for a metric's sake. Off, progress reports numRowsTotal = -1
      // (Metrics maps it to its explicit StateUntracked sentinel instead
      // of summing a negative gauge) and the silver dedup stage runs
      // measurably faster at every scale point tried.
      // Callers who want the gauge back: SPARK_GRAFT_EXTRA_CONF or
      // builder().config(...). Bounded-memory tuning
      // (boundedMemoryUsage/maxMemoryUsageMB/writeBufferSizeMB — worth a
      // further 17% on the 151M replay: 652 → 556 s with 48 GiB budget
      // and 256 MB write buffers) stays caller-set: a memory budget is a
      // deployment fact, not a library default.
      .config("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
        "false")
      .config("spark.ui.enabled", "false")
      // Reliable-checkpoint files (label propagation truncates lineage with
      // them) are reclaimed once their RDDs are GC'd — without this a
      // long-lived session leaks checkpoint storage per clustering run.
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // Default warehouse under tmp (bucketed-table support out of the box
      // without polluting the caller's working directory); explicit
      // -Dspark.sql.warehouse.dir still wins via sys props below.
      .config("spark.sql.warehouse.dir",
        sys.props.getOrElse("spark.sql.warehouse.dir",
          s"${System.getProperty("java.io.tmpdir")}/graft-warehouse"))
    // Measurement-sweep escape hatch: SPARK_GRAFT_EXTRA_CONF carries
    // semicolon-separated key=value pairs applied LAST (they win over the
    // defaults above). Known format limits: a VALUE cannot contain ';'
    // (it is unconditionally a pair separator — there is no escape), and
    // the first '=' splits key from value, so keys cannot contain '='
    // while values may. Keep values to plain conf tokens. Exists so tools like StreamThroughput can price one
    // config against another (RocksDB changelog checkpointing, bounded
    // state memory, ...) without a code change per experiment; production
    // callers configure through the builder as usual.
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach { raw =>
      raw.split(';').map(_.trim).filter(_.nonEmpty).foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not key=value")
        b.config(kv.take(i).trim, kv.drop(i + 1).trim)
      }
    }
    b
  }

  def apply(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
