package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The library's front door.
  *
  * Everything the engine offers is reachable from here in three moves:
  *
  *   1. `Graft.session()` — a SparkSession with the engine's
  *      scale-oriented defaults (AQE, UTC, broadcast threshold, RocksDB
  *      streaming state) and the native Catalyst functions
  *      (`minhash_sig`, `md5_long`, `poly_fingerprint`, `vec_cosine`,
  *      `token_windows`, …) registered for both the DataFrame and SQL
  *      surfaces. `Graft.install(spark)` adds the functions to a session
  *      built elsewhere.
  *   2. `Graft.registerTables(spark, dir)` — the data directory's tables
  *      as temp views, opening the SQL door: `spark.sql("SELECT …")`.
  *   3. `Graft.query(spark, dir, name)` — any of the ~300 named,
  *      oracle-checked queries by name (`Graft.queryNames` lists them);
  *      `Graft.record(spark, dir, name)` runs one and returns its
  *      per-query record.
  *
  * Specialist surfaces live in their modules and take plain DataFrames:
  * `graft.llm.Dedup` (minhash/simhash/containment/passage near-dup,
  * clustering, keep-sets), `graft.llm.Knn` (exact/LSH/IVF vector search),
  * `graft.llm.TextAnalysis`, `graft.plans.AsofJoin` (native as-of join),
  * `graft.streaming.Medallion` (the streaming bronze/silver/gold
  * pipeline). See the README quick-start.
  */
object Graft {
  /** Session with the engine's defaults and native functions installed. */
  def session(appName: String = "graft"): SparkSession = GraftSession(appName)

  /** Load one table (`region … lineitem events documents embeddings`)
    * from a data directory as a plain DataFrame (pushdown-transparent). */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    sources.Tables.load(spark, dir, name)

  /** Register every table in `dir` as a temp view — the SQL door. */
  def registerTables(spark: SparkSession, dir: String): Unit =
    sources.Tables.registerAll(spark, dir)

  /** All named queries, sorted. */
  def queryNames: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Build a named query against the tables in `dir`. Installs the
    * engine on `spark` first, so any session works. */
  def query(spark: SparkSession, dir: String, name: String): DataFrame = {
    val build = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown query '$name' — see Graft.queryNames"))
    install(spark)
    build(spark, dir)
  }

  /** Build and run a named query, under a job group of its own, to the
    * `noop` sink, and return where its time went: build, Catalyst phases,
    * jobs, stages, tasks, bytes and rows out ([[api.QueryRecord]]). A
    * failed query returns a record carrying the error. */
  def record(spark: SparkSession, dir: String, name: String): api.QueryRecord =
    api.QueryRecord.measure(spark, name)(query(spark, dir, name))(
      _.write.format("noop").mode("overwrite").save())._1

  /** Adds the native functions and the as-of join strategy to a session
    * built without `GraftExtensions` (sessions from [[session]] already
    * have both). Idempotent. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.GraftFunctions.functions.foreach { case (id, info, builder) =>
      registry.registerFunction(id, info, builder)
    }
    // extraStrategies is a read-modify-write on shared session state.
    synchronized {
      val exp = spark.experimental
      if (!exp.extraStrategies.contains(plans.AsofJoinStrategy))
        exp.extraStrategies = exp.extraStrategies :+ plans.AsofJoinStrategy
    }
  }
}
