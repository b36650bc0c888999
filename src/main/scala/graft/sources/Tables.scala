package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the deterministic test tables (see TESTDATA.md / FIXTURES.md).
  *
  * All loads are plain parquet scans so Catalyst keeps full pushdown/pruning
  * freedom — callers express filters and projections declaratively and the
  * scan reads only what is needed (`PushedFilters` / `ReadSchema` in
  * `.explain("formatted")`). Opens run no Spark job: the schema comes from
  * one footer read on the driver ([[Parquet.open]]).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = Parquet.open(spark, s"$dir/$name.parquet")
    // Normalize events.ts to a session-TZ (UTC) micros TimestampType whatever
    // the fixture encoding is. Observed encodings across fixture generations:
    //   - TIMESTAMP(NANOS) → read as a nanos long under
    //     spark.sql.legacy.parquet.nanosAsLong → floor-divide to micros
    //     (matches DuckDB's ns→µs truncation)
    //   - timestamp[us] without tz → TIMESTAMP_NTZ → reinterpret the wall
    //     clock as UTC (session TZ is pinned UTC, so this is value-identical
    //     to what DuckDB reads natively)
    //   - timestamp[us] with tz → already TimestampType → pass through
    if (name == "events")
      df.schema("ts").dataType match {
        case LongType         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
        case _                => df
      }
    else df
  }

  /** Register every table as a temp view so queries can use spark.sql. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Catalog-backed registration: EXTERNAL parquet tables (metadata in
    * `spark.catalog`, data left in place — no copy) instead of per-session
    * temp views. With the default in-memory catalog the entries live as
    * long as the catalog; under `enableHiveSupport()` (hive+derby jars
    * ship with Spark — [[graft.GraftSession]] turns it on via
    * `SPARK_GRAFT_CATALOG=hive`) the Derby metastore records them durably,
    * so a NEW session/JVM sees every table by name with no re-pointing at
    * paths — the metastore discipline the reference's Delta tables get
    * from Unity/Hive. Reads plan identically to the path reads: same
    * parquet relation, same pushdown/pruning (CatalogSpec asserts
    * PushedFilters through the catalog). Each table is registered with
    * its footer schema ([[Parquet.open]]), so registration runs no Spark
    * job.
    *
    * `events` needs the encoding-adaptive ts normalization (an expression,
    * not storable parquet metadata), so the raw table registers as
    * `events_raw` and `events` is a persistent VIEW whose normalization
    * branch is chosen from the schema at registration time. */
  def registerAllPersistent(spark: SparkSession, dir: String,
      db: String = "graft"): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    all.foreach { n =>
      val table = if (n == "events") s"$db.events_raw" else s"$db.$n"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      val path = s"$dir/$n.parquet"
      spark.catalog.createTable(table, "parquet", Parquet.open(spark, path).schema,
        Map("path" -> path))
      ()
    }
    val raw = spark.table(s"$db.events_raw")
    val tsExpr = raw.schema("ts").dataType match {
      case LongType         => "timestamp_micros(ts div 1000)"
      case TimestampNTZType => "CAST(ts AS TIMESTAMP)"
      case _                => "ts"
    }
    spark.sql(s"DROP VIEW IF EXISTS $db.events")
    val cols = raw.columns
      .map(c => if (c == "ts") s"$tsExpr AS ts" else s"`$c`")
      .mkString(", ")
    spark.sql(s"CREATE VIEW $db.events AS SELECT $cols FROM $db.events_raw")
    ()
  }
}
