package graft

import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Catalog-backed registration ([[Tables.registerAllPersistent]]):
  * external-table metadata in `spark.catalog`, path data untouched,
  * pushdown preserved, visible across session forks, and registered from
  * footer schemas without a Spark job. */
class CatalogSpec extends SparkSpec with JobLog {

  test("registerAllPersistent: external tables + events view, pushdown intact") {
    Tables.registerAllPersistent(spark, sfDir)
    // listTables(db) also returns session TEMP views (which other suites
    // register under the same table names) — scope every assertion to the
    // db's own entries.
    def dbTables() = spark.catalog.listTables("graft").collect()
      .filter(_.database == "graft")
    val names = dbTables().map(_.name).toSet
    Tables.all.filterNot(_ == "events").foreach(t =>
      assert(names.contains(t), s"missing catalog table $t"))
    assert(names.contains("events_raw") && names.contains("events"))

    // The catalog read is the SAME parquet relation as the path read —
    // predicate pushdown must reach the scan through the catalog name.
    val q = spark.table("graft.lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val scan = q.queryExecution.sparkPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.get
    assert(scan.metadata("PushedFilters").contains("l_quantity"),
      s"no pushdown through catalog: ${scan.metadata("PushedFilters")}")
    assert(scan.requiredSchema.fieldNames.toSet === Set("l_orderkey", "l_quantity"),
      "column pruning lost through catalog")

    // The view normalizes ts to TimestampType whatever the fixture
    // encoding is — same contract as Tables.load.
    assert(spark.table("graft.events").schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    assert(spark.table("graft.events").count() ===
      Tables.load(spark, sfDir, "events").count())

    // Catalog entries are shared state, not session-local temp views: a
    // forked session (fresh temp-view namespace) still resolves them.
    val forked = spark.newSession()
    assert(forked.table("graft.nation").count() === 25L)

    // Registration is idempotent (re-points locations, no duplicates).
    Tables.registerAllPersistent(spark, sfDir)
    val again = dbTables().map(_.name)
    assert(again.length === again.distinct.length)
  }

  test("registerAllPersistent runs no Spark job") {
    assert(jobsOf(Tables.registerAllPersistent(spark, sfDir)).isEmpty)
  }
}
