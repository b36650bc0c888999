package graft

import graft.api.QueryRecord
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

/** The per-query record (`Graft.record`) on real queries at sf0.01: its
  * counts against what Spark ran, its build attribution against
  * [[JobLog]], and its attribution across back-to-back records. */
class QueryRecordSpec extends SparkSpec with JobLog {
  /** The sf0.01 fixture tables, beside the shared sf0.001 ones. */
  private val dir = s"${new java.io.File(sfDir).getParent}/sf0.01"

  // First, before any record exists in this JVM: plain query use must not
  // add the record's listener.
  test("Graft.query and a noop write leave the record's listener uninstalled") {
    Graft.query(spark, dir, "rel_q1_pricing_summary")
      .write.format("noop").mode("overwrite").save()
    assert(!QueryRecord.installed.contains(spark.sparkContext))
  }

  test("rel_q1_pricing_summary: jobs, stages, tasks, Catalyst phases and rows out") {
    val r = Graft.record(spark, dir, "rel_q1_pricing_summary")
    info(r.toJson)
    assert(r.error.isEmpty)
    assert(QueryRecord.installed.contains(spark.sparkContext))
    assert(r("exec.jobs") >= 1)
    assert(r("exec.stages") >= r("exec.jobs"))
    assert(r("exec.tasks") >= r("exec.stages"))
    assert(r("build.jobs") == 0)
    Seq("analysis", "optimization", "planning").foreach { p =>
      assert(r.fields.contains(s"catalyst.${p}_ms"))
    }
    assert(r("catalyst.optimization_ms") + r("catalyst.planning_ms") > 0)
    assert(r("exec.scan_mb") > 0)
    assert(r("exec.task_ms") > 0 && r("exec.util") > 0)
    assert(r("wall_ms") >= r("build.ms"))
    assert(r("exec.rows_out") == Graft.query(spark, dir, "rel_q1_pricing_summary").count())
  }

  test("llm_dedup_clusters: build jobs match JobLog's count for its build") {
    Graft.record(spark, dir, "llm_dedup_clusters") // warm the feature table
    val logged = jobsOf { Graft.query(spark, dir, "llm_dedup_clusters") }.size
    val r = Graft.record(spark, dir, "llm_dedup_clusters")
    info(s"JobLog: $logged build jobs; ${r.toJson}")
    assert(r.error.isEmpty)
    assert(r("build.jobs") > 0)
    assert(r("build.jobs") == logged)
    assert(r("exec.jobs") > r("build.jobs"))
  }

  test("back-to-back records: disjoint stages, each with its last stage's full task count") {
    val submitted = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int)]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        submitted.add((e.stageInfo.stageId, e.stageInfo.numTasks)); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val recs = try {
      (1 to 6).map { i =>
        QueryRecord.measure(spark, s"range_$i")(spark.range(0, 6400, 1, 48).toDF())(
          _.write.format("noop").mode("overwrite").save())._1
      } ++ (1 to 2).map(_ => Graft.record(spark, dir, "rel_q1_pricing_summary"))
    } finally spark.sparkContext.removeSparkListener(listener)
    recs.take(6).foreach { r =>
      assert((r("exec.jobs"), r("exec.stages"), r("exec.tasks")) == ((1.0, 1.0, 48.0)))
      assert(r("exec.rows_out") == 6400)
    }
    val ids = recs.map(_.stageIds)
    assert(ids.flatten.distinct.size == ids.map(_.size).sum, s"shared stage ids: $ids")
    val tasksOf = scala.jdk.CollectionConverters.IterableHasAsScala(submitted).asScala.toMap
    recs.foreach(r => assert(r("exec.tasks") == r.stageIds.map(tasksOf).sum))
    assert(recs(6)("exec.tasks") == recs(7)("exec.tasks"))
  }

  test("a failing query returns a record carrying the error") {
    val r = Graft.record(spark, dir, "no_such_query")
    assert(r.error.exists(_.contains("unknown query")))
    assert(r("exec.jobs") == 0)
    assert(r.toJson.contains("\"error\":"))
  }

  test("analysis_ms includes the analysis that runs while the frame is built") {
    // The five perfbench rel-tpch queries: a DataFrame is analyzed eagerly
    // as it is built, and the noop write re-analyzes nothing, so without
    // the built frame's own phase this sum reads 0.
    val names = Seq("rel_q1_pricing_summary", "rel_q3_shipping_priority",
      "rel_q6_forecast_revenue", "rel_q14_promo_effect", "rel_q19_disjunctive")
    val recs = names.map(Graft.record(spark, dir, _))
    info(recs.map(r => s"${r.name}=${r("catalyst.analysis_ms")}").mkString(" "))
    assert(recs.forall(_.error.isEmpty))
    assert(recs.map(_("catalyst.analysis_ms")).sum > 0)
  }

  test("an action on the built frame itself counts its analysis once") {
    val built = spark.range(0, 100).toDF("x").groupBy("x").count()
    val r = QueryRecord.measure(spark, "collect")(built)(_.collect())._1
    val own = built.queryExecution.tracker.phases("analysis")
    assert(r("catalyst.analysis_ms") == (own.endTimeMs - own.startTimeMs).toDouble)
  }
}
