package graft

import graft.functions.Hll
import graft.streaming.DistinctStream
import org.apache.spark.sql.functions._

/** Stream ≡ batch for incremental HLL maintenance: after draining the
  * corpus in waves (restart per wave), the sink's register table equals
  * the batch register computation exactly, emissions are monotone rises
  * with no duplicates, replays emit nothing, and an early poll is an
  * empty sketch rather than a crash. */
class DistinctStreamSpec extends SparkSpec {

  test("streamed registers equal the batch sketch; rises are exactly-once; replay is silent") {
    val landing = tempDir("hll-landing")
    val out = tempDir("hll-out")
    val cp = tempDir("hll-cp")
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
      .select("event_type", "user_id", "event_id")

    (0 to 2).foreach { wave =>
      ev.filter(pmod(col("event_id"), lit(3)) === wave)
        .select("event_type", "user_id")
        .write.mode("append").parquet(landing)
      DistinctStream.runAvailableNow(spark, landing, out, cp,
        maxFilesPerTrigger = 2)
    }

    // Batch registers over the same corpus.
    val batch = ev
      .select(col("event_type"), expr(Hll.hpExpr("user_id")).as("hp"))
      .select(col("event_type"), expr(Hll.regExpr).as("reg"),
        expr(Hll.rhoExpr).cast("int").as("rho"))
      .groupBy("event_type", "reg").agg(max("rho").as("mrho"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    val streamed = DistinctStream.registerTable(spark, out)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(streamed === batch, "stream register table != batch sketch")

    // Raw sink rows: strictly rising per key (each rise emitted once).
    val raw = spark.read.parquet(out).collect()
      .map(r => ((r.getString(0), r.getLong(1)), r.getInt(2)))
    raw.groupBy(_._1).foreach { case (k, rows) =>
      val vs = rows.map(_._2)
      assert(vs.distinct.length === vs.length, s"duplicate rise for $k")
    }

    // Estimates match the one-shot batch fold.
    val est = DistinctStream.estimates(spark, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (t, (nReg, e)) =>
      assert(nReg <= 4096)
      assert(math.abs(e - exact(t)) / exact(t) < 0.05,
        s"estimate for $t off: $e vs ${exact(t)}")
    }

    // Replay of an already-drained landing dir emits nothing new.
    val before = spark.read.parquet(out).count()
    DistinctStream.runAvailableNow(spark, landing, out, cp)
    assert(spark.read.parquet(out).count() === before)
  }

  test("early poll of a data-less sink is an empty sketch, not a crash") {
    val empty = tempDir("hll-empty")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(empty, "_spark_metadata"))
    assert(DistinctStream.registerTable(spark, empty).count() === 0)
    assert(DistinctStream.estimates(spark, empty).count() === 0)
  }
}
