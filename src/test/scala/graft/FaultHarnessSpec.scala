package graft

import graft.tools.FaultInject
import org.apache.spark.sql.functions._

/** The fault harness's shared parts, in-process: the landed rule, the
  * digest, and one query scenario through the harness entry point. In a
  * `local[N]` session no executor process exists, so the killer never
  * fires and the scenario must read `match:true` with verdict MISS. */
class FaultHarnessSpec extends SparkSpec {
  import FaultInject.{digest, landed}

  test("a kill lands only when fired in flight and the scheduler saw a failure or removal") {
    assert(landed(firedInFlight = true, taskFailures = 3, executorsRemoved = 0))
    assert(landed(firedInFlight = true, taskFailures = 0, executorsRemoved = 1))
    assert(!landed(firedInFlight = true, taskFailures = 0, executorsRemoved = 0))
    assert(!landed(firedInFlight = false, taskFailures = 2, executorsRemoved = 1))
  }

  test("the digest ignores row order and sees a changed cell, a moved null and a dropped row") {
    val s = spark
    import s.implicits._
    val rows = Seq[(Option[String], Option[String], Long)](
      (Some("a"), None, 1L), (Some("b"), Some("x"), 2L), (None, Some("c"), 3L))
    val base = rows.toDF("p", "q", "n")
    assert(digest(base) == digest(rows.reverse.toDF("p", "q", "n").repartition(3)))
    // Column order does not matter: columns hash by name.
    assert(digest(base) == digest(base.select("n", "q", "p")))
    assert(digest(base).rows == 3)
    val changed = rows.updated(1, (Some("b"), Some("y"), 2L)).toDF("p", "q", "n")
    assert(digest(changed) != digest(base))
    val moved = rows.updated(0, (None, Some("a"), 1L)).toDF("p", "q", "n")
    assert(digest(moved) != digest(base))
    val dropped = rows.tail.toDF("p", "q", "n")
    assert(digest(dropped) != digest(base))
    assert(digest(base.limit(0)) == FaultInject.Digest(BigDecimal(0), 0L))
  }

  test("binary, array, map and timestamp cells digest by value") {
    val s = spark
    import s.implicits._
    def frame(last: Byte) =
      Seq((1L, Array[Byte](1, 2, last)), (2L, Array[Byte](9)))
        .toDF("id", "bin")
        .withColumn("m", map(lit("k"), col("id"), lit("j"), col("id") * 2))
        .withColumn("arr", array(col("id"), lit(null).cast("long")))
        .withColumn("ts", timestamp_micros(col("id") * 1000001L))
    // Two separate runs build fresh byte arrays; the digest must not see
    // their identities.
    assert(digest(frame(3)) == digest(frame(3)))
    assert(digest(frame(3)) != digest(frame(4)))
    // Microseconds count: 1.000001 s and 1.000002 s differ.
    def at(us: Long) = Seq(us).toDF("us").select(timestamp_micros(col("us")).as("ts"))
    assert(digest(at(1000001L)) != digest(at(1000002L)))
  }

  test("a query scenario through the harness: match, MISS without a kill, failing status") {
    val t0 = System.nanoTime()
    val work = tempDir("fault-harness")
    val sf001 = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath
    val (results, status) = FaultInject.run(spark, sf001, work, Seq("ts_ohlc"))
    assert(results.map(_.scenario) == Seq("ts_ohlc"))
    assert(results.head.verdict == "MISS", results.head.json)
    assert(results.head.json.contains("\"match\":true"), results.head.json)
    assert(results.head.json.contains("\"kills_in_flight\":0"), results.head.json)
    assert(status == 1)
    val sec = (System.nanoTime() - t0) / 1e9
    info(f"scenario wall $sec%.1f s")
  }
}
