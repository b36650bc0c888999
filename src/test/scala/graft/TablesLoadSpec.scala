package graft

import graft.sources.{Parquet, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** Tables.load must normalize every events.ts fixture encoding seen across
  * fixture generations to the same session-TZ (UTC) micros TimestampType:
  *   - nanos LONG (how Spark reads TIMESTAMP(NANOS) under
  *     spark.sql.legacy.parquet.nanosAsLong)
  *   - timestamp[us] without tz (TIMESTAMP_NTZ — current driver fixtures)
  *   - timestamp[us] with tz (what Spark itself writes for TimestampType)
  *
  * It also pins [[Parquet.open]], the job-free open every load goes
  * through, against the reference spelling `spark.read.parquet(path)`.
  */
class TablesLoadSpec extends SparkSpec with JobLog {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private val us = Seq(
    1704067200000000L, // 2024-01-01T00:00:00Z
    1704067200123456L, // sub-second micros survive
    1706745599999999L) // 2024-01-31T23:59:59.999999Z

  private def writeAndLoad(dir: String)(write: String => Unit): Seq[Long] = {
    write(dir)
    val df = Tables.load(spark, dir, "events")
    assert(df.schema("ts").dataType == TimestampType,
      s"expected TimestampType, got ${df.schema("ts").dataType}")
    df.select(unix_micros($"ts")).as[Long].collect().toSeq.sorted
  }

  test("nanos-long encoding divides to micros") {
    val dir = tempDir("tl-long")
    val got = writeAndLoad(dir) { d =>
      us.map(_ * 1000L).toDF("ts").withColumn("event_id", lit(1L))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(got == us.sorted)
  }

  test("timestamp_ntz encoding reinterprets wall clock as UTC") {
    val dir = tempDir("tl-ntz")
    val got = writeAndLoad(dir) { d =>
      us.toDF("u")
        .select(timestamp_micros($"u").cast("timestamp_ntz").as("ts"),
          lit(1L).as("event_id"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(got == us.sorted)
  }

  test("tz-aware timestamp encoding passes through") {
    val dir = tempDir("tl-ts")
    val got = writeAndLoad(dir) { d =>
      us.toDF("u")
        .select(timestamp_micros($"u").as("ts"), lit(1L).as("event_id"))
        .write.mode("overwrite").parquet(s"$d/events.parquet")
    }
    assert(got == us.sorted)
  }

  /** The sf0.01 fixture tables, beside the shared sf0.001 ones. */
  private val sf001 = s"${new java.io.File(sfDir).getParent}/sf0.01"

  private def assertSameAsReference(path: String): Unit = {
    val got = Parquet.open(spark, path)
    val ref = spark.read.parquet(path)
    assert(got.schema == ref.schema, s"schema of $path")
    assert(got.count() == ref.count(), s"row count of $path")
  }

  test("Parquet.open schema equals spark.read.parquet on every fixture table") {
    Tables.all.foreach(n => assertSameAsReference(s"$sf001/$n.parquet"))
  }

  test("Parquet.open schema equals spark.read.parquet on a multi-file directory") {
    val d = s"${tempDir("tl-multi")}/t.parquet"
    spark.range(0, 300, 1, 3)
      .select($"id", ($"id" % 7).cast("decimal(12,2)").as("amount"),
        concat(lit("k"), $"id".cast("string")).as("key"),
        timestamp_micros($"id").as("ts"),
        array($"id", $"id" + 1).as("xs"),
        struct($"id".as("a"), lit("b").as("b")).as("s"))
      .write.parquet(d)
    assert(new java.io.File(d).listFiles().count(_.getName.startsWith("part-")) == 3)
    assertSameAsReference(d)
  }

  test("Parquet.open on batch=N partitions takes the first file in path order") {
    // As a path, batch=10 sorts before batch=2 and batch=3; only it has
    // `extra`, so inference and the footer read must both pick it.
    val d = tempDir("tl-batches")
    Seq(2L, 10L, 3L).foreach { b =>
      val df = spark.range(b, b + 5).select($"id".as("doc_id"), array($"id").as("sig"))
      (if (b == 10L) df.withColumn("extra", lit("x")) else df).write.parquet(s"$d/batch=$b")
    }
    assertSameAsReference(d)
    assert(Parquet.open(spark, d).schema.fieldNames.toSeq ==
      Seq("doc_id", "sig", "extra", "batch"))
  }

  test("Tables.load of every table runs no Spark job") {
    assert(jobsOf(Tables.all.foreach(n => Tables.load(spark, sf001, n))).isEmpty)
    // The listener does see the reference spelling's inference job.
    assert(jobsOf(spark.read.parquet(s"$sf001/region.parquet")).nonEmpty)
  }

  test("Parquet.open rejects a streaming sink output and an empty directory") {
    val sink = tempDir("tl-sink")
    spark.range(3).write.mode("overwrite").parquet(s"$sink/t")
    new java.io.File(s"$sink/t/_spark_metadata").mkdir()
    val e1 = intercept[IllegalArgumentException](Parquet.open(spark, s"$sink/t"))
    assert(e1.getMessage.contains("_spark_metadata"))
    val empty = tempDir("tl-empty")
    val e2 = intercept[IllegalArgumentException](Parquet.open(spark, empty))
    assert(e2.getMessage.contains("holds no parquet data file"), e2.getMessage)
  }
}
