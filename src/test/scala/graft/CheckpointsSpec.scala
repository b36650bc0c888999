package graft

import graft.api.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** [[Checkpoints.materialize]]: the count observed on the checkpoint's own
  * write equals `count()`, costs no second action, and stays per call
  * under concurrency. */
class CheckpointsSpec extends SparkSpec with JobLog {
  private val ss = SparkSpec.spark
  import ss.implicits._

  private def frames: Seq[(String, DataFrame)] = Seq(
    "empty" -> spark.range(0).toDF(),
    "single-partition" -> spark.range(0, 17, 1, 1).toDF(),
    "multi-partition" -> spark.range(0, 1000, 1, 7).toDF(),
    "post-aggregate" -> spark.range(0, 1000, 1, 5)
      .groupBy(($"id" % 13).as("k")).agg(count(lit(1)).as("n")),
    "post-join" -> spark.range(0, 500, 1, 3).toDF("a")
      .join(spark.range(0, 800, 2, 4).toDF("b"), $"a" === $"b"))

  frames.foreach { case (name, df) =>
    test(s"materialize observes count() on a $name frame") {
      val (out, n) = Checkpoints.materialize(df)
      assert(n == df.count())
      assert(out.count() == n)
      assert(out.schema == df.schema)
    }
  }

  test("materialize is one SQL action, and a custom measure rides it") {
    val df = spark.range(0, 1000, 1, 5)
      .groupBy(($"id" % 13).as("k")).agg(count(lit(1)).as("n"))
    var measured = -1L
    val jobs = jobsOf { measured = Checkpoints.materialize(df, count_if($"n" > 76))._2 }
    assert(actionsOf(jobs) == 1)
    assert(measured == df.filter($"n" > 76).count())
  }

  test("concurrent calls each get their own count") {
    val sizes = Seq(37L, 1234L, 0L, 500L, 9L, 2048L)
    val got = Await.result(Future.sequence(sizes.map(n =>
      Future(Checkpoints.materialize(spark.range(0, n, 1, 3).toDF())._2))), 5.minutes)
    assert(got == sizes)
  }
}
