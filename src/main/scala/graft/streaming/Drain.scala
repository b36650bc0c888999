package graft.streaming

import scala.collection.mutable
import scala.util.Try

import graft.api.StreamWidth

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one path that drains a graft stream to completion: every
  * `runAvailableNow` hands [[Drain.apply]] its input paths and the queries
  * it starts, and the drain makes these decisions, once each:
  *
  *   - Width on a fork. The queries start on a clone of the caller's
  *     session (`cloneSession`: temp views, registered functions and extra
  *     strategies carry over, which `newSession` would drop). Only the
  *     clone gets `spark.sql.shuffle.partitions` and AQE's
  *     `initialPartitionNum` set to [[StreamWidth.forInput]] of the paths,
  *     the width a stateful stage opens one state store per partition at.
  *     A batch query planned on the caller while a drain runs keeps the
  *     caller's width, and overlapping drains cannot leave the caller at
  *     either one's width.
  *   - Listeners. The caller's streaming listeners ([[Metrics.attach]])
  *     are added to the fork while it drains, so they see the drain's
  *     progress as they would on the caller.
  *   - Await. Stages run in order; a stage starts once every query of the
  *     one before has terminated. On a failure or a timeout the drain stops
  *     every query it started.
  *   - Release. Afterwards the cached RocksDB state-store providers and
  *     their maintenance pool are unloaded ([[release]]): they otherwise
  *     tax later batch work in the same JVM (measured 20–35%), and the next
  *     drain reloads from its checkpoint. The streaming-event buses that
  *     the fork and each query's cloned session subscribed to the
  *     application's listener bus are removed too, exactly those and no
  *     other drain's: each would otherwise receive every later Spark event
  *     for the life of the application (two per drain).
  */
object Drain {

  /** The two keys a drain's width is set on, on the fork only. */
  val widthKeys: Seq[String] = Seq("spark.sql.shuffle.partitions",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum")

  /** Run `stages` in order on a fork of `spark` sized by the bytes under
    * `paths`, each query of a stage awaited for at most `timeoutMs`. */
  def apply(spark: SparkSession, paths: Seq[String], timeoutMs: Long = Long.MaxValue)(
      stages: (SparkSession => Seq[StreamingQuery])*): Unit = {
    val fork = GraftSqlBridge.cloneSession(spark)
    val width = StreamWidth.forInput(spark, paths: _*).toString
    widthKeys.foreach(fork.conf.set(_, width))
    // A listener the fork's manager adds itself (the UI's, those named in
    // spark.sql.streaming.streamingQueryListeners) would otherwise see
    // every event twice.
    val own = fork.streams.listListeners().map(_.getClass).toSet
    val borrowed = spark.streams.listListeners().filterNot(l => own(l.getClass))
    borrowed.foreach(fork.streams.addListener)
    val started = mutable.LinkedHashSet.empty[StreamingQuery]
    try stages.zipWithIndex.foreach { case (stage, i) =>
      val qs = stage(fork)
      started ++= qs
      qs.foreach(q => require(q.awaitTermination(timeoutMs),
        s"stage ${i + 1} of ${stages.size} draining ${paths.mkString(", ")} " +
          s"did not finish within $timeoutMs ms; later stages not started"))
    } catch { case e: Throwable =>
      val running = fork.streams.active
      started ++= running
      running.foreach(q => Try(q.stop()))
      throw e
    } finally {
      if (fork.streams.listListeners().nonEmpty) {
        // The last progress events are still on the bus when the queries
        // terminate; the fork's listeners get them before its bus closes.
        Try(GraftSqlBridge.waitForListeners(spark.sparkContext))
        borrowed.foreach(fork.streams.removeListener)
      }
      Try(GraftSqlBridge.closeStreamsBus(fork))
      started.foreach(q =>
        Try(GraftSqlBridge.closeStreamsBus(GraftSqlBridge.streamSession(q))))
      release(spark)
    }
  }

  /** Every stream running in the application, whichever session started
    * it: a fork's queries are not in the caller's `spark.streams.active`. */
  def active(spark: SparkSession): Seq[StreamingQuery] =
    GraftSqlBridge.activeStreams(spark)

  /** Unload the state-store providers, only when no stream is active
    * anywhere in the application. */
  def release(spark: SparkSession): Unit =
    if (active(spark).isEmpty) Try(StateStore.stop())

  /** The parquet files under `dir` as a stream of `schema` rows, at most
    * `maxFilesPerTrigger` files per micro-batch. */
  def files(s: SparkSession, schema: StructType, dir: String,
      maxFilesPerTrigger: Int): DataFrame =
    s.readStream.schema(schema).option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Start `df` to completion, handing each micro-batch and its id to `f`. */
  def eachBatch(df: DataFrame, checkpoint: String)(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()).foreachBatch(f).start()

  /** Start `ds` to completion, appending its rows to the parquet sink `out`. */
  def toParquet(ds: Dataset[_], out: String, checkpoint: String): StreamingQuery =
    ds.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", checkpoint).outputMode(OutputMode.Append())
      .trigger(Trigger.AvailableNow()).start()
}
