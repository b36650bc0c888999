package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.api.StreamWidth
import graft.llm.WebCuration
import graft.streaming.{BoilerplateStream, DistinctStream, Drain, Metrics}
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** The one stream drain ([[Drain]]): the width lives on a fork, so the
  * caller's conf never changes while a drain runs; a stateful drain opens
  * [[StreamWidth.forInput]] state stores; the caller's listeners see the
  * drain; a failing drain leaves no stream running. */
class DrainSpec extends SparkSpec {

  /** The sf0.001 events as four landing files of (event_type, user_id). */
  private def eventFeed(): (String, Long) = {
    val landing = tempDir("drain-events")
    val ev = spark.read.parquet(s"$sfDir/events.parquet").select("event_type", "user_id")
    ev.repartition(4).write.mode("overwrite").parquet(landing)
    (landing, ev.count())
  }

  private def sessionKeys = Drain.widthKeys.map(k => k -> spark.conf.getOption(k))

  test("the caller's width keys never change while a drain runs on another thread") {
    val (landing, _) = eventFeed()
    assert(StreamWidth.forInput(spark, landing) != spark.sessionState.conf.numShufflePartitions)
    val before = sessionKeys
    val changed = new ConcurrentLinkedQueue[Seq[(String, Option[String])]]()
    @volatile var error: Option[Throwable] = None
    val drain = new Thread(() =>
      try DistinctStream.runAvailableNow(spark, landing, tempDir("drain-hll-out"),
        tempDir("drain-hll-cp"), maxFilesPerTrigger = 1)
      catch { case t: Throwable => error = Some(t) }, "drain")
    drain.start()
    var polls = 0
    while (drain.isAlive) {
      val now = sessionKeys
      if (now != before) changed.add(now)
      polls += 1
      Thread.sleep(1)
    }
    error.foreach(throw _)
    info(s"$polls polls")
    assert(polls > 0)
    val seen = changed.asScala.toSeq.distinct
    assert(seen.isEmpty, s"the caller read another width in ${changed.size} of $polls polls")
    assert(sessionKeys == before)
  }

  test("a stateful drain opens StreamWidth.forInput state stores, not the session width") {
    val landing = tempDir("drain-boiler")
    WebCuration.linedDocs(spark, sfDir).select("doc_id", "aug")
      .repartition(2).write.mode("overwrite").parquet(landing)
    val widths = new ConcurrentLinkedQueue[Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => widths.add(o.numShufflePartitions.toInt))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try BoilerplateStream.runAvailableNow(spark, landing, tempDir("drain-boiler-out"),
      tempDir("drain-boiler-cp"), minDocs = 3)
    finally {
      GraftSqlBridge.waitForListeners(spark.sparkContext)
      spark.streams.removeListener(listener)
    }
    val want = StreamWidth.forInput(spark, landing)
    assert(want == 1 && spark.sessionState.conf.numShufflePartitions == 4)
    assert(!widths.isEmpty, "no state operator progress reached the caller's listener")
    assert(widths.asScala.forall(_ == want), s"state operator widths ${widths.asScala.toSeq}")
  }

  test("Metrics.attach on the caller sees every batch of the drain") {
    val (landing, rows) = eventFeed()
    val metrics = Metrics.attach(spark)
    try DistinctStream.runAvailableNow(spark, landing, tempDir("drain-m-out"),
      tempDir("drain-m-cp"), maxFilesPerTrigger = 1)
    finally spark.streams.removeListener(metrics)
    val seen = metrics.snapshot.values
    assert(seen.map(_.batches).sum >= 4, s"batches seen: ${metrics.snapshot}")
    assert(seen.map(_.inputRows).sum == rows)
  }

  test("drains leave no streaming-event bus subscribed to the listener bus") {
    val (landing, _) = eventFeed()
    spark.streams // the caller's own bus, which lives as long as the caller
    val sc = spark.sparkContext
    val before = GraftSqlBridge.streamsBuses(sc)
    (1 to 5).foreach { i =>
      DistinctStream.runAvailableNow(spark, landing, tempDir(s"drain-bus-out$i"),
        tempDir(s"drain-bus-cp$i"), maxFilesPerTrigger = 2)
    }
    assert(GraftSqlBridge.streamsBuses(sc) == before)
  }

  test("a failing stage stops the queries the drain started") {
    val (landing, _) = eventFeed()
    val schema = spark.read.parquet(landing).schema
    val e = intercept[IllegalStateException] {
      Drain(spark, Seq(landing))(s => {
        Drain.eachBatch(Drain.files(s, schema, landing, 1), tempDir("drain-fail-cp"))(
          (_, _) => Thread.sleep(200))
        throw new IllegalStateException("stage failed after starting a query")
      })
    }
    assert(e.getMessage.contains("after starting"))
    assert(Drain.active(spark).isEmpty)
  }
}
