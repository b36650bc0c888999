package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming dedup with a DETERMINISTIC survivor — the repaired form of
  * `dropDuplicatesWithinWatermark("log_id")`.
  *
  * Why it exists: executor-loss fault injection (the `medallion` scenario
  * of tools/FaultInject) caught `dropDuplicatesWithinWatermark` emitting
  * DIFFERENT silver content across two drains of the same input. Its
  * contract keeps the first row
  * PROCESSED per key, and when two rows with the same key land in the same
  * micro-batch, "first" is decided by shuffle-arrival order — a race
  * against task scheduling (and, under retries, against which attempt's
  * ordering wins). Harmless when duplicate keys are true retransmissions
  * (identical payloads), silently nondeterministic when they are not: the
  * activity generator's random 9-digit log_ids birthday-collide (~18 pairs
  * per 200k rows) with distinct payloads, so two runs of the very same
  * pipeline could disagree about which event a log_id names.
  *
  * The deterministic rule: within the FIRST micro-batch that contains a
  * key, keep the row minimal under the total order (timestamp, user_id,
  * ip_address, watch_time) — the same keep rule as the batch analog
  * ([[graft.pipeline.ActivityPipeline.dedup]]); every later batch's rows
  * for that key are suppressed. A min over a batch's rows is order-free,
  * batch composition is pinned by the checkpointed source (file-list
  * batches re-form identically on retry), and state commits are per-batch
  * atomic — so the output is a pure function of the input, no matter how
  * tasks are scheduled, retried, or relocated after an executor death.
  * Emission stays immediate (append latency is unchanged vs
  * dropDuplicatesWithinWatermark; nothing buffers until watermark close).
  *
  * State: one long per in-flight key (the first event time), cleared by an
  * event-time timer at first-event-time + delay — the same expiry contract
  * as dropDuplicatesWithinWatermark ("duplicates arrive within the
  * watermark delay of each other"), so state stays O(keys-in-window). A
  * duplicate arriving after its key expired starts a new window and emits
  * again — identical to the operator it replaces.
  */
object DeterministicDedup {

  /** The bronze-parsed activity row (bronzeValid's projection). */
  final case class ParsedActivity(
      log_id: String,
      user_id: String,
      timestamp: Timestamp,
      ip_address: String,
      watch_time: Double)

  /** Total order on payloads; ties cannot survive it (all columns compared). */
  private[graft] def keep(a: ParsedActivity, b: ParsedActivity): ParsedActivity = {
    val c1 = a.timestamp.compareTo(b.timestamp)
    if (c1 != 0) return if (c1 < 0) a else b
    val c2 = a.user_id.compareTo(b.user_id)
    if (c2 != 0) return if (c2 < 0) a else b
    val c3 = a.ip_address.compareTo(b.ip_address)
    if (c3 != 0) return if (c3 < 0) a else b
    if (a.watch_time <= b.watch_time) a else b
  }

  class DedupProcessor(expiryDelayMs: Long)
      extends StatefulProcessor[String, ParsedActivity, ParsedActivity] {
    @transient private var firstSeen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      firstSeen = getHandle.getValueState[Long](
        "firstSeen", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String,
        rows: Iterator[ParsedActivity],
        timerValues: TimerValues): Iterator[ParsedActivity] = {
      if (firstSeen.exists()) Iterator.empty
      else {
        var best: ParsedActivity = null
        rows.foreach(r => best = if (best == null) r else keep(best, r))
        if (best == null) Iterator.empty
        else {
          val t = best.timestamp.getTime
          firstSeen.update(t)
          getHandle.registerTimer(t + expiryDelayMs)
          Iterator.single(best)
        }
      }
    }

    override def handleExpiredTimer(
        key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ParsedActivity] = {
      firstSeen.clear()
      Iterator.empty
    }
  }

  /** "2 hours" / "30 minutes" / "45 seconds" / "1 day" → milliseconds. */
  private[graft] def delayToMs(watermark: String): Long = {
    val m = "(?i)^\\s*(\\d+)\\s*(day|hour|minute|second)s?\\s*$".r
    watermark.trim match {
      case m(n, unit) =>
        val base = unit.toLowerCase match {
          case "day" => 86400000L
          case "hour" => 3600000L
          case "minute" => 60000L
          case "second" => 1000L
        }
        n.toLong * base
      case _ =>
        throw new IllegalArgumentException(
          s"unsupported watermark delay '$watermark' (expected '<n> <unit>')")
    }
  }

  /** Streaming dedup over the bronze-parsed frame. The input must already
    * carry `withWatermark` on `timestamp` (event-time timers require it);
    * `watermark` is the same delay string, reused for state expiry.
    */
  def dedup(bronze: DataFrame, watermark: String): Dataset[ParsedActivity] = {
    implicit val rowEnc: Encoder[ParsedActivity] = Encoders.product[ParsedActivity]
    implicit val keyEnc: Encoder[String] = Encoders.STRING
    bronze.as[ParsedActivity]
      .groupByKey(_.log_id)
      .transformWithState(
        new DedupProcessor(delayToMs(watermark)),
        TimeMode.EventTime(),
        OutputMode.Append(),
        rowEnc)
  }
}
