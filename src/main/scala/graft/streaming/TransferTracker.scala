package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Per-transfer state tracking — the keyed stateful operator the reference
  * lacks entirely (its only state is the circuit breaker; SURVEY.md §2B
  * "stateful streaming ops"). Tracks every correlationId through its
  * lifecycle and emits:
  *   - a TERMINAL update when a transfer reaches PROCESSED/FAILED;
  *   - a STALLED update when a transfer saw RECEIVED but no terminal
  *     status before the event-time timeout — the streaming form of the
  *     reference's queue-backlog alert (k8s/monitoring/alerts.yaml:115-124:
  *     messages sitting unprocessed beyond a threshold).
  *
  * State is one small fixed-size record per in-flight transfer (a
  * ValueState) plus one event-time timer, cleared when the transfer
  * completes or stalls — bounded memory at any scale.
  */
object TransferTracker {

  final case class StatusEvent(
      correlationId: String,
      status: String, // RECEIVED | PROCESSED | FAILED
      eventTime: Timestamp)

  final case class TransferState(firstSeenMs: Long, updates: Int)

  final case class TransferUpdate(
      correlationId: String,
      finalStatus: String, // PROCESSED | FAILED | STALLED
      updates: Int,
      latencyMs: Long)

  val TimeoutMs: Long = 10 * 60 * 1000L

  private final class TrackerProcessor
      extends StatefulProcessor[String, StatusEvent, TransferUpdate] {

    @transient private var transfer: ValueState[TransferState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      transfer = getHandle.getValueState[TransferState]("transfer",
        Encoders.product[TransferState], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[StatusEvent],
                                 timers: TimerValues): Iterator[TransferUpdate] = {
      val sorted = rows.toSeq.sortBy(_.eventTime.getTime)
      val prev =
        if (transfer.exists()) {
          // only a key with state has a timer. Drop it before re-arming
          // or clearing: a batch's expired timers run after its input
          // rows, so a transfer completing in the batch its timeout
          // passes would otherwise stall as well
          getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
          transfer.get()
        } else TransferState(sorted.head.eventTime.getTime, 0)
      val updates = prev.updates + sorted.size
      // a terminal status anywhere in the batch completes the
      // transfer even if a redelivered RECEIVED sorts after it —
      // otherwise the completion is lost and a spurious STALLED
      // fires later. (A terminal arriving in a LATER batch than a
      // replayed RECEIVED still re-creates state: exactly-once
      // tombstones would need TTL'd terminal markers.)
      sorted.find(e => e.status == "PROCESSED" || e.status == "FAILED") match {
        case Some(done) =>
          transfer.clear()
          Iterator.single(TransferUpdate(key, done.status, updates,
            done.eventTime.getTime - prev.firstSeenMs))
        case None =>
          transfer.update(TransferState(prev.firstSeenMs, updates))
          // never arm a timer at or below the watermark (it would fire
          // in this batch): replayed old events get at least one more
          // microbatch interval before stalling
          getHandle.registerTimer(math.max(prev.firstSeenMs + TimeoutMs,
            timers.getCurrentWatermarkInMs() + 1))
          Iterator.empty
      }
    }

    override def handleExpiredTimer(key: String, timers: TimerValues,
                                    info: ExpiredTimerInfo): Iterator[TransferUpdate] = {
      val st = transfer.get()
      transfer.clear()
      Iterator.single(TransferUpdate(key, "STALLED", st.updates, TimeoutMs))
    }
  }

  /** Requires a watermark on eventTime upstream (event-time timers) and
    * the RocksDB state store provider (transformWithState's backend).
    */
  def track(events: Dataset[StatusEvent]): Dataset[TransferUpdate] = {
    implicit val su: Encoder[TransferUpdate] = Encoders.product[TransferUpdate]
    implicit val str: Encoder[String] = Encoders.STRING
    events
      .groupByKey(_.correlationId)
      .transformWithState(new TrackerProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }
}
