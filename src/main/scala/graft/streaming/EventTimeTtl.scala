package graft.streaming

import org.apache.spark.sql.streaming.{ExpiredTimerInfo, MapState,
  StatefulProcessor, TimerValues, ValueState}

/** The event-time TTL of the sliding-window operators (chunk, SimHash,
  * MinHash and semantic dedup, rate limiting, affinity): state lives
  * `ttlMs` of event time past the last event that touched it, and an
  * event-time timer frees it once the watermark passes that deadline.
  *
  * Invariant: a key holds state exactly when it has one registered
  * timer, and that timer is at or before the key's true deadline.
  *  - [[armIfNew]] registers the timer only when the key gains state.
  *    A keep-alive moves the deadline past the timer and leaves the
  *    timer alone, so the data path never lists, deletes or registers
  *    timers of a key that already has state.
  *  - When the timer fires, the operator's [[expire]] frees what has
  *    lapsed and returns the last event time of what survives; the
  *    timer is registered again at that deadline, or the key is left
  *    with neither state nor timer. Spark deletes the fired timer.
  *
  * A key is therefore freed in the first batch whose watermark passes
  * its deadline, as it would be under a timer rewritten on every
  * visit, for one extra firing per keep-alive window instead of a
  * timer delete and register per touched key per batch (on the MinHash
  * census row those rewrites were 75 k timer-state writes per 4000-doc
  * batch, about 40% of all RocksDB puts). A key holding a map of
  * entries may shed lapsed entries at a firing before its last entry
  * lapses. Matching never relies on the timer: each operator also
  * ignores lapsed state when it reads it.
  *
  * Spark's `TTLConfig` is not used: it counts processing time, so a
  * replay from a checkpoint would expire other state than the first
  * run did. These timers emit no rows; the operators whose timers emit
  * (stalls, fills, resolutions, funnel steps, retries) keep their own.
  */
abstract class EventTimeTtl[K, I, O](ttlMs: Long)
    extends StatefulProcessor[K, I, O] {

  /** Frees the key's state last touched at or before `cutoffMs` (the
    * watermark less the TTL); returns the latest event time of the
    * state that survives, None when none does. */
  protected def expire(cutoffMs: Long): Option[Long]

  /** Called by `handleInputRows` once it has written the key's state:
    * arms the key's timer at `lastMs` plus the TTL when the key `had`
    * no state before the batch. */
  protected final def armIfNew(had: Boolean, lastMs: => Long): Unit =
    if (!had) getHandle.registerTimer(lastMs + ttlMs)

  final override def handleExpiredTimer(key: K, timers: TimerValues,
                                        info: ExpiredTimerInfo)
      : Iterator[O] = {
    expire(timers.getCurrentWatermarkInMs() - ttlMs)
      .foreach(last => getHandle.registerTimer(last + ttlMs))
    Iterator.empty
  }

  /** [[expire]] for state held as one record last touched at
    * `lastMs(record)`. */
  protected final def expireValue[S](state: ValueState[S], cutoffMs: Long)(
      lastMs: S => Long): Option[Long] = {
    val last = Option(state.get()).map(lastMs).filter(_ > cutoffMs)
    if (last.isEmpty) state.clear()
    last
  }

  /** [[expire]] for state held as entries each last touched at
    * `lastMs(entry)`. */
  protected final def expireEntries[E](state: MapState[Long, E],
                                       cutoffMs: Long)(
      lastMs: E => Long): Option[Long] = {
    val (live, lapsed) = state.iterator().toSeq
      .partition { case (_, e) => lastMs(e) > cutoffMs }
    lapsed.foreach { case (id, _) => state.removeKey(id) }
    live.map { case (_, e) => lastMs(e) }.maxOption
  }
}
