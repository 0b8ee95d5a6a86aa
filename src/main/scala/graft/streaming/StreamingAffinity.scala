package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Streaming co-occurrence affinity — the online twin of
  * [[graft.ext.Affinity.associationRules]]: baskets (sessions, orders)
  * arrive item by item, and each NEW item in a basket emits one
  * directed pair delta against every item already resident in that
  * basket (both directions, exactly like the batch double-explode).
  * The running rule counts are a stateless downstream
  * `groupBy(antecedent, consequent).count()` — kept out of this
  * operator so a second stateful node cannot gate its timers (the
  * house watermark-chaining rule); on a basket-complete corpus that
  * count equals the batch operator's `n_both` exactly
  * (StreamingAffinitySpec pins the parity on the real corpus).
  *
  * State per basket is its distinct-item list, capped at `maxBasket`:
  * an arrival beyond the cap is dropped (emits nothing, is not
  * remembered). NOTE the deliberate guard divergence from batch:
  * Apriori drops an oversized basket WHOLE, but an online operator
  * cannot know a basket's final size when its early items arrive, so
  * the stream truncates instead — identical results whenever every
  * basket is under the cap, conservative (fewer pairs) otherwise.
  * Duplicate sightings of an item refresh the session TTL but emit
  * nothing (set semantics — the batch `collect_set`).
  *
  * Built on `transformWithState`; a basket lapses `ttlMs` after its
  * last activity ([[EventTimeTtl]]), and purge-on-read guards the data
  * path so a late arrival cannot pair against a session the watermark
  * already closed. In-batch processing is ordered by
  * (eventTime, item), so emissions are replay-deterministic.
  */
object StreamingAffinity {

  final case class ItemEvent(basketId: Long, item: String,
                             eventTime: Timestamp)

  final case class BasketState(items: List[String], lastMs: Long)

  final case class PairDelta(basketId: Long, antecedent: String,
                             consequent: String, eventTime: Timestamp)

  private final class AffinityProcessor(maxBasket: Int, ttlMs: Long)
      extends EventTimeTtl[Long, ItemEvent, PairDelta](ttlMs) {

    @transient private var basket: ValueState[BasketState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      basket = getHandle.getValueState[BasketState]("basket",
        Encoders.product[BasketState], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[ItemEvent],
                                 timers: TimerValues)
        : Iterator[PairDelta] = {
      val wm = timers.getCurrentWatermarkInMs()
      // purge-on-read: a session past its TTL must not pair new arrivals
      val had = basket.exists()
      val live = if (had)
        Some(basket.get()).filter(b => b.lastMs + ttlMs > wm) else None
      var items: List[String] = live.map(_.items).getOrElse(Nil)
      // O(1) membership beside the encoded list: duplicate sightings are
      // the COMMON case in a session stream, and List.contains would pay
      // an O(cap) string scan per event (O(cap²) per basket)
      val seen = scala.collection.mutable.HashSet.empty[String]
      seen ++= items
      var nItems = seen.size // List.length is O(n) — count once
      // keep-alive clock never regresses on late arrivals
      var lastMs = live.map(_.lastMs).getOrElse(0L)
      val out = List.newBuilder[PairDelta]
      rows.toSeq.sortBy(e => (e.eventTime.getTime, e.item)).foreach { e =>
        if (seen.contains(e.item)) {
          // duplicate sighting of a resident item: emits nothing but is
          // basket activity — refreshes the session TTL (scaladoc contract)
          lastMs = math.max(lastMs, e.eventTime.getTime)
        } else if (nItems < maxBasket) {
          lastMs = math.max(lastMs, e.eventTime.getTime)
          items.foreach { resident =>
            out += PairDelta(key, e.item, resident, e.eventTime)
            out += PairDelta(key, resident, e.item, e.eventTime)
          }
          items = e.item :: items
          seen += e.item
          nItems += 1
        }
        // else: over-cap NEW item — dropped entirely, per the scaladoc:
        // it neither pairs nor keeps the session alive (refreshing lastMs
        // here would let a hot basket's overflow extend its TTL forever)
      }
      basket.update(BasketState(items, lastMs))
      armIfNew(had, lastMs)
      out.result().iterator
    }

    override protected def expire(cutoffMs: Long): Option[Long] =
      expireValue(basket, cutoffMs)(_.lastMs)
  }

  def pairDeltas(events: Dataset[ItemEvent], maxBasket: Int = 1000,
                 watermarkDelay: String = "10 minutes",
                 ttlMs: Long = 3600 * 1000L): Dataset[PairDelta] = {
    require(maxBasket >= 1, "maxBasket must be >= 1")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events.toDF()
      // plan-edge guard (house rule): nulls would NPE the in-batch sort
      .filter(col("basketId").isNotNull && col("item").isNotNull &&
        col("eventTime").isNotNull)
      .withWatermark("eventTime", watermarkDelay)
      .as[ItemEvent]
    implicit val eo: Encoder[PairDelta] = Encoders.product[PairDelta]
    keyed
      .groupByKey(_.basketId)
      .transformWithState(new AffinityProcessor(maxBasket, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
