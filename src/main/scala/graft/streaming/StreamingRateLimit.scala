package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Streaming per-domain TOKEN-BUCKET admission — the online twin of
  * the batch polite-frontier schedule (q244: fetch k of a domain at
  * (k-1)×delay). Where the batch operator PLANS a schedule over a
  * known candidate set, this decides per arriving fetch request,
  * online, whether the domain's rate budget admits it now or when to
  * retry — the gate a live crawler runs in front of its fetch pool.
  *
  * Exact integer arithmetic, deliberately: the bucket holds
  * MILLI-tokens (`burst × 1000` cap) and refills `ratePerSec`
  * milli-tokens per millisecond of EVENT time, so decisions are
  * integer-exact and replay-deterministic — no floating-point drift
  * between a run and its checkpoint recovery. Within a micro-batch,
  * requests are charged in (eventTime, url) order (the
  * [[StreamingQuota]] determinism discipline); an event older than
  * the bucket clock refills nothing (clamped delta) but still
  * charges. A denied request consumes nothing and carries
  * `retryAtMs` — the event-time instant the bucket will next hold a
  * whole token.
  *
  * State is ONE fixed-size (milliTokens, lastMs) record per domain.
  * Idle cleanup is LOSSLESS by construction: refill caps at the
  * burst, so a domain idle past `burst/rate` has a full bucket
  * whether or not its record survived — the event-time TTL
  * ([[EventTimeTtl]]) frees the record without changing any future
  * decision. State is therefore bounded by the domains ACTIVE in one
  * TTL window, not by crawl lifetime.
  */
object StreamingRateLimit {

  final case class FetchRequest(domain: String, url: String,
                                eventTime: Timestamp)

  final case class Bucket(milliTokens: Long, lastMs: Long)

  /** One decision per request; `milliTokensAfter` is the bucket level
    * after the decision, `retryAtMs` is set only on denials.
    */
  final case class FetchDecision(domain: String, url: String,
                                 eventTime: Timestamp, admitted: Boolean,
                                 milliTokensAfter: Long,
                                 retryAtMs: Option[Long])

  private final class BucketProcessor(ratePerSec: Long, burst: Long,
                                      ttlMs: Long)
      extends EventTimeTtl[String, FetchRequest, FetchDecision](ttlMs) {

    private val capMilli = burst * 1000L

    @transient private var bucket: ValueState[Bucket] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState[Bucket]("bucket",
        Encoders.product[Bucket], TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[FetchRequest],
                                 timers: TimerValues)
        : Iterator[FetchDecision] = {
      val had = bucket.exists()
      var cur = if (had) bucket.get() else Bucket(capMilli, Long.MinValue)
      val out = rows.toSeq
        .sortBy(r => (r.eventTime.getTime, r.url))
        .map { r =>
          val t = r.eventTime.getTime
          // fresh domain = full bucket (the lossless-cleanup invariant)
          val refilled =
            if (cur.lastMs == Long.MinValue) capMilli
            else math.min(capMilli,
              cur.milliTokens + math.max(0L, t - cur.lastMs) * ratePerSec)
          val clock = math.max(cur.lastMs, t)
          if (refilled >= 1000L) {
            cur = Bucket(refilled - 1000L, clock)
            FetchDecision(key, r.url, r.eventTime, admitted = true,
              cur.milliTokens, None)
          } else {
            cur = Bucket(refilled, clock)
            // ceil division: when the bucket next holds a whole token
            val need = 1000L - refilled
            val wait = (need + ratePerSec - 1) / ratePerSec
            FetchDecision(key, r.url, r.eventTime, admitted = false,
              refilled, Some(clock + wait))
          }
        }
      bucket.update(cur)
      armIfNew(had, cur.lastMs)
      out.iterator
    }

    // lossless cleanup: past burst/rate idle the bucket is full anyway,
    // so dropping the record changes no future decision
    override protected def expire(cutoffMs: Long): Option[Long] =
      expireValue(bucket, cutoffMs)(_.lastMs)
  }

  /** Admission decisions under a `ratePerSec` tokens/sec, `burst`-cap
    * per-domain bucket. Requires the RocksDB state store provider
    * (the only provider backing transformWithState).
    */
  def limit(requests: Dataset[FetchRequest], ratePerSec: Long = 1L,
            burst: Long = 2L, watermarkDelay: String = "10 minutes",
            ttlMs: Long = 3600 * 1000L): Dataset[FetchDecision] = {
    require(ratePerSec > 0 && burst > 0 && ttlMs > 0,
      "rate, burst, and ttl must be positive")
    val spark = requests.sparkSession
    import spark.implicits._
    implicit val outEnc: Encoder[FetchDecision] =
      Encoders.product[FetchDecision]
    requests
      .filter(col("domain").isNotNull && col("eventTime").isNotNull)
      .withWatermark("eventTime", watermarkDelay)
      .as[FetchRequest]
      .groupByKey(_.domain)
      .transformWithState(new BucketProcessor(ratePerSec, burst, ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
