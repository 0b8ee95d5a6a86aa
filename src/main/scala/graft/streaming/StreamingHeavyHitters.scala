package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor,
  TimeMode, TimerValues, TTLConfig, ValueState}

/** Streaming heavy hitters — the online twin of the batch exact top-k
  * (q58): SpaceSaving counters (Metwally et al.) over a token stream,
  * sharded into `nBuckets` hash buckets of `capacity` counters each, so
  * total state is a hard nBuckets × capacity bound REGARDLESS of stream
  * cardinality or lifetime (no TTL needed — boundedness is structural).
  *
  * Sharding preserves the SpaceSaving guarantee per token: a token maps
  * to exactly one bucket, and within that bucket the classic invariants
  * hold — reported `count` never undercounts (true ≤ count) and
  * overcounts by at most `err` (count − err ≤ true ≤ count). A token
  * absent from its bucket's counters has true count ≤ the bucket's
  * minimum counter. Bucket error floors scale with the traffic of one
  * bucket (≈ 1/nBuckets of the stream), so sharding also TIGHTENS the
  * bound vs one global table — the standard distributed deployment.
  *
  * Each micro-batch emits a snapshot row per SURVIVING counter updated
  * in that batch — at most `capacity` rows per bucket per batch, so
  * emission volume is as structurally bounded as the state (tokens that
  * churned through a slot and were evicted within the batch emit
  * nothing). The current view is the max-COUNT snapshot per (bucket,
  * token): counts are strictly monotonic per token across emissions
  * (an update increments; re-entry after eviction inherits min+1, and
  * the bucket minimum never decreases), which makes max-by-count
  * correct even under out-of-order event times — a stateless downstream
  * query (kept separate for the same watermark-chaining reason as the
  * dedup twins). (The minimum-never-decreases step holds where it is
  * needed: evictions happen only at capacity, and at capacity every
  * replacement installs count = min+1; below capacity a first-seen
  * token inserts at count 1 and may lower the bucket minimum, but no
  * eviction — hence no inherited count — occurs there.) A token evicted after its last snapshot leaves that
  * row stale rather than tombstoned; safe for top-k consumption because
  * its evictor carries a strictly larger count, and heavy hitters — the
  * rows this exists to find — are precisely the ones SpaceSaving never
  * evicts. No watermark is applied: state needs no TTL (boundedness is
  * structural), and filtering late events would silently break the
  * never-undercounts guarantee, so arbitrarily late tokens still count.
  * All replacement decisions are deterministic: batch rows are
  * processed in (eventTime, token) order and eviction takes the minimum
  * by (count, −err, token) — among equal counts, the MOST overestimated
  * counter goes first, never a genuine hitter over a tail artifact.
  * Null tokens are dropped at the plan edge.
  */
object StreamingHeavyHitters {

  final case class TokenEvent(token: String, eventTime: Timestamp)

  final case class Counter(token: String, count: Long, err: Long)

  final case class BucketCounters(counters: List[Counter])

  final case class HitterSnapshot(bucket: Int, token: String, count: Long,
                                  err: Long, eventTime: Timestamp)

  private final class HittersProcessor(capacity: Int)
      extends StatefulProcessor[Int, (Int, String, Timestamp), HitterSnapshot] {

    @transient private var state: ValueState[BucketCounters] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[BucketCounters]("counters",
        Encoders.product[BucketCounters], TTLConfig.NONE)

    override def handleInputRows(bucket: Int,
                                 rows: Iterator[(Int, String, Timestamp)],
                                 timers: TimerValues): Iterator[HitterSnapshot] = {
      var counters = if (state.exists()) state.get().counters else Nil
      val touched = scala.collection.mutable.Map.empty[String, Timestamp]
      rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach {
        case (_, token, ts) =>
          counters.find(_.token == token) match {
            case Some(c) =>
              counters = Counter(token, c.count + 1, c.err) ::
                counters.filterNot(_.token == token)
            case None if counters.length < capacity =>
              counters = Counter(token, 1L, 0L) :: counters
            case None =>
              // evict the deterministic minimum — among equal
              // counts, the most overestimated (largest err) first;
              // the newcomer inherits the count as the classic
              // overestimate
              val m = counters.minBy(c => (c.count, -c.err, c.token))
              counters = Counter(token, m.count + 1, m.count) ::
                counters.filterNot(_ eq m)
          }
          touched.update(token, ts)
      }
      state.update(BucketCounters(counters))
      // emit only counters that survived the batch: at most
      // `capacity` rows, carrying their final (count, err)
      counters.reverseIterator.flatMap { c =>
        touched.get(c.token).map(t =>
          HitterSnapshot(bucket, c.token, c.count, c.err, t))
      }
    }
  }

  /** Requires the RocksDB state store provider (transformWithState). */
  def track(tokens: Dataset[TokenEvent], nBuckets: Int = 16,
            capacity: Int = 64): Dataset[HitterSnapshot] = {
    require(nBuckets >= 1, "nBuckets must be >= 1")
    require(capacity >= 1, "capacity must be >= 1")
    val spark = tokens.sparkSession
    import spark.implicits._
    val keyed = tokens.toDF()
      .filter(col("token").isNotNull && col("eventTime").isNotNull)
      .withColumn("bucket",
        pmod(xxhash64(col("token")), lit(nBuckets.toLong)).cast("int"))
      .select(col("bucket"), col("token"), col("eventTime"))
      .as[(Int, String, Timestamp)]
    implicit val eo: Encoder[HitterSnapshot] = Encoders.product[HitterSnapshot]
    keyed
      .groupByKey(_._1)
      .transformWithState(new HittersProcessor(capacity),
        TimeMode.None(), OutputMode.Append())
  }
}
