package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, MapState}
import graft.functions.SketchFns

/** Streaming near-duplicate detection — the online twin of
  * [[graft.ext.Dedup.simhashPairs]] for a document STREAM: each arriving
  * document is checked against the recent stream and emits a hit per
  * earlier near-duplicate (Hamming distance over 64-bit SimHash ≤
  * maxDistance), without ever re-scanning the corpus.
  *
  * Same pigeonhole decomposition as the batch operator (literally the
  * same builder — [[graft.functions.SketchFns.simhash_chunks]]): state is
  * keyed by (chunk, chunkValue) and each document visits maxDistance+1
  * buckets.
  *
  * Built on `transformWithState`: a bucket's members live in a
  * `MapState[docId → (simhash, lastSeenMs)]` — per-ENTRY state rows, so
  * a batch writes only the documents it inserted/refreshed/evicted
  * instead of serializing the whole bucket list every trigger. Per-task
  * transient memory is one bucket (≤ maxBucketEntries entries, ~16
  * bytes each) plus that bucket's own occurrence rows in the batch —
  * never a shard of the trigger. State is scoped three ways:
  * `maxBucketEntries` per bucket (least-recently-seen evicted first,
  * ties broken by docId — deterministic), a per-entry TTL enforced on
  * read (a bucket that keeps receiving traffic must not match against
  * arbitrarily old documents), and the event-time TTL
  * ([[EventTimeTtl]]) that physically frees idle state.
  *
  * A pair colliding in several chunks emits one identical hit per
  * colliding chunk — duplicate-tolerant by contract, like the batch
  * LSH candidate stream. Consume idempotently on (docId, matchedId),
  * or dedup in a SEPARATE downstream query (sink the hits, then
  * `readStream.withWatermark("eventTime", d)
  * .dropDuplicatesWithinWatermark("docId", "matchedId")`). Do NOT
  * chain that dedup in the same query: its second watermark node only
  * advances when hits flow, and the global watermark is the minimum
  * over all nodes — a quiet period would freeze it and stall this
  * operator's own TTL cleanup.
  */
object StreamingDedup {

  final case class DocEvent(docId: Long, simhash: Long, eventTime: Timestamp)

  final case class KeyedDoc(chunk: Int, bucket: Long, docId: Long,
                            simhash: Long, eventTime: Timestamp)

  private[streaming] final case class SimEntry(simhash: Long, lastMs: Long)

  final case class NearDupHit(docId: Long, matchedId: Long, hamming: Int,
                              eventTime: Timestamp)

  private final class SimProcessor(maxDistance: Int, ttlMs: Long,
                                   maxBucketEntries: Int)
      extends EventTimeTtl[(Int, Long), KeyedDoc, NearDupHit](ttlMs) {

    @transient private var entries: MapState[Long, SimEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      entries = getHandle.getMapState[Long, SimEntry]("entries",
        Encoders.scalaLong, Encoders.product[SimEntry], TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[KeyedDoc],
                                 timers: TimerValues): Iterator[NearDupHit] = {
      val wm = timers.getCurrentWatermarkInMs()
      // load the bucket once (bounded by maxBucketEntries — the match
      // loop iterates it per row anyway); purge-on-read: TTL-expired
      // entries must not match even if the bucket stays hot enough that
      // its timer has not fired yet
      val live = mutable.LinkedHashMap.empty[Long, SimEntry]
      val removed = mutable.ArrayBuffer.empty[Long]
      val it = entries.iterator()
      while (it.hasNext) {
        val (id, e) = it.next()
        if (e.lastMs + ttlMs > wm) live.update(id, e) else removed += id
      }
      val had = live.nonEmpty || removed.nonEmpty
      val touched = mutable.HashSet.empty[Long]
      val out = Seq.newBuilder[NearDupHit]
      rows.toSeq.sortBy(d => (d.eventTime.getTime, d.docId)).foreach { d =>
        live.foreach { case (id, e) =>
          if (id != d.docId) {
            val h = java.lang.Long.bitCount(e.simhash ^ d.simhash)
            if (h <= maxDistance)
              out += NearDupHit(d.docId, id, h, d.eventTime)
          }
        }
        live.update(d.docId, SimEntry(d.simhash, d.eventTime.getTime))
        touched += d.docId
        if (live.size > maxBucketEntries) {
          // deterministic bound: evict the least-recently-seen entry
          val victim = live.minBy { case (id, e) => (e.lastMs, id) }._1
          live.remove(victim)
          touched.remove(victim)
          removed += victim
        }
      }
      // delta write-back: only inserted/refreshed and removed entries
      // touch the store
      removed.foreach(entries.removeKey)
      touched.foreach(id => entries.updateValue(id, live(id)))
      armIfNew(had, live.valuesIterator.map(_.lastMs).max)
      out.result().iterator
    }

    override protected def expire(cutoffMs: Long): Option[Long] =
      expireEntries(entries, cutoffMs)(_.lastMs)
  }

  /** `docs` need not be pre-watermarked; `watermarkDelay` is applied to
    * eventTime after the chunk fan-out. `maxBucketEntries` bounds state
    * per bucket (least-recently-seen evicted first — an eviction only
    * costs recall against documents older than the bucket's recent
    * window).
    */
  def detect(docs: Dataset[DocEvent], maxDistance: Int = 3,
             watermarkDelay: String = "10 minutes",
             ttlMs: Long = 3600 * 1000L,
             maxBucketEntries: Int = 1024): Dataset[NearDupHit] = {
    // 0 would empty the bucket after every insert and crash the timer
    // arming on an empty max — fail at plan time, not mid-stream
    require(maxBucketEntries >= 1, "maxBucketEntries must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.toDF()
      .select(col("docId"), col("simhash"), col("eventTime"),
              explode(SketchFns.simhash_chunks(col("simhash"), maxDistance))
                .as("cc"))
      .select(col("cc.chunk"), col("cc.v").as("bucket"), col("docId"),
              col("simhash"), col("eventTime"))
      .withWatermark("eventTime", watermarkDelay)
      .as[KeyedDoc]
    implicit val eo: Encoder[NearDupHit] = Encoders.product[NearDupHit]
    keyed
      .groupByKey(k => (k.chunk, k.bucket))
      .transformWithState(
        new SimProcessor(maxDistance, ttlMs, maxBucketEntries),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
