package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, ValueState}

/** Streaming chunk-level exact dedup — the online twin of
  * [[graft.ext.Dedup.chunkDedup]]: each arriving document's fixed
  * word-chunks are claimed against a corpus-wide first-owner registry,
  * so a chunk already seen (in any earlier micro-batch, any document)
  * is flagged as a duplicate of its original owner. The chunking is
  * literally the batch operator's expression
  * ([[graft.ext.Dedup.chunksOf]]), so batch and stream dedup the SAME
  * units.
  *
  * State is keyed by the chunk STRING (exactness contract, matching the
  * batch operator; the value is a fixed ~24-byte owner record, the key
  * lives in the state store's own hashtable). The first-owner decision
  * within a micro-batch is ordered by (eventTime, docId, idx) — the
  * same deterministic, replay-stable "first" as the batch window; a
  * chunk's per-batch occurrence list is the only thing ever buffered,
  * so per-task memory is bounded by the hottest single chunk, not by a
  * shard of the trigger. The TTL is a DEDUP WINDOW: an owner entry's
  * clock refreshes every time its chunk is seen again (hot boilerplate
  * stays deduplicated indefinitely), and idle chunks age out so state
  * is bounded by the distinct-chunk traffic of one TTL window, not by
  * stream lifetime ([[EventTimeTtl]]; purge-on-read guards the data
  * path, so a hot chunk can never resurrect an aged-out owner).
  *
  * Emits one decision per chunk occurrence; reassembling retained text
  * (the batch operator's digest step) is a stateless downstream
  * `groupBy(docId)` — kept out of this query on purpose (a second
  * stateful/watermark node in the same query would gate this
  * operator's timeouts on downstream progress).
  */
object StreamingChunkDedup {

  final case class DocText(docId: Long, text: String, eventTime: Timestamp)

  final case class ChunkOccurrence(chunk: String, docId: Long, idx: Int,
                                   eventTime: Timestamp)

  final case class ChunkOwner(docId: Long, idx: Int, lastMs: Long)

  final case class ChunkDecision(docId: Long, idx: Int, kept: Boolean,
                                 ownerDoc: Long, ownerIdx: Int,
                                 eventTime: Timestamp)

  private final class ChunkProcessor(ttlMs: Long)
      extends EventTimeTtl[String, ChunkOccurrence, ChunkDecision](ttlMs) {

    @transient private var owner: ValueState[ChunkOwner] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      owner = getHandle.getValueState[ChunkOwner]("owner",
        Encoders.product[ChunkOwner], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[ChunkOccurrence],
                                 timers: TimerValues)
        : Iterator[ChunkDecision] = {
      val wm = timers.getCurrentWatermarkInMs()
      // purge-on-read: an owner past its dedup window must not claim
      // chunks that arrive after it should have aged out
      val had = owner.exists()
      var cur: Option[ChunkOwner] =
        if (had) Some(owner.get()).filter(_.lastMs + ttlMs > wm) else None
      val sorted = rows.toSeq
        .sortBy(o => (o.eventTime.getTime, o.docId, o.idx))
      val out = sorted.map { o =>
        cur match {
          case Some(w) =>
            // keep-alive: every sighting refreshes the window
            cur = Some(w.copy(lastMs = math.max(w.lastMs, o.eventTime.getTime)))
            val self = w.docId == o.docId && w.idx == o.idx
            ChunkDecision(o.docId, o.idx, kept = self,
              ownerDoc = w.docId, ownerIdx = w.idx, o.eventTime)
          case None =>
            cur = Some(ChunkOwner(o.docId, o.idx, o.eventTime.getTime))
            ChunkDecision(o.docId, o.idx, kept = true,
              ownerDoc = o.docId, ownerIdx = o.idx, o.eventTime)
        }
      }
      val w = cur.get // sorted is non-empty, so the owner is set
      owner.update(w)
      armIfNew(had, w.lastMs)
      out.iterator
    }

    override protected def expire(cutoffMs: Long): Option[Long] =
      expireValue(owner, cutoffMs)(_.lastMs)
  }

  def dedup(docs: Dataset[DocText], chunkWords: Int = 8,
            watermarkDelay: String = "10 minutes",
            ttlMs: Long = 3600 * 1000L): Dataset[ChunkDecision] =
    dedupBy(docs, graft.ext.Dedup.chunksOf(col("text"), chunkWords),
      watermarkDelay, ttlMs)

  /** The registry/TTL machinery over any chunking EXPRESSION — shared
    * with [[StreamingCdcChunkDedup]] so both twins claim chunks
    * through the identical owner state and TTL.
    */
  private[streaming] def dedupBy(docs: Dataset[DocText],
                                 chunkArray: org.apache.spark.sql.Column,
                                 watermarkDelay: String,
                                 ttlMs: Long): Dataset[ChunkDecision] = {
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.toDF()
      // plan-edge guard (mirrors StreamingHeavyHitters): a null eventTime
      // is NOT reliably dropped by the watermark before reaching the state
      // function, and would NPE the in-batch (eventTime, docId, idx) sort;
      // null text has no chunks to claim.
      .filter(col("eventTime").isNotNull && col("text").isNotNull)
      .select(col("docId"), col("eventTime"),
        posexplode(chunkArray).as(Seq("idx", "chunk")))
      .select(col("chunk"), col("docId"), col("idx"), col("eventTime"))
      .withWatermark("eventTime", watermarkDelay)
      .as[ChunkOccurrence]
    implicit val eo: Encoder[ChunkDecision] = Encoders.product[ChunkDecision]
    keyed
      .groupByKey(_.chunk)
      .transformWithState(new ChunkProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Append())
  }
}

/** Streaming CONTENT-DEFINED chunk dedup — the online twin of
  * [[graft.ext.Dedup.cdcChunks]] (q238) and the sixth dedup family
  * member to get one (VERDICT r16 item 6): chunk boundaries fall
  * where the trailing w-gram's md5 lands in the 1/16 band, so the
  * units are SHIFT-ROBUST — a prefix edit upstream of the stream
  * reproduces most chunk claims, where the fixed-window twin
  * ([[StreamingChunkDedup]]) would re-claim everything. The chunk
  * expression is literally the batch operator's
  * ([[graft.ext.Dedup.cdcChunkArray]]), so batch and stream dedup
  * the SAME units; the owner registry, deterministic in-batch
  * ordering and event-time TTL window are the shared
  * [[StreamingChunkDedup.dedupBy]] machinery. State is keyed
  * by the chunk string; per-key state is one ~24-byte owner record,
  * bounded by the distinct-chunk traffic of one TTL window.
  */
object StreamingCdcChunkDedup {

  def dedup(docs: Dataset[StreamingChunkDedup.DocText], w: Int = 16,
            watermarkDelay: String = "10 minutes",
            ttlMs: Long = 3600 * 1000L)
      : Dataset[StreamingChunkDedup.ChunkDecision] =
    StreamingChunkDedup.dedupBy(docs,
      graft.ext.Dedup.cdcChunkArray(col("text"), w), watermarkDelay,
      ttlMs)
}
