package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, MapState}
import graft.ext.Similarity
import graft.functions.SketchKernels

/** Streaming semantic (embedding-space) near-duplicate detection — the
  * online twin of [[graft.ext.Similarity.semanticDedup]] (q157), and
  * the fifth member of the streaming dedup family next to
  * [[StreamingDedup]] (SimHash), [[StreamingMinhashDedup]] (banded
  * MinHash), [[StreamingChunkDedup]], and [[StreamingBloomDedup]]:
  * those four catch LEXICAL duplication; this one catches semantic
  * re-tellings whose embeddings stay close while their shingles share
  * nothing.
  *
  * Same cell discipline as the batch operator: vectors are bucketed by
  * the sign-bit coarse cell ([[Similarity.ivfCell]] — the q31/q157
  * quantizer) and compared ONLY within their cell, so per-key state and
  * per-arrival work are bounded by cell occupancy, never corpus size.
  * Unlike the MinHash twin — whose streaming verification is a
  * signature-agreement ESTIMATE — the match score here is the exact
  * same integer-quantized cosine as the batch path (the
  * [[SketchKernels.quantizedCosine]] formula, shared by overload):
  * a hit at threshold t in the stream IS a batch hit at t, cell
  * residency aside.
  *
  * State/bounds (the [[StreamingMinhashDedup]] design): per-cell
  * `MapState[vecId → (vector, lastSeenMs)]` with delta write-back;
  * `maxCellEntries` least-recently-seen eviction (ties to vecId —
  * deterministic); per-entry event-time TTL enforced on read; the
  * event-time TTL ([[EventTimeTtl]]) frees idle cells. Entries cost
  * dim·4 bytes (+16) each — at the default 1024-entry cap and 64 dims,
  * ≤ ~0.3 MB per cell.
  *
  * Emission contract: each arrival reports every ≥-threshold resident
  * elder-or-not as `SemanticHit(vecId, matchedId, cosine)` — the
  * later ARRIVAL is the reporter (the streaming keep-first: residents
  * were there first). A pair both of whose members sit in one batch is
  * reported once, by the (eventTime, vecId)-later member.
  */
object StreamingSemanticDedup {

  final case class VecEvent(vecId: Long, embedding: Array[Float],
                            eventTime: Timestamp)

  final case class KeyedVec(cell: Int, vecId: Long, embedding: Array[Float],
                            eventTime: Timestamp)

  private[streaming] final case class VecEntry(vec: Array[Float], lastMs: Long)

  final case class SemanticHit(vecId: Long, matchedId: Long, cosine: Double,
                               eventTime: Timestamp)

  private final class CellProcessor(threshold: Double, ttlMs: Long,
                                    maxCellEntries: Int)
      extends EventTimeTtl[Int, KeyedVec, SemanticHit](ttlMs) {

    @transient private var entries: MapState[Long, VecEntry] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      entries = getHandle.getMapState[Long, VecEntry]("entries",
        Encoders.scalaLong, Encoders.product[VecEntry], TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[KeyedVec],
                                 timers: TimerValues): Iterator[SemanticHit] = {
      val wm = timers.getCurrentWatermarkInMs()
      // purge-on-read: expired residents must not match even while the
      // cell stays hot enough that its timer has not fired yet
      val live = mutable.LinkedHashMap.empty[Long, VecEntry]
      val removed = mutable.ArrayBuffer.empty[Long]
      val it = entries.iterator()
      while (it.hasNext) {
        val (id, e) = it.next()
        if (e.lastMs + ttlMs > wm) live.update(id, e) else removed += id
      }
      val had = live.nonEmpty || removed.nonEmpty
      val touched = mutable.HashSet.empty[Long]
      val out = Seq.newBuilder[SemanticHit]
      rows.toSeq.sortBy(v => (v.eventTime.getTime, v.vecId)).foreach { v =>
        live.foreach { case (id, e) =>
          if (id != v.vecId) {
            val cos = SketchKernels.quantizedCosine(e.vec, v.embedding)
            if (cos >= threshold)
              out += SemanticHit(v.vecId, id, cos, v.eventTime)
          }
        }
        live.update(v.vecId, VecEntry(v.embedding, v.eventTime.getTime))
        touched += v.vecId
        if (live.size > maxCellEntries) {
          val victim = live.minBy { case (id, e) => (e.lastMs, id) }._1
          live.remove(victim)
          touched.remove(victim)
          removed += victim
        }
      }
      removed.foreach(entries.removeKey)
      touched.foreach(id => entries.updateValue(id, live(id)))
      armIfNew(had, live.valuesIterator.map(_.lastMs).max)
      out.result().iterator
    }

    override protected def expire(cutoffMs: Long): Option[Long] =
      expireEntries(entries, cutoffMs)(_.lastMs)
  }

  /** `vecs` need not be pre-watermarked; the cell assignment is one
    * map-side expression, and the only shuffle is the groupByKey on the
    * cell id.
    */
  def detect(vecs: Dataset[VecEvent], threshold: Double = 0.9,
             bits: Int = 6, watermarkDelay: String = "10 minutes",
             ttlMs: Long = 3600 * 1000L,
             maxCellEntries: Int = 1024): Dataset[SemanticHit] = {
    require(maxCellEntries >= 1, "maxCellEntries must be >= 1")
    val spark = vecs.sparkSession
    import spark.implicits._
    val keyed = vecs.toDF()
      .select(Similarity.ivfCell(col("embedding"), bits).cast("int")
          .as("cell"),
        col("vecId"), col("embedding"), col("eventTime"))
      .withWatermark("eventTime", watermarkDelay)
      .as[KeyedVec]
    implicit val hitEnc: Encoder[SemanticHit] = Encoders.product[SemanticHit]
    keyed
      .groupByKey(_.cell)
      .transformWithState(
        new CellProcessor(threshold, ttlMs, maxCellEntries),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
