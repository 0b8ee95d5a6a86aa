package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues,
  TTLConfig, ValueState}
import graft.functions.SketchFns

/** Streaming banded-MinHash near-duplicate detection — the online twin
  * of [[graft.ext.Dedup.minhashPairs]], complementing
  * [[StreamingDedup]]: SimHash catches near-IDENTICAL documents (a few
  * flipped bits); banded MinHash catches the Jaccard-0.8 regime the
  * batch dedup pipeline targets, where documents share most — but far
  * from all — of their shingles.
  *
  * Same building blocks as the batch operator (literally the same
  * native kernels — `hashed_shingles` → `minhash_signature` →
  * `band_buckets`): state is keyed by (band, bucket), and each document
  * visits `bands` buckets. Where the batch pipeline verifies candidates
  * with EXACT Jaccard by rejoining the shingle arrays, a stream has no
  * corpus to rejoin — so each bucket entry carries a verification
  * signature and the check is the component-agreement ESTIMATE
  * (standard error √(j(1−j)/numHashes) ≈ 0.035 at j=0.8 with 128
  * hashes). That is the honest streaming trade and it is surfaced, not
  * hidden: hits report `estJaccard`, and a consumer needing exactness
  * re-verifies the (few) hit pairs against stored shingle sets
  * downstream.
  *
  * The verification signature is the LOW BYTE of each minhash component
  * (`sig_bytes` kernel), not the full 64-bit value: agreement counting
  * only needs equality tests, P[bytes agree | components differ] =
  * 1/256 inflates the estimate by ≤ (1−j)/256 ≈ 0.0008 — an order of
  * magnitude under the estimator's own standard error — and the
  * signature every document fans out `bands`× through the shuffle and
  * into `bands` bucket entries shrinks 8× (128 B vs 1 KB). Measured
  * (StreamBench census, 4000×8 batches, RocksDB): with this plus the
  * packed-bucket state and creation-only timers, 940 → 1.79 k
  * rows/s, mean batch 4.3 s → 2.2 s; the remaining cost is linear in
  * `bands` (the LSH candidate-generation contract) with each visit at
  * the 1-get+1-put floor — the full irreducibility analysis is in
  * STREAMBENCH.md.
  *
  * Built on `transformWithState`: a bucket's members live in ONE
  * packed-binary `ValueState` row ([sigLen][n] then n ×
  * [docId][lastMs][sig]). Per-entry MapState granularity was tried
  * first and writes fewer BYTES, but every visit must READ the whole
  * bucket anyway (each arrival compares against all residents), so
  * entry granularity only bought per-entry state-op and encoder
  * overhead on the hottest path — switching to one get + one put per
  * bucket visit took the measured visit cost from ~60 µs to ~25 µs.
  * The value is bounded by construction: maxBucketEntries × (16 +
  * numHashes) bytes (default 256 × 144 ≈ 37 KB worst case; typical
  * occupancy is single-digit). Per-task transient memory is one bucket
  * plus its own batch rows, never a shard of the trigger. State is
  * scoped three ways: `maxBucketEntries` per bucket
  * (least-recently-seen evicted first, ties broken by docId —
  * deterministic), a per-entry TTL enforced on read, and the
  * event-time TTL ([[EventTimeTtl]]) that physically frees idle state.
  * Narrower `bands` cuts
  * memory linearly at the price of recall
  * (P[miss | j] = (1−j^(numHashes/bands))^bands;
  * 1.5e-6 at j=0.8 with 128/32).
  *
  * Capacity-plan operating points (`numHashes`/`bands` are the
  * constructor knobs; both points carry a STREAMBENCH census row and
  * run the same parity scenario in the spec): the DEFAULT 128/32 holds
  * P[miss | j=0.8] ≈ 5e-8 — pick it when a missed near-dup is a
  * contamination risk. The measured 2×-throughput point is 64/16 —
  * the SAME rows-per-band r=4 (so the per-band collision curve is
  * unchanged), but half the bucket visits per document (cost is
  * measured linear in `bands`) and half the signature bytes through
  * shuffle and state — at P[miss | j=0.8] ≈ 2e-4, i.e. one missed
  * 0.8-Jaccard pair in ~5000. Pick it when the stream feeds a
  * downstream exact verifier anyway or the dedup is advisory.
  *
  * Like the batch LSH candidate stream and the SimHash twin, a pair
  * colliding in several bands emits one identical hit per colliding
  * band — consume idempotently on (docId, matchedId), or dedup in a
  * SEPARATE downstream query (never chain a second watermark after
  * this operator: the global watermark is the min over all nodes and a
  * quiet hit stream would freeze this operator's own TTL cleanup).
  */
object StreamingMinhashDedup {

  final case class DocText(docId: Long, text: String, eventTime: Timestamp)

  final case class KeyedSig(band: Int, bucket: Long, docId: Long,
                            sig: Array[Byte], eventTime: Timestamp)

  final case class JaccardHit(docId: Long, matchedId: Long,
                              estJaccard: Double, eventTime: Timestamp)

  /** One decoded resident of a bucket: `off` points at its signature
    * inside the bucket's backing byte array (zero per-entry copies on
    * the compare path).
    */
  private[streaming] final case class Resident(docId: Long, lastMs: Long,
                                    bytes: Array[Byte], off: Int)

  private final class BandProcessor(threshold: Double, ttlMs: Long,
                                    maxBucketEntries: Int)
      extends EventTimeTtl[(Int, Long), KeyedSig, JaccardHit](ttlMs) {

    @transient private var bucket: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      bucket = getHandle.getValueState[Array[Byte]]("bucket",
        Encoders.BINARY, TTLConfig.NONE)

    // Bucket layout: [sigLen:4][n:4] then n × [docId:8][lastMs:8][sig:sigLen].
    private def decode(bytes: Array[Byte], keepAfterMs: Long,
                       live: mutable.ArrayBuffer[Resident]): Unit = {
      if (bytes == null) return
      val bb = java.nio.ByteBuffer.wrap(bytes)
      val sigLen = bb.getInt(0)
      val n = bb.getInt(4)
      val stride = 16 + sigLen
      var i = 0
      while (i < n) {
        val base = 8 + i * stride
        val lastMs = bb.getLong(base + 8)
        if (lastMs > keepAfterMs)
          live += Resident(bb.getLong(base), lastMs, bytes, base + 16)
        i += 1
      }
    }

    private def encode(live: mutable.ArrayBuffer[Resident],
                       sigLen: Int): Array[Byte] = {
      val stride = 16 + sigLen
      val out = new Array[Byte](8 + live.length * stride)
      val bb = java.nio.ByteBuffer.wrap(out)
      bb.putInt(0, sigLen)
      bb.putInt(4, live.length)
      var i = 0
      while (i < live.length) {
        val r = live(i)
        val base = 8 + i * stride
        bb.putLong(base, r.docId)
        bb.putLong(base + 8, r.lastMs)
        System.arraycopy(r.bytes, r.off, out, base + 16,
          math.min(sigLen, r.bytes.length - r.off))
        i += 1
      }
      out
    }

    override def handleInputRows(key: (Int, Long), rows: Iterator[KeyedSig],
                                 timers: TimerValues): Iterator[JaccardHit] = {
      val wm = timers.getCurrentWatermarkInMs()
      // ONE state read loads the whole bucket (bounded by
      // maxBucketEntries); purge-on-read: TTL-expired entries must not
      // match even if the bucket stays hot enough that its timer hasn't
      // fired yet
      val stored = bucket.get()
      val hadState = stored != null
      val live = mutable.ArrayBuffer.empty[Resident]
      decode(stored, wm - ttlMs, live)
      var sigLen = if (hadState)
        java.nio.ByteBuffer.wrap(stored).getInt(0) else 0
      val out = Seq.newBuilder[JaccardHit]
      rows.toSeq.sortBy(d => (d.eventTime.getTime, d.docId)).foreach { d =>
        if (d.sig.length > sigLen) sigLen = d.sig.length
        var j = 0
        while (j < live.length) {
          val r = live(j)
          if (r.docId != d.docId) {
            val k = math.min(d.sig.length, r.bytes.length - r.off)
            var agree = 0
            var i = 0
            while (i < k) {
              if (r.bytes(r.off + i) == d.sig(i)) agree += 1
              i += 1
            }
            val est = if (k == 0) 0d else agree.toDouble / k
            if (est >= threshold)
              out += JaccardHit(d.docId, r.docId, est, d.eventTime)
          }
          j += 1
        }
        // insert (or refresh an identical docId's entry)
        val existing = live.indexWhere(_.docId == d.docId)
        val nr = Resident(d.docId, d.eventTime.getTime, d.sig, 0)
        if (existing >= 0) live(existing) = nr else live += nr
        if (live.length > maxBucketEntries) {
          // deterministic bound: evict the least-recently-seen entry
          var victim = 0
          var v = 1
          while (v < live.length) {
            val a = live(v); val b = live(victim)
            if (a.lastMs < b.lastMs ||
                (a.lastMs == b.lastMs && a.docId < b.docId)) victim = v
            v += 1
          }
          live.remove(victim)
        }
      }
      // ONE state write persists the whole bucket
      bucket.update(encode(live, sigLen))
      armIfNew(hadState, live.iterator.map(_.lastMs).max)
      out.result().iterator
    }

    override protected def expire(cutoffMs: Long): Option[Long] = {
      val stored = bucket.get()
      val live = mutable.ArrayBuffer.empty[Resident]
      decode(stored, cutoffMs, live)
      if (live.isEmpty) bucket.clear()
      else {
        val sigLen = java.nio.ByteBuffer.wrap(stored).getInt(0)
        bucket.update(encode(live, sigLen))
      }
      live.iterator.map(_.lastMs).maxOption
    }
  }

  /** `docs` need not be pre-watermarked; `watermarkDelay` is applied
    * after the signature/band fan-out (all of it map-side native
    * kernels — the only shuffle is the groupByKey on (band, bucket)).
    */
  def detect(docs: Dataset[DocText], n: Int = 3, threshold: Double = 0.8,
             numHashes: Int = 128, bands: Int = 32,
             watermarkDelay: String = "10 minutes",
             ttlMs: Long = 3600 * 1000L,
             maxBucketEntries: Int = 256): Dataset[JaccardHit] = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // 0 would empty the bucket after every insert and crash the timer
    // arming on an empty max — fail at plan time, not mid-stream
    require(maxBucketEntries >= 1, "maxBucketEntries must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = docs.toDF()
      .select(col("docId"), col("eventTime"),
        SketchFns.minhash_signature(
          SketchFns.hashed_shingles(col("text"), n), numHashes).as("fullSig"))
      // banding reads the full 64-bit components; only the compact byte
      // signature crosses the shuffle (8× less per-doc fan-out volume)
      .select(col("docId"), col("eventTime"),
        SketchFns.sig_bytes(col("fullSig")).as("sig"),
        posexplode(SketchFns.band_buckets(col("fullSig"), bands))
          .as(Seq("band", "bucket")))
      .withWatermark("eventTime", watermarkDelay)
      .as[KeyedSig]
    implicit val hitEnc: Encoder[JaccardHit] = Encoders.product[JaccardHit]
    keyed
      .groupByKey(k => (k.band, k.bucket))
      .transformWithState(
        new BandProcessor(threshold, ttlMs, maxBucketEntries),
        TimeMode.EventTime(), OutputMode.Append())
  }
}
