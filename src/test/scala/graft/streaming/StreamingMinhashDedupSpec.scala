package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingMinhashDedup.{DocText, JaccardHit}

class StreamingMinhashDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // ~40-word documents: a one-word edit kills ≤3 of 38 shingles, true
  // 3-shingle Jaccard 35/41 ≈ 0.854 — squarely the regime the SimHash
  // twin misses (hamming distance of the simhash is large) and banded
  // MinHash exists for. The 0.7 spec threshold leaves the deterministic
  // 128-hash estimate (0.854 ± ~0.03) comfortable margin on both sides
  // of the unrelated-pair estimate (~0).
  private val base = (0 until 40).map(i => s"tok$i").mkString(" ")
  private val nearDup = (0 until 40)
    .map(i => if (i == 20) "edited" else s"tok$i").mkString(" ")
  private val unrelated = (0 until 40).map(i => s"zzz$i").mkString(" ")


  test("cross-batch near-dup hits in the jaccard regime; TTL purges old docs") {
    val source = MemoryStream[DocText](spark)
    val hits = StreamingMinhashDedup.detect(source.toDS(),
      n = 3, threshold = 0.7, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L)
    val q = hits.writeStream.format("memory")
      .queryName("mh_dedup_out").outputMode("append").start()

    source.addData(DocText(1L, base, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    // near-dup and an unrelated doc arrive in a LATER micro-batch: the
    // match must come from state, not intra-batch comparison
    source.addData(
      DocText(2L, nearDup, ts("2024-03-05 07:01:00")),
      DocText(3L, unrelated, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    // advance the watermark far past every entry's TTL...
    source.addData(DocText(9L,
      (0 until 40).map(i => s"sentinel$i").mkString(" "),
      ts("2024-03-05 11:30:00")))
    q.processAllAvailable()
    // ...then replay the base text verbatim: purge-on-read must have
    // dropped doc 1/2's entries, so no hit despite identical buckets
    source.addData(DocText(5L, base, ts("2024-03-05 11:31:00")))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("mh_dedup_out").as[JaccardHit].collect()
    val pairs = out.map(h => (h.docId, h.matchedId)).toSet
    assert(pairs === Set((2L, 1L)), s"unexpected hit set: $pairs")
    // duplicate-tolerant contract: hits repeat per colliding band but
    // carry the same deterministic estimate
    val ests = out.filter(h => h.docId == 2L).map(_.estJaccard).toSet
    assert(ests.size == 1 && ests.head >= 0.7 && ests.head <= 1.0,
      s"estimate out of range: $ests")
    // the estimate should be NEAR the true jaccard (0.854), not just
    // past the threshold — this is what makes it a verification step
    assert(math.abs(ests.head - 35.0 / 41.0) < 0.12)
  }

  test("bounded state: maxBucketEntries evicts oldest; identical docs estimate 1.0") {
    val source = MemoryStream[DocText](spark)
    val hits = StreamingMinhashDedup.detect(source.toDS(),
      n = 3, threshold = 0.7, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L, maxBucketEntries = 1)
    val q = hits.writeStream.format("memory")
      .queryName("mh_bounded_out").outputMode("append").start()

    source.addData(DocText(1L, base, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    source.addData(DocText(2L, base, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    // with one entry per bucket, doc 3 can only see doc 2 — doc 1 was
    // evicted everywhere, which bounds state at the price of recall
    source.addData(DocText(3L, base, ts("2024-03-05 07:02:00")))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("mh_bounded_out").as[JaccardHit].collect()
    val byDoc = out.groupBy(_.docId).view.mapValues(_.map(_.matchedId).toSet)
    assert(byDoc(2L) === Set(1L))
    assert(byDoc(3L) === Set(2L), "evicted entry still matched")
    assert(out.forall(_.estJaccard == 1.0))
    // state stays bounded: one entry per (band, bucket), 32 bands, one
    // live bucket set → total state rows ≤ bands
    val stateRows = q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
    assert(stateRows.nonEmpty && stateRows.last <= 32,
      s"state rows not bounded: ${stateRows.mkString(",")}")
  }

  test("the 64/16 operating point finds the same pairs as 128/32") {
    // parity at the measured 2x-throughput capacity point
    // (STREAMBENCH.md): same rows-per-band r=4, so the 0.854-Jaccard
    // near-dup and the unrelated doc land on the same sides of the
    // threshold; only the miss probability (5e-8 vs 2e-4) differs,
    // invisible at this scale
    val source = MemoryStream[DocText](spark)
    val hits = StreamingMinhashDedup.detect(source.toDS(),
      n = 3, threshold = 0.7, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L, numHashes = 64, bands = 16)
    val q = hits.writeStream.format("memory")
      .queryName("mh_6416_out").outputMode("append").start()
    source.addData(DocText(1L, base, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    source.addData(
      DocText(2L, nearDup, ts("2024-03-05 07:01:00")),
      DocText(3L, unrelated, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("mh_6416_out").as[JaccardHit].collect()
    val pairs = out.map(h => (h.docId, h.matchedId)).toSet
    assert(pairs === Set((2L, 1L)), s"unexpected hit set at 64/16: $pairs")
    // the 64-hash estimate has se ~0.044 at j=0.854 — still near truth
    val ests = out.filter(_.docId == 2L).map(_.estJaccard).toSet
    assert(ests.size == 1 && math.abs(ests.head - 35.0 / 41.0) < 0.16,
      s"estimate drifted at 64 hashes: $ests")
  }

  test("invalid parameters fail at plan time, not mid-stream") {
    val source = MemoryStream[DocText](spark)
    // maxBucketEntries = 0 would leave empty state and crash the state
    // function on .max at the first processed batch
    intercept[IllegalArgumentException] {
      StreamingMinhashDedup.detect(source.toDS(), maxBucketEntries = 0)
    }
    intercept[IllegalArgumentException] {
      StreamingMinhashDedup.detect(source.toDS(), numHashes = 128, bands = 33)
    }
    val simSource = MemoryStream[graft.streaming.StreamingDedup.DocEvent](spark)
    intercept[IllegalArgumentException] {
      graft.streaming.StreamingDedup.detect(simSource.toDS(), maxBucketEntries = 0)
    }
  }
}
