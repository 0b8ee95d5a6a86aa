package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.functions.SketchKernels
import graft.streaming.StreamingSemanticDedup.{SemanticHit, VecEvent}

class StreamingSemanticDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // 8-dim fixtures; the 6-bit cell reads the SIGNS of dims 1..6, so all
  // positive-prefix vectors share a cell and the sign-flipped one is
  // guaranteed elsewhere
  private val a = Array(1f, 1f, 1f, 1f, 1f, 1f, 0.5f, 0.5f)
  private val nearA = Array(1f, 1f, 1f, 1f, 1f, 1f, 0.5f, 0.45f)
  private val farSameCell = Array(1f, 1f, 1f, 1f, 1f, 1f, -5f, 5f)
  private val otherCell = Array(-1f, 1f, 1f, 1f, 1f, 1f, 0.5f, 0.5f)


  test("cross-batch semantic hit with the EXACT batch cosine; cells isolate") {
    val source = MemoryStream[VecEvent](spark)
    val hits = StreamingSemanticDedup.detect(source.toDS(),
      threshold = 0.9, bits = 6, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L)
    val q = hits.writeStream.format("memory")
      .queryName("sem_dedup_out").outputMode("append").start()

    source.addData(VecEvent(1L, a, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    // the near-dup arrives in a LATER batch (match must come from
    // state); the far same-cell and other-cell vectors must not match
    source.addData(
      VecEvent(2L, nearA, ts("2024-03-05 07:01:00")),
      VecEvent(3L, farSameCell, ts("2024-03-05 07:01:00")),
      VecEvent(4L, otherCell, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("sem_dedup_out").as[SemanticHit].collect()
    assert(out.map(h => (h.vecId, h.matchedId)).toSet === Set((2L, 1L)))
    // no estimate caveat here: the streamed score IS the batch formula
    assert(out.head.cosine === SketchKernels.quantizedCosine(a, nearA))
    assert(out.head.cosine > 0.99)
  }

  test("single-batch hit set equals the batch cell-local pair set (real corpus)") {
    val sf = "/root/testdata/sf0.001"
    val rows = spark.read.parquet(s"$sf/embeddings.parquet")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val t0 = ts("2024-03-05 07:00:00")

    val source = MemoryStream[VecEvent](spark)
    val hits = StreamingSemanticDedup.detect(source.toDS(),
      threshold = 0.4, bits = 4, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L)
    val q = hits.writeStream.format("memory")
      .queryName("sem_parity_out").outputMode("append").start()
    source.addData(rows.map { case (id, v) => VecEvent(id, v, t0) }: _*)
    q.processAllAvailable()
    q.stop()

    // ground truth: the batch operator's cell-local ≥-threshold pairs
    // ((q157 at this threshold); equal event times ⇒ the stream
    // processes in vecId order, so the LARGER id is the reporter
    def cell(v: Array[Float]): Int =
      (0 until 4).map(j => if (v(j) >= 0) 1 << j else 0).sum
    val expected = (for {
      (ia, va) <- rows; (ib, vb) <- rows
      if ia < ib && cell(va) == cell(vb)
      if SketchKernels.quantizedCosine(va, vb) >= 0.4
    } yield (ib, ia)).toSet
    val got = spark.table("sem_parity_out").as[SemanticHit].collect()
      .map(h => (h.vecId, h.matchedId)).toSet
    assert(expected.nonEmpty, "fixture produced no true pairs")
    assert(got === expected,
      s"missed=${(expected -- got).size} extra=${(got -- expected).size}")
  }

  test("event-time TTL purges residents; bounded cells evict oldest first") {
    val source = MemoryStream[VecEvent](spark)
    val hits = StreamingSemanticDedup.detect(source.toDS(),
      threshold = 0.9, bits = 6, watermarkDelay = "10 minutes",
      ttlMs = 3600 * 1000L, maxCellEntries = 1)
    val q = hits.writeStream.format("memory")
      .queryName("sem_ttl_out").outputMode("append").start()

    source.addData(VecEvent(1L, a, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    // cap 1: arriving near-dup matches resident 1, then evicts it
    // (LRU; vec 2 is the newer entry)
    source.addData(VecEvent(2L, nearA, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    // advance the watermark past TTL, then replay vector `a`: the cell
    // must be empty (TTL purge), so no hit at all
    source.addData(VecEvent(8L, otherCell, ts("2024-03-05 11:30:00")))
    q.processAllAvailable()
    source.addData(VecEvent(9L, a, ts("2024-03-05 11:31:00")))
    q.processAllAvailable()
    q.stop()

    val pairs = spark.table("sem_ttl_out").as[SemanticHit].collect()
      .map(h => (h.vecId, h.matchedId)).toSet
    assert(pairs === Set((2L, 1L)), s"unexpected hit set: $pairs")
  }
}
