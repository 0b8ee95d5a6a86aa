package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingChunkDedup.{ChunkDecision, DocText}

/** [[StreamingCdcChunkDedup]] — the online twin of
  * [[graft.ext.Dedup.cdcChunks]] (q238). The load-bearing claims: the
  * stream claims EXACTLY the batch operator's chunk units (parity is
  * computed from the batch output, not re-derived), decisions are
  * invariant to how the same timeline is split into micro-batches,
  * and the content-defined boundaries make dedup SHIFT-ROBUST — a
  * prefix edit still flags most chunks as duplicates of the original,
  * which the fixed-window twin structurally cannot do.
  */
class StreamingCdcChunkDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)


  /** The batch twin's first-owner expectation for a (docId → (text,
    * eventTime)) corpus: per chunk md5, the owner is the smallest
    * (eventTime, docId, idx); every occurrence's decision follows.
    */
  private def expected(docs: Seq[DocText])
      : Set[(Long, Int, Boolean, Long, Int)] = {
    val chunks = graft.ext.Dedup.cdcChunks(
        docs.toDF("docId", "text", "eventTime"),
        col("docId"), col("text"))
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Int]("chunk_idx"),
        r.getAs[String]("chunk_md5")))
    val time = docs.map(d => d.docId -> d.eventTime.getTime).toMap
    val owner = chunks.groupBy(_._3).map { case (h, occ) =>
      h -> occ.minBy(o => (time(o._1), o._1, o._2))
    }
    chunks.map { case (doc, idx, h) =>
      val w = owner(h)
      (doc, idx, w._1 == doc && w._2 == idx, w._1, w._2)
    }.toSet
  }

  private def drive(docs: Seq[DocText], splits: Seq[Seq[DocText]],
                    name: String): Set[(Long, Int, Boolean, Long, Int)] = {
    val source = MemoryStream[DocText](spark)
    val out = StreamingCdcChunkDedup.dedup(source.toDS())
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    splits.foreach { s => source.addData(s); q.processAllAvailable() }
    q.stop()
    spark.table(name).as[ChunkDecision].collect()
      .map(d => (d.docId, d.idx, d.kept, d.ownerDoc, d.ownerIdx)).toSet
  }

  test("batch/stream parity: decisions equal Dedup.cdcChunks " +
      "first-owner assignment, invariant to micro-batch splits") {
    // deterministic texts with planted full and partial repeats;
    // distinct eventTimes so "first" is unambiguous across batches
    def words(seed: Long, n: Int): String = {
      var s = seed
      (0 until n).map { _ =>
        s = s * 6364136223846793005L + 1442695040888963407L
        "w" + Math.floorMod(s, 60)
      }.mkString(" ")
    }
    val docs = (0 until 12).map { i =>
      val t =
        if (i % 4 == 3) words(i / 4, 30) // full repeat of an earlier doc
        else words(i, 30)
      DocText(i.toLong, t, ts(f"2024-03-05 07:${i}%02d:00"))
    }
    val want = expected(docs)
    assert(want.exists(!_._3), "the corpus must contain duplicates")
    // one batch per doc vs. everything in two batches: same decisions
    val oneByOne = drive(docs, docs.map(Seq(_)), "cdc_parity_a")
    val twoBatches = drive(docs, docs.grouped(6).toSeq, "cdc_parity_b")
    assert(oneByOne == want)
    assert(twoBatches == want)
  }

  test("shift robustness: a later prefixed near-copy re-claims most " +
      "of the original's chunks as duplicates") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      DocText(1L, base, ts("2024-03-05 07:00:00")),
      DocText(2L, "PREFIX " + base, ts("2024-03-05 07:01:00")))
    val got = drive(docs, docs.map(Seq(_)), "cdc_shift")
    val d2 = got.filter(_._1 == 2L)
    val dup = d2.count(d => !d._3 && d._4 == 1L)
    assert(d2.nonEmpty && dup.toDouble / d2.size > 0.6,
      s"CDC stream lost shift robustness: $dup of ${d2.size}")
    // and the whole timeline still matches the batch expectation
    assert(got == expected(docs))
  }
}
