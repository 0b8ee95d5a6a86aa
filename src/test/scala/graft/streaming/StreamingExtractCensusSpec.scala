package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.DocText
import graft.streaming.StreamingExtractCensus.{CensusRow, DocBytes}

/** Pins for the streaming extraction census: the final per-(format,
  * reason) counts equal a direct batch census via the SAME probeOne
  * over the same corpus, batch-split points cannot change them, and
  * the state bound is the (format, reason) pairs seen — never the
  * document count.
  */
class StreamingExtractCensusSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus(n: Int): Seq[DocBytes] = (0 until n).map { i =>
    val b: Array[Byte] = (i % 7) match {
      case 0 | 5 => s"plain text $i".getBytes("UTF-8")
      case 1 => s"<p>html $i</p>".getBytes("UTF-8")
      case 2 => s"{\\rtf1\\ansi doc $i}".getBytes("ISO-8859-1")
      case 3 => "{\\rtf1\\ansi open".getBytes("ISO-8859-1")
      case 4 => "%PDF-1.4\nno eof here".getBytes("ISO-8859-1")
      case _ => Array(0xc0.toByte)
    }
    DocBytes(i.toLong, b)
  }

  private def run(batches: Seq[DocBytes]*): Seq[CensusRow] = {
    val source = MemoryStream[DocBytes](spark)
    val out = StreamingExtractCensus.census(source.toDS())
    val name = s"census_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[CensusRow].collect().toSeq
  }

  /** Latest emission per (format, reason): the current census. */
  private def latest(rows: Seq[CensusRow]): Map[(String, String), CensusRow] =
    rows.groupBy(r => (r.format, r.reason))
      .view.mapValues(_.maxBy(_.format_total)).toMap

  test("final census equals the batch probe census over the same corpus") {
    val docs = corpus(140)
    val got = latest(run(docs.grouped(50).toSeq: _*))
    val want = docs.map(d => DocText.probeOne(d.media_id, d.media))
      .groupBy(p => (p.format, p.reason)).view.mapValues(_.size.toLong)
    assert(got.keySet == want.toMap.keySet)
    want.foreach { case (k, n) => assert(got(k).n == n, s"count at $k") }
    // per-format totals and ok counts agree too
    val byFmt = docs.map(d => DocText.probeOne(d.media_id, d.media))
      .groupBy(_.format)
    got.foreach { case ((f, _), row) =>
      assert(row.format_total == byFmt(f).size.toLong)
      assert(row.format_ok == byFmt(f).count(_.ok).toLong)
    }
  }

  test("batch split points cannot change the final census") {
    val docs = corpus(105)
    val one = latest(run(docs))
    val many = latest(run(docs.grouped(13).toSeq: _*))
    assert(one.keySet == many.keySet)
    one.foreach { case (k, r) =>
      assert(r.n == many(k).n && r.format_total == many(k).format_total)
    }
  }

  test("state rows are (format, reason) pairs, not documents") {
    // 140 documents, but only the fixed pair set in the emissions of
    // the LAST batch — the structural bound the scaladoc claims
    val docs = corpus(140)
    val rows = run(docs)
    val pairs = rows.map(r => (r.format, r.reason)).distinct
    assert(pairs.size <= 7) // txt ok/utf8_malformed, html, rtf ok/
    // structure, pdf_no_eof — never anywhere near 140
    assert(pairs.size >= 5)
  }
}
