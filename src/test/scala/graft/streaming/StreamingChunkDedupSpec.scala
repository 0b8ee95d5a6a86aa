package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingChunkDedup.{ChunkDecision, DocText}

class StreamingChunkDedupSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def chunk(tag: String): String =
    (0 until 8).map(i => s"$tag$i").mkString(" ")


  test("cross-batch first-owner claims; duplicates flag the original; TTL reopens") {
    val a = chunk("a"); val b = chunk("b"); val c = chunk("c")
    val source = MemoryStream[DocText](spark)
    val out = StreamingChunkDedup.dedup(source.toDS(), chunkWords = 8,
      watermarkDelay = "10 minutes", ttlMs = 3600 * 1000L)
    val q = out.writeStream.format("memory")
      .queryName("chunk_dedup_out").outputMode("append").start()

    source.addData(DocText(1L, s"$a $b", ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    // later micro-batch: doc 2 repeats chunk a (owned by doc 1) and
    // introduces c; the claim must come from state, not intra-batch order
    source.addData(DocText(2L, s"$a $c", ts("2024-03-05 07:01:00")))
    q.processAllAvailable()

    val rows = spark.table("chunk_dedup_out").as[ChunkDecision].collect()
    val d1 = rows.filter(_.docId == 1L)
    assert(d1.length == 2 && d1.forall(_.kept))
    val d2 = rows.filter(_.docId == 2L).sortBy(_.idx)
    assert(!d2(0).kept && d2(0).ownerDoc == 1L && d2(0).ownerIdx == 0)
    assert(d2(1).kept && d2(1).ownerDoc == 2L)

    // advance the watermark far past the TTL, then replay chunk a:
    // the aged-out owner must not claim it — doc 5 becomes the new owner
    source.addData(DocText(9L, chunk("sentinel"), ts("2024-03-05 11:30:00")))
    q.processAllAvailable()
    source.addData(DocText(5L, a, ts("2024-03-05 11:31:00")))
    q.processAllAvailable()
    q.stop()

    val late = spark.table("chunk_dedup_out").as[ChunkDecision].collect()
      .filter(_.docId == 5L)
    assert(late.length == 1 && late.head.kept && late.head.ownerDoc == 5L)
  }

  test("within-batch ties: smallest (eventTime, docId, idx) wins deterministically") {
    val x = chunk("x")
    val source = MemoryStream[DocText](spark)
    val out = StreamingChunkDedup.dedup(source.toDS(), chunkWords = 8)
    val q = out.writeStream.format("memory")
      .queryName("chunk_dedup_tie").outputMode("append").start()
    // same batch, same event time: doc 7 and doc 3 share the chunk —
    // doc 3 must own it regardless of arrival order in the batch
    source.addData(
      DocText(7L, x, ts("2024-03-05 08:00:00")),
      DocText(3L, x, ts("2024-03-05 08:00:00")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunk_dedup_tie").as[ChunkDecision].collect()
    assert(rows.length == 2)
    assert(rows.filter(_.docId == 3L).head.kept)
    val loser = rows.filter(_.docId == 7L).head
    assert(!loser.kept && loser.ownerDoc == 3L)
  }

  test("null eventTime / null text rows are dropped at the plan edge, not NPE'd") {
    val v = chunk("v")
    val source = MemoryStream[DocText](spark)
    val out = StreamingChunkDedup.dedup(source.toDS())
    val q = out.writeStream.format("memory")
      .queryName("chunk_dedup_nulls").outputMode("append").start()
    // null eventTime reaches the state function unfiltered by the
    // watermark; without the plan-edge guard the in-batch sort NPEs
    source.addData(
      DocText(1L, v, null),
      DocText(2L, null, ts("2024-03-05 10:00:00")),
      DocText(3L, v, ts("2024-03-05 10:00:01")))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("chunk_dedup_nulls").as[ChunkDecision].collect()
    assert(rows.map(_.docId).toSet == Set(3L))
    assert(rows.forall(_.kept))
  }

  test("state survives a query restart from checkpoint (fault tolerance)") {
    // the property checkpointing exists for: an owner claimed BEFORE the
    // crash still wins against a duplicate arriving AFTER the restart
    val base = tempDir("chunk-dedup-restart")
    val in = s"$base/in"; val chk = s"$base/chk"
    val v = chunk("v")
    val got = new java.util.concurrent.ConcurrentLinkedQueue[ChunkDecision]()
    def writeBatch(docs: Seq[DocText]): Unit =
      docs.toDF().coalesce(1).write.mode("append").parquet(in)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[DocText].toDF().schema).parquet(in).as[DocText]
      val q = StreamingChunkDedup.dedup(stream)
        .writeStream.option("checkpointLocation", chk)
        .outputMode("append")
        .foreachBatch { (df: org.apache.spark.sql.Dataset[ChunkDecision], _: Long) =>
          df.collect().foreach(got.add)
        }
        .start()
      q.processAllAvailable()
      q.stop()
    }
    writeBatch(Seq(DocText(1L, v, ts("2024-03-05 10:00:00"))))
    runOnce() // doc 1 claims the chunk, query shuts down
    writeBatch(Seq(DocText(2L, v, ts("2024-03-05 10:05:00"))))
    runOnce() // fresh query instance, same checkpoint -> state restored
    val decisions = got.toArray(Array.empty[ChunkDecision])
      .map(d => d.docId -> d).toMap
    assert(decisions(1L).kept)
    assert(!decisions(2L).kept && decisions(2L).ownerDoc == 1L,
      s"pre-restart owner lost: ${decisions(2L)}")
  }

  test("matches the batch operator's keep-first on a replayed corpus") {
    val a = chunk("a"); val b = chunk("b"); val c = chunk("c")
    val corpus = Seq(
      (1L, s"$a $b"), (2L, s"$a $c"), (3L, s"$b $c"))
    // batch ground truth: per-chunk first owner by (doc_id, idx)
    val batch = graft.ext.Dedup.chunkDedup(
        corpus.toDF("doc_id", "text"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"), 8)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val source = MemoryStream[DocText](spark)
    val out = StreamingChunkDedup.dedup(source.toDS(), chunkWords = 8)
    val q = out.writeStream.format("memory")
      .queryName("chunk_dedup_parity").outputMode("append").start()
    corpus.foreach { case (id, text) =>
      source.addData(DocText(id, text, ts(s"2024-03-05 09:00:0$id")))
      q.processAllAvailable() // one doc per micro-batch, in doc-id order
    }
    q.stop()
    val streamKept = spark.table("chunk_dedup_parity").as[ChunkDecision]
      .collect().groupBy(_.docId).view.mapValues(_.count(_.kept).toLong).toMap
    assert(streamKept == batch,
      s"stream kept-counts $streamKept != batch $batch")
  }
}
