package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingBloomDedup.{Decision, DocKey}

class StreamingBloomDedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)
  private val t0 = "2024-03-05 10:00:00"

  private def run(name: String)(batches: Seq[Seq[DocKey]]): Seq[Decision] = {
    val source = MemoryStream[DocKey](spark)
    val q = StreamingBloomDedup.dedup(source.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(name).as[Decision].collect().toSeq
  }

  test("one-sided error: a re-sent key is NEVER flagged new, across batches") {
    val out = run("bloom_dedup_resend")(Seq(
      Seq(DocKey(1L, "alpha", ts(t0)), DocKey(2L, "beta", ts(t0))),
      Seq(DocKey(3L, "alpha", ts("2024-03-05 11:00:00"))),   // cross-batch dup
      Seq(DocKey(4L, "alpha", ts("2024-03-07 09:00:00")))))  // days later: still caught
    val byDoc = out.map(d => d.docId -> d.definitelyNew).toMap
    assert(byDoc(1L) && byDoc(2L))
    assert(!byDoc(3L) && !byDoc(4L), "re-sent key escaped the filter")
  }

  test("in-batch duplicate: first occurrence new, second caught (deterministic order)") {
    val out = run("bloom_dedup_inbatch")(Seq(Seq(
      DocKey(11L, "same", ts("2024-03-05 10:00:01")),
      DocKey(10L, "same", ts(t0)))))  // earlier eventTime wins "first"
    val byDoc = out.map(d => d.docId -> d.definitelyNew).toMap
    assert(byDoc(10L) && !byDoc(11L))
  }

  test("distinct keys come out overwhelmingly new (FP rate within budget)") {
    val keys = (0 until 2000).map(i => DocKey(i.toLong, s"key-$i", ts(t0)))
    val out = run("bloom_dedup_fp")(Seq(keys))
    val dupFlagged = out.count(!_.definitelyNew)
    // 2000 keys in 16 shards x 65536 bits = ~0.3 bits used per slot; FPs
    // should be essentially zero — allow a generous 1%
    assert(dupFlagged <= 20, s"$dupFlagged of 2000 distinct keys flagged dup")
    assert(out.length == 2000)
  }

  test("rotating variant: recent keys caught, ancient keys forgotten by design") {
    rotatingScenario()
  }

  private def rotatingScenario(): Unit = {
    val source = MemoryStream[DocKey](spark)
    // shardBits=0 -> one shard, rotateAfter=4 -> tiny generations
    val q = StreamingBloomDedup.dedupRotating(source.toDS(),
        shardBits = 0, bitsPerShard = 1 << 10, rotateAfter = 4)
      .writeStream.format("memory").queryName("bloom_rotating")
      .outputMode("append").start()
    // gen fill: a,b,c,d insert (rotation fires at 4), then e,f,g in gen 2
    source.addData(Seq("a", "b", "c", "d").zipWithIndex.map { case (k, i) =>
      DocKey(i.toLong, k, ts(t0)) }: _*)
    q.processAllAvailable()
    source.addData(Seq("e", "f", "g").zipWithIndex.map { case (k, i) =>
      DocKey(10L + i, k, ts("2024-03-05 11:00:00")) }: _*)
    q.processAllAvailable()
    // "a" lives in the PREVIOUS generation -> still caught
    source.addData(DocKey(20L, "a", ts("2024-03-05 12:00:00")))
    q.processAllAvailable()
    // push two more generations past "a": h (rotates at 4 inserts), then i,j,k,l (rotates again)
    source.addData(Seq("h", "i", "j", "k", "l").zipWithIndex.map { case (k, i) =>
      DocKey(30L + i, k, ts("2024-03-05 13:00:00")) }: _*)
    q.processAllAvailable()
    // "a" is now older than both generations -> re-admitted as new
    source.addData(DocKey(40L, "a", ts("2024-03-05 14:00:00")))
    q.processAllAvailable()
    q.stop()
    val byDoc = spark.table("bloom_rotating").as[Decision].collect()
      .map(d => d.docId -> d.definitelyNew).toMap
    assert(byDoc(20L) == false, "previous-generation key escaped")
    assert(byDoc(40L) == true, "ancient key was not forgotten")
    assert((0L to 3L).forall(byDoc(_)) && (10L to 12L).forall(byDoc(_)))
  }

  test("champion pass is lazy: 2M rows stream through O(distinct-new) memory") {
    // the per-shard batch slice is never materialized: feed a 2M-row
    // LAZY iterator of 100 distinct keys and watch (a) consumption stay
    // streaming (max in-flight gap between produced and consumed is 1)
    // and (b) the pending map stay bounded by the distinct-key count —
    // the old formulation's rows.toSeq.sortBy would have buffered all
    // 2M rows in heap before emitting anything
    import scala.collection.mutable
    val n = 2_000_000
    var produced = 0L
    var consumed = 0L
    var maxGap = 0L
    val rows = Iterator.tabulate(n) { i =>
      produced += 1
      StreamingBloomDedup.KeyedDoc(0, (i % 100).toLong, i.toLong,
        ts(t0))
    }
    val pending = mutable.HashMap.empty[Long, StreamingBloomDedup.KeyedDoc]
    val out = StreamingBloomDedup.championPass(rows, _ => false, pending)
    var maxPending = 0
    while (out.hasNext) {
      out.next()
      consumed += 1
      maxGap = math.max(maxGap, produced - consumed)
      maxPending = math.max(maxPending, pending.size)
    }
    // every non-champion occurrence is emitted (champions are withheld
    // for the caller's tail pass)
    assert(consumed == n - 100)
    assert(pending.size == 100)
    assert(maxPending <= 100, s"pending grew past distinct keys: $maxPending")
    // champion stealing buffers at most the withheld champions — the
    // produced-vs-consumed gap must stay O(distinct), not O(rows)
    assert(maxGap <= 101, s"pass buffered rows: gap $maxGap")
  }

  test("soak: heavily duplicated batches are exact and deterministic") {
    // one shard (worst case concentration): 3 batches x 20k rows over
    // 1k distinct keys; decision content must be exact — every key new
    // exactly once (champion = min (eventTime, docId)), all later
    // occurrences caught
    val source = MemoryStream[DocKey](spark)
    val out = {
      val q = StreamingBloomDedup.dedup(source.toDS(), shardBits = 0,
          bitsPerShard = 1 << 17)
        .writeStream.format("memory").queryName("bloom_soak")
        .outputMode("append").start()
      (0 until 3).foreach { b =>
        val rows = (0 until 20000).map { i =>
          val k = (b * 20000 + i) % 3000  // keys 0..2999, heavy repeats
          DocKey((b * 20000 + i).toLong, s"key-$k",
            ts(f"2024-03-05 10:0$b%d:00"))
        }
        source.addData(rows: _*)
        q.processAllAvailable()
      }
      q.stop()
      spark.table("bloom_soak").as[Decision].collect().toSeq
    }
    assert(out.size == 60000)
    val newOnes = out.filter(_.definitelyNew)
    // 3000 distinct keys ever -> exactly 3000 new (zero FPs at this fill)
    assert(newOnes.size == 3000, s"got ${newOnes.size} new")
    // champion determinism: the flagged docId is the MINIMUM docId among
    // the key's occurrences in its first batch (eventTime ties there)
    val champions = newOnes.map(_.docId).toSet
    val expected = (0 until 3000).map(_.toLong).toSet  // batch 0: docId = i for key i%3000... first occurrence of key k is docId k
    assert(champions == expected, "champion attribution not deterministic")
  }

  test("null key / null eventTime rows are dropped, not NPE'd") {
    val out = run("bloom_dedup_nulls")(Seq(Seq(
      DocKey(1L, null, ts(t0)),
      DocKey(2L, "ok", null),
      DocKey(3L, "ok", ts(t0)))))
    assert(out.map(_.docId) == Seq(3L))
  }
}
