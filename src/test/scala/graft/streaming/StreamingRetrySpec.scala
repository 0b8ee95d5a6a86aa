package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingRetry.{AttemptResult, Dispatch}

class StreamingRetrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val t0 = ts("2024-03-05 07:00:00")
  private def at(seconds: Int) =
    new Timestamp(t0.getTime + seconds * 1000L)


  test("reference schedule: 5s then 10s backoff across batches, then DEAD") {
    val source = MemoryStream[AttemptResult](spark)
    val out = StreamingRetry.schedule(source.toDS())
    val q = out.writeStream.format("memory")
      .queryName("retry_sched").outputMode("append").start()

    // attempt 1 fails at t0 — nothing dispatches until the clock
    // (watermark) passes t0 + 5 s
    source.addData(AttemptResult("m1", "payload-1", 1, failed = true, t0))
    q.processAllAvailable()
    assert(spark.table("retry_sched").count() == 0)
    // sentinel advances the watermark past the due instant
    source.addData(AttemptResult("zz", "x", 1, failed = false, at(30)))
    q.processAllAvailable()
    val r1 = spark.table("retry_sched").as[Dispatch].collect()
    assert(r1.map(d => (d.kind, d.msgId, d.attempt, d.due)).toSeq ==
      Seq(("RETRY", "m1", 2, at(5))))
    assert(r1.head.payload == "payload-1")

    // attempt 2 fails at t+31 (strictly above the watermark — a result
    // at-or-below it would be dropped as late) — backoff doubles to 10 s
    source.addData(AttemptResult("m1", "payload-1", 2, failed = true, at(31)))
    q.processAllAvailable()
    source.addData(AttemptResult("zz", "x", 1, failed = false, at(60)))
    q.processAllAvailable()
    val r2 = spark.table("retry_sched").as[Dispatch].collect()
      .filter(_.msgId == "m1").sortBy(_.due.getTime)
    assert(r2.map(d => (d.kind, d.attempt, d.due)).toSeq ==
      Seq(("RETRY", 2, at(5)), ("RETRY", 3, at(41))))

    // attempt 3 fails — exhausted, DEAD immediately (no timer)
    source.addData(AttemptResult("m1", "payload-1", 3, failed = true, at(61)))
    q.processAllAvailable()
    q.stop()
    val r3 = spark.table("retry_sched").as[Dispatch].collect()
      .filter(_.msgId == "m1").sortBy(_.due.getTime)
    assert(r3.map(d => (d.kind, d.attempt)).toSeq ==
      Seq(("RETRY", 2), ("RETRY", 3), ("DEAD", 3)))
    assert(r3.last.due == at(61))
  }

  test("backoff is capped; successes and duplicate failures are no-ops") {
    val source = MemoryStream[AttemptResult](spark)
    // initial 40 s, x2 -> 80 s uncapped, cap 60 s
    val out = StreamingRetry.schedule(source.toDS(),
      initialDelayMs = 40000L, capMs = 60000L, maxAttempts = 5)
    val q = out.writeStream.format("memory")
      .queryName("retry_cap").outputMode("append").start()
    source.addData(
      AttemptResult("ok", "p", 1, failed = false, t0), // success: no-op
      AttemptResult("m1", "p", 2, failed = true, t0),
      AttemptResult("m1", "p", 2, failed = true, t0)) // dup: one slot
    q.processAllAvailable()
    source.addData(AttemptResult("zz", "x", 1, failed = false, at(120)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("retry_cap").as[Dispatch].collect()
    // attempt 2's backoff is min(40*2, 60) = 60 s; exactly ONE dispatch
    assert(got.map(d => (d.kind, d.msgId, d.attempt, d.due)).toSeq ==
      Seq(("RETRY", "m1", 3, at(60))))
  }

  test("wall-clock mode: dispatch happens in real elapsed time, no watermark") {
    val source = MemoryStream[AttemptResult](spark)
    val out = StreamingRetry.schedule(source.toDS(),
      initialDelayMs = 2000L, wallClock = true)
    val q = out.writeStream.format("memory")
      .queryName("retry_wall").outputMode("append").start()
    val started = System.currentTimeMillis()
    source.addData(AttemptResult("m1", "p", 1, failed = true, t0))
    // under processing-time timers the engine self-triggers batches to
    // fire due timers, so `processAllAvailable` never quiesces — POLL
    // the sink instead of waiting for a drain that never comes
    val deadline = started + 30000L
    var dispatched = Seq.empty[Dispatch]
    while (dispatched.isEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(200L)
      dispatched = spark.table("retry_wall").as[Dispatch].collect().toSeq
        .filter(_.msgId == "m1")
    }
    val elapsed = System.currentTimeMillis() - started
    q.stop()
    assert(dispatched.map(d => (d.kind, d.attempt)) == Seq(("RETRY", 2)))
    // the backoff is real elapsed time: the event-time base (2024)
    // would have dispatched on the first post-failure trigger
    assert(elapsed >= 2000L, s"dispatched after only ${elapsed}ms")
  }

  test("soak: 1e4 in-flight messages dispatch exactly once, state drains") {
    // per-key state is one Waiting record + one timer; after dispatch
    // both clear, so 1e4 concurrent failures must produce exactly 1e4
    // RETRY rows (no duplicates, no drops) once the watermark passes
    // every due instant
    val n = 10000
    val source = MemoryStream[AttemptResult](spark)
    val out = StreamingRetry.schedule(source.toDS())
    val q = out.writeStream.format("memory")
      .queryName("retry_soak").outputMode("append").start()
    source.addData((0 until n).map(i =>
      AttemptResult(s"m$i", s"p$i", 1, failed = true, t0)): _*)
    q.processAllAvailable()
    assert(spark.table("retry_soak").count() == 0)
    source.addData(AttemptResult("zz", "x", 1, failed = false, at(30)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("retry_soak").as[Dispatch].collect()
      .filter(_.msgId != "zz")
    assert(got.length == n)
    assert(got.forall(d => d.kind == "RETRY" && d.attempt == 2 &&
      d.due == at(5)))
    assert(got.map(_.msgId).toSet.size == n)
    // payloads rode along intact
    assert(got.forall(d => d.payload == s"p${d.msgId.drop(1)}"))
  }

  test("invalid parameters fail at plan time") {
    val source = MemoryStream[AttemptResult](spark)
    intercept[IllegalArgumentException] {
      StreamingRetry.schedule(source.toDS(), initialDelayMs = 0L)
    }
    intercept[IllegalArgumentException] {
      StreamingRetry.schedule(source.toDS(), multiplier = 0.5)
    }
    intercept[IllegalArgumentException] {
      StreamingRetry.schedule(source.toDS(), capMs = 10L)
    }
    intercept[IllegalArgumentException] {
      StreamingRetry.schedule(source.toDS(), maxAttempts = 0)
    }
  }
}
