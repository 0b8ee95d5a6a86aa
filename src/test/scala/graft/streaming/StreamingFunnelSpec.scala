package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingFunnel.{Event, Reached, Stage}

/** Scenario pins for the streaming deadline funnel: conversion inside
  * the windows, deadline misses, out-of-order arrival healed by the
  * watermark, terminal-state no-re-entry, and same-instant ties — the
  * q151 semantics, emitted online.
  */
class StreamingFunnelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val stages = Seq(
    Stage("view", "view", 0L),
    Stage("click", "click", 3600L * 1000),      // 1 hour after view
    Stage("purchase", "purchase", 24L * 3600 * 1000)) // 24 h after click

  private def run(batches: Seq[Event]*): Seq[Reached] =
    runWithDelay("0 seconds", batches: _*)

  private def runWithDelay(delay: String,
                           batches: Seq[Event]*): Seq[Reached] = {
    val source = MemoryStream[Event](spark)
    val out = StreamingFunnel.track(source.toDS(), stages, delay)
    val name = s"funnel_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
      // trailing batch so the last data batch's timers see the
      // advanced watermark
      source.addData(); q.processAllAvailable()
    } finally q.stop()
    spark.table(name).as[Reached].collect().toSeq
  }

  test("full conversion inside both deadlines emits all three stages") {
    val got = run(
      Seq(Event(1L, "view", ts("2024-03-05 10:00:00")),
          Event(1L, "click", ts("2024-03-05 10:30:00")),
          Event(1L, "purchase", ts("2024-03-05 12:00:00"))),
      // watermark pusher: a later event finalizes everything above
      Seq(Event(9L, "view", ts("2024-03-07 00:00:00"))))
    val u1 = got.filter(_.userId == 1L).sortBy(_.stage)
    assert(u1 == Seq(
      Reached(1L, 1, "view", ts("2024-03-05 10:00:00")),
      Reached(1L, 2, "click", ts("2024-03-05 10:30:00")),
      Reached(1L, 3, "purchase", ts("2024-03-05 12:00:00"))))
  }

  test("a click past the 1-hour deadline never converts; funnel resolves dead") {
    val got = run(
      Seq(Event(1L, "view", ts("2024-03-05 10:00:00")),
          Event(1L, "click", ts("2024-03-05 12:00:00"))),
      Seq(Event(9L, "view", ts("2024-03-07 00:00:00"))),
      // post-resolution activity must not re-enter the funnel
      Seq(Event(1L, "view", ts("2024-03-07 01:00:00")),
          Event(9L, "view", ts("2024-03-09 00:00:00"))))
    assert(got.filter(_.userId == 1L) ==
      Seq(Reached(1L, 1, "view", ts("2024-03-05 10:00:00"))))
  }

  test("out-of-order arrival converges to the event-time fold") {
    // the qualifying view arrives AFTER the click in processing order,
    // but before it in event time; under a lateness allowance that
    // admits it, watermark-finalized draining must still convert both
    // stages with the correct times. The click qualifies against the
    // EARLIEST view (09:50 + 1 h ≥ 10:45); emitting against the later
    // 10:40 view alone would be indistinguishable, so the pinned stage
    // times are the discriminator.
    val got = runWithDelay("2 hours",
      Seq(Event(1L, "click", ts("2024-03-05 10:45:00"))),
      Seq(Event(1L, "view", ts("2024-03-05 09:50:00")),
          Event(1L, "view", ts("2024-03-05 10:40:00"))),
      Seq(Event(9L, "view", ts("2024-03-07 00:00:00"))))
    val u1 = got.filter(_.userId == 1L).sortBy(_.stage)
    assert(u1 == Seq(
      Reached(1L, 1, "view", ts("2024-03-05 09:50:00")),
      Reached(1L, 2, "click", ts("2024-03-05 10:45:00"))))
  }

  test("same-instant view+click still converts (ts >= t_view at equality)") {
    val got = run(
      Seq(Event(1L, "click", ts("2024-03-05 10:00:00")),
          Event(1L, "view", ts("2024-03-05 10:00:00"))),
      Seq(Event(9L, "view", ts("2024-03-07 00:00:00"))))
    val u1 = got.filter(_.userId == 1L).sortBy(_.stage)
    assert(u1 == Seq(
      Reached(1L, 1, "view", ts("2024-03-05 10:00:00")),
      Reached(1L, 2, "click", ts("2024-03-05 10:00:00"))))
  }

  test("non-matching-only users leave no emission and re-offer cleanly") {
    val got = run(
      Seq(Event(1L, "click", ts("2024-03-05 10:00:00")),
          Event(1L, "purchase", ts("2024-03-05 10:05:00"))),
      Seq(Event(9L, "view", ts("2024-03-07 00:00:00"))))
    assert(got.filter(_.userId == 1L).isEmpty)
  }

  test("batch parity: streaming stage rows equal the q151 fold per user") {
    // mixed cohort: u1 converts fully, u2 misses the click deadline,
    // u3 clicks in time but purchases too late (24 h + 1 s)
    val evs = Seq(
      Event(1L, "view", ts("2024-03-05 10:00:00")),
      Event(1L, "click", ts("2024-03-05 10:59:59")),
      Event(1L, "purchase", ts("2024-03-06 10:59:58")),
      Event(2L, "view", ts("2024-03-05 08:00:00")),
      Event(2L, "click", ts("2024-03-05 09:00:01")),
      Event(3L, "view", ts("2024-03-05 07:00:00")),
      Event(3L, "click", ts("2024-03-05 07:30:00")),
      Event(3L, "purchase", ts("2024-03-06 07:30:01")))
    val got = run(evs, Seq(Event(9L, "view", ts("2024-03-09 00:00:00"))))
    val byUser = got.filterNot(_.userId == 9L)
      .groupBy(_.userId).view.mapValues(_.map(_.stage).sorted).toMap
    assert(byUser == Map(1L -> Seq(1, 2, 3), 2L -> Seq(1), 3L -> Seq(1, 2)))
  }

  test("1e4-user soak: exactly one row per (user, stage), every funnel resolves") {
    val base = ts("2024-03-05 00:00:00").getTime
    val evs = (0L until 10000L).flatMap { u =>
      Seq(Event(u, "view", new Timestamp(base + u)),
          Event(u, "click", new Timestamp(base + u + 60000L)),
          Event(u, "purchase", new Timestamp(base + u + 120000L)))
    }
    val got = run(evs, Seq(Event(-1L, "view", ts("2024-03-09 00:00:00"))))
    val real = got.filterNot(_.userId == -1L)
    assert(real.size == 30000, s"expected 30000 rows, got ${real.size}")
    assert(real.map(r => (r.userId, r.stage)).distinct.size == 30000)
  }
}
