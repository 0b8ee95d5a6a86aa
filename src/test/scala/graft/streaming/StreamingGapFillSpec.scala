package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingGapFill.{Reading, Tick}

class StreamingGapFillSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def run(tickSeconds: Long, maxFillTicks: Int,
                  batches: Seq[Reading]*): Seq[Tick] = {
    val source = MemoryStream[Reading](spark)
    val out = StreamingGapFill.fill(source.toDS(), tickSeconds, maxFillTicks)
    val name = s"gapfill_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
      // one empty-ish trailing batch so timers armed in the final data
      // batch see the advanced watermark
      source.addData(); q.processAllAvailable()
    } finally q.stop()
    spark.table(name).as[Tick].collect().toSeq
  }

  test("quiet key carries last value forward on the tick grid, marked filled") {
    // key a reports at :00 and :05; key b only at :00 — as the watermark
    // (driven by a's :05 event) passes b's missing ticks, b is filled
    // with its last value
    val b1 = Seq(
      Reading("a", ts("2024-03-05 10:00:00"), 1.0),
      Reading("b", ts("2024-03-05 10:00:00"), 7.0))
    val b2 = Seq(Reading("a", ts("2024-03-05 10:00:05"), 2.0))
    val got = run(1L, 60, b1, b2)
    val bTicks = got.filter(_.key == "b").sortBy(_.tickTime.getTime)
    assert(bTicks.head == Tick("b", ts("2024-03-05 10:00:00"), 7.0, false))
    val fills = bTicks.tail
    assert(fills.nonEmpty, s"no fills emitted for the quiet key: $got")
    assert(fills.forall(t => t.filled && t.value == 7.0),
      s"fills must carry the last value: $fills")
    // grid alignment: consecutive ticks, 1s apart, up to the watermark
    assert(fills.map(_.tickTime.getTime) ==
      fills.indices.map(i => ts("2024-03-05 10:00:01").getTime + i * 1000L),
      s"fills not on the aligned grid: $fills")
    assert(fills.last.tickTime.getTime <= ts("2024-03-05 10:00:05").getTime)
  }

  test("a real event revives a key and resets the fill budget") {
    val b1 = Seq(
      Reading("a", ts("2024-03-05 10:00:00"), 1.0),
      Reading("b", ts("2024-03-05 10:00:00"), 5.0))
    val b2 = Seq(Reading("a", ts("2024-03-05 10:00:03"), 1.5))
    val b3 = Seq(
      Reading("b", ts("2024-03-05 10:00:04"), 9.0),
      Reading("a", ts("2024-03-05 10:00:06"), 2.0))
    val got = run(1L, 60, b1, b2, b3)
    val bTicks = got.filter(_.key == "b").sortBy(_.tickTime.getTime)
    // observed at :00 and :04; fills in between carry 5.0, fills after
    // :04 carry 9.0
    val at4 = bTicks.find(_.tickTime == ts("2024-03-05 10:00:04")).get
    assert(!at4.filled && at4.value == 9.0,
      "the revival observation must win over a carry-forward")
    assert(bTicks.filter(t => t.filled &&
      t.tickTime.before(ts("2024-03-05 10:00:04"))).forall(_.value == 5.0))
    assert(bTicks.filter(t => t.filled &&
      t.tickTime.after(ts("2024-03-05 10:00:04"))).forall(_.value == 9.0))
  }

  test("maxFillTicks bounds emissions for a permanently dead key") {
    val b1 = Seq(
      Reading("dead", ts("2024-03-05 10:00:00"), 3.0),
      Reading("live", ts("2024-03-05 10:00:00"), 0.0))
    // watermark driven 30 ticks ahead by the live key
    val b2 = Seq(Reading("live", ts("2024-03-05 10:00:30"), 0.0))
    val got = run(1L, 5, b1, b2)
    val fills = got.filter(t => t.key == "dead" && t.filled)
    assert(fills.size == 5, s"fill budget not enforced: ${fills.size}")
  }

  test("an already-emitted grid point is never re-emitted or contradicted") {
    // 60s grid: an ON-TIME event (10:05:45, above the 10:05:30
    // watermark) aligns to tick 10:05:00 — a grid point already emitted
    // as filled. Append mode cannot retract, so the reading must be
    // dropped and the frontier must not rewind (pre-fix behavior
    // re-emitted 10:05:00 observed AND repeated 10:05:00.. as fills).
    val b1 = Seq(
      Reading("k", ts("2024-03-05 10:00:30"), 1.0),
      Reading("live", ts("2024-03-05 10:00:30"), 0.0))
    val b2 = Seq(Reading("live", ts("2024-03-05 10:05:30"), 0.0))
    val b3 = Seq(
      Reading("k", ts("2024-03-05 10:05:45"), 99.0),
      Reading("live", ts("2024-03-05 10:06:30"), 0.0))
    val got = run(60L, 60, b1, b2, b3)
    val kTicks = got.filter(_.key == "k")
    val perGrid = kTicks.groupBy(_.tickTime)
    assert(perGrid.values.forall(_.size == 1),
      s"duplicate grid points: ${perGrid.filter(_._2.size > 1)}")
    assert(!kTicks.exists(_.value == 99.0),
      "a reading for an already-emitted grid point must be dropped")
    val at6 = kTicks.find(_.tickTime == ts("2024-03-05 10:06:00"))
    assert(at6.exists(t => t.filled && t.value == 1.0),
      s"the grid must continue forward from the frontier: $kTicks")
  }

  test("two readings in one tick window yield one grid row, latest wins") {
    val b1 = Seq(
      Reading("k", ts("2024-03-05 10:00:10"), 1.0),
      Reading("k", ts("2024-03-05 10:00:40"), 2.0))
    val got = run(60L, 60, b1)
    val kTicks = got.filter(_.key == "k")
    assert(kTicks == Seq(Tick("k", ts("2024-03-05 10:00:00"), 2.0, false)),
      s"expected one observed row carrying the latest reading: $kTicks")
  }

  test("invalid parameters fail at plan time") {
    val source = MemoryStream[Reading](spark)
    intercept[IllegalArgumentException] {
      StreamingGapFill.fill(source.toDS(), 0L)
    }
    intercept[IllegalArgumentException] {
      StreamingGapFill.fill(source.toDS(), 1L, maxFillTicks = 0)
    }
  }
}
