package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingQuota.{Admission, FileEvent}

class StreamingQuotaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def run(quota: Long, retainDays: Int, batches: Seq[FileEvent]*)
      : Seq[Admission] = RocksDbTestSupport.withRocksDb(spark) {
    val source = MemoryStream[FileEvent](spark)
    val out = StreamingQuota.enforce(source.toDS(), quota, retainDays)
    val name = s"quota_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[Admission].collect().toSeq
  }

  test("admits until the daily budget is exhausted; denied files charge nothing") {
    val day = "2024-03-05"
    val events = Seq(
      FileEvent("sap", "a.pdf", 40L, ts(s"$day 01:00:00")),
      FileEvent("sap", "b.pdf", 40L, ts(s"$day 02:00:00")),
      FileEvent("sap", "c.pdf", 40L, ts(s"$day 03:00:00")), // over: 80+40>100
      FileEvent("sap", "d.pdf", 20L, ts(s"$day 04:00:00")), // fits: 80+20=100
      FileEvent("crm", "x.pdf", 90L, ts(s"$day 01:30:00"))) // own key budget
    val got = run(100L, 7, events).map(a => a.fileName -> a).toMap
    assert(got("a.pdf").admitted && got("a.pdf").usedBytes == 40L)
    assert(got("b.pdf").admitted && got("b.pdf").usedBytes == 80L)
    assert(!got("c.pdf").admitted && got("c.pdf").usedBytes == 80L,
      "denied file must not consume budget")
    assert(got("d.pdf").admitted && got("d.pdf").usedBytes == 100L,
      "a later smaller file must still fit after a denial")
    assert(got("x.pdf").admitted, "keys must have independent budgets")
    assert(got("a.pdf").day == day)
  }

  test("ledger survives micro-batch boundaries; budget is per event-time day") {
    val b1 = Seq(
      FileEvent("sap", "a.pdf", 60L, ts("2024-03-05 01:00:00")),
      FileEvent("sap", "b.pdf", 60L, ts("2024-03-06 01:00:00")))
    val b2 = Seq(
      FileEvent("sap", "c.pdf", 60L, ts("2024-03-05 02:00:00")), // day full
      FileEvent("sap", "d.pdf", 40L, ts("2024-03-06 02:00:00"))) // fits
    val got = run(100L, 7, b1, b2).map(a => a.fileName -> a).toMap
    assert(got("a.pdf").admitted && got("b.pdf").admitted)
    assert(!got("c.pdf").admitted,
      "day 03-05 spend must persist across the batch boundary")
    assert(got("d.pdf").admitted && got("d.pdf").usedBytes == 100L)
  }

  test("state is structurally bounded: oldest days evicted past retainDays") {
    val days = (1 to 4).map(d => f"2024-03-0$d%d")
    val b1 = days.map(d => FileEvent("sap", s"f$d.pdf", 60L, ts(s"$d 01:00:00")))
    // retainDays=2 keeps {03-03, 03-04}; a replay into evicted 03-01
    // re-opens it with a fresh ledger (the documented retention trade)
    val b2 = Seq(FileEvent("sap", "replay.pdf", 60L, ts("2024-03-01 02:00:00")))
    val got = run(100L, 2, b1, b2).map(a => a.fileName -> a).toMap
    days.foreach(d => assert(got(s"f$d.pdf").admitted))
    assert(got("replay.pdf").admitted && got("replay.pdf").usedBytes == 60L,
      "evicted day re-opens with a fresh ledger, not a stale balance")
  }

  test("within-batch charging order is (eventTime, fileName), not arrival") {
    // two same-size files, only one fits; the EARLIER event time wins
    // regardless of the order addData supplies them
    val events = Seq(
      FileEvent("sap", "late.pdf", 60L, ts("2024-03-05 09:00:00")),
      FileEvent("sap", "early.pdf", 60L, ts("2024-03-05 01:00:00")))
    val got = run(100L, 7, events).map(a => a.fileName -> a).toMap
    assert(got("early.pdf").admitted && !got("late.pdf").admitted)
  }

  test("soak: 1e4 keys x 3 batches; ledger stays exact under RocksDB state") {
    // the TransferTracker-style scale check for the transformWithState
    // path: every key's ledger must be exact after three batches, and
    // per-key retention must hold (3 days < retainDays)
    val n = 10000
    def batch(day: Int): Seq[FileEvent] = (0 until n).map(i =>
      FileEvent(s"sys_$i", s"f$day.pdf", 10L,
        ts(f"2024-03-0$day%d 01:00:00")))
    val got = run(25L, 7, batch(1), batch(2), batch(3))
    assert(got.size == 3 * n)
    assert(got.forall(_.admitted), "every 10-byte file fits a 25-byte day")
    val perKeyDays = got.groupBy(_.sourceSystem).view
      .mapValues(_.map(_.day).toSet.size)
    assert(perKeyDays.forall(_._2 == 3))
    // day budgets are independent: usedBytes per (key, day) is exactly 10
    assert(got.forall(_.usedBytes == 10L))
  }

  test("an adversarially huge sizeBytes cannot overflow the budget check") {
    // pre-fix, before + sizeBytes wrapped negative for sizeBytes near
    // Long.MaxValue, admitting the oversized file AND corrupting the
    // ledger so everything after it was admitted too
    val day = "2024-03-05"
    val events = Seq(
      FileEvent("sap", "a.pdf", 60L, ts(s"$day 01:00:00")),
      FileEvent("sap", "huge.pdf", Long.MaxValue - 10L, ts(s"$day 02:00:00")),
      FileEvent("sap", "b.pdf", 60L, ts(s"$day 03:00:00")))
    val got = run(100L, 7, events).map(a => a.fileName -> a).toMap
    assert(got("a.pdf").admitted && got("a.pdf").usedBytes == 60L)
    assert(!got("huge.pdf").admitted && got("huge.pdf").usedBytes == 60L,
      "overflow must not admit an oversized file")
    assert(!got("b.pdf").admitted && got("b.pdf").usedBytes == 60L,
      "ledger must stay exact after the oversized denial")
  }

  test("invalid parameters fail at plan time") {
    val source = MemoryStream[FileEvent](spark)
    intercept[IllegalArgumentException] {
      StreamingQuota.enforce(source.toDS(), 0L)
    }
    intercept[IllegalArgumentException] {
      StreamingQuota.enforce(source.toDS(), 100L, retainDays = 0)
    }
  }
}
