package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingHeldAlert.{Eval, Transition}

object StreamingHeldAlertSpec {
  final case class Sample(key: String, t: Timestamp, v: Double)
}

class StreamingHeldAlertSpec extends AnyFunSuite {
  import StreamingHeldAlertSpec.Sample
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  // minute-aligned window starts, 60 s grid
  private def w(m: Int) = ts(f"2024-03-05 07:$m%02d:00")


  private def run(name: String, holdWindows: Int = 3,
                  resolveAfterWindows: Int = 100)
                 (feed: (MemoryStream[Eval],
                         org.apache.spark.sql.streaming.StreamingQuery) => Unit)
      : Seq[Transition] = {
    val source = MemoryStream[Eval](spark)
    val out = StreamingHeldAlert.alerts(source.toDS(), windowSeconds = 60L,
      threshold = 10.0, holdWindows = holdWindows,
      resolveAfterWindows = resolveAfterWindows,
      watermarkDelay = Some("0 seconds"))
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    feed(source, q)
    q.stop()
    spark.table(name).as[Transition].collect().toSeq
      .sortBy(t => (t.key, t.at.getTime, t.phase))
  }

  test("fires after holdWindows consecutive breaches, resolves on clear — across batches") {
    val got = run("held_basic") { (src, q) =>
      src.addData(Eval("a", w(0), 12.0), Eval("a", w(1), 11.0))
      q.processAllAvailable() // 2 breaches < hold: nothing fires
      src.addData(Eval("a", w(2), 13.0)) // completes the hold from state
      q.processAllAvailable()
      src.addData(Eval("a", w(3), 14.0)) // still firing: no new row
      q.processAllAvailable()
      src.addData(Eval("a", w(4), 3.0)) // clears
      q.processAllAvailable()
    }
    assert(got.map(t => (t.phase, t.since, t.at, t.metric)) == Seq(
      ("FIRING", w(0), w(2), 13.0),
      ("RESOLVED", w(0), w(4), 3.0)))
  }

  test("an absent window breaks the run — no data is not evidence of breach") {
    val got = run("held_gap") { (src, q) =>
      // w0,w1 breach; w2 missing; w3..w5 breach — only the second run
      // reaches hold=3, and `since` must be w3, not w0
      src.addData(Eval("a", w(0), 12.0), Eval("a", w(1), 12.0),
        Eval("a", w(3), 12.0), Eval("a", w(4), 12.0), Eval("a", w(5), 12.0))
      q.processAllAvailable()
    }
    assert(got.map(t => (t.phase, t.since, t.at)) ==
      Seq(("FIRING", w(3), w(5))))
  }

  test("a gap while firing resolves at the first missed window") {
    val got = run("held_gap_firing") { (src, q) =>
      src.addData(Eval("a", w(0), 12.0), Eval("a", w(1), 12.0),
        Eval("a", w(2), 12.0))
      q.processAllAvailable() // fires at w2
      // next evaluation jumps to w5: w3 was the first missed window
      src.addData(Eval("a", w(5), 12.0))
      q.processAllAvailable()
    }
    assert(got.map(t => (t.phase, t.since, t.at)) == Seq(
      ("FIRING", w(0), w(2)),
      ("RESOLVED", w(0), w(3))))
    assert(got.filter(_.phase == "RESOLVED").forall(_.metric.isNaN))
  }

  test("stale-series timer resolves a firing alert when the series vanishes") {
    val got = run("held_stale", resolveAfterWindows = 2) { (src, q) =>
      src.addData(Eval("a", w(0), 12.0), Eval("a", w(1), 12.0),
        Eval("a", w(2), 12.0))
      q.processAllAvailable() // fires at w2
      // series "a" vanishes; another key's evaluations push the
      // watermark past w2 + (2+1) windows → the timer must resolve
      src.addData(Eval("zz", w(30), 1.0))
      q.processAllAvailable()
      src.addData(Eval("zz", w(31), 1.0))
      q.processAllAvailable()
    }
    val a = got.filter(_.key == "a")
    assert(a.map(t => (t.phase, t.since, t.at)) == Seq(
      ("FIRING", w(0), w(2)),
      ("RESOLVED", w(0), w(3)))) // first silent window
    assert(a.last.metric.isNaN)
  }

  test("chains after a real windowed aggregate in one query (multi-stateful Append)") {
    // end-to-end: raw samples → watermarked 60 s tumbling avg →
    // held-for — the composition the monitoring layer runs
    val source = MemoryStream[Sample](spark)
    val evals = source.toDS()
      .withWatermark("t", "0 seconds")
      .groupBy(col("key"), window(col("t"), "60 seconds"))
      .agg(avg(col("v")).as("metric"))
      .select(col("key"), col("window.start").as("windowStart"),
              col("metric"))
      .as[Eval]
    val out = StreamingHeldAlert.alerts(evals, windowSeconds = 60L,
      threshold = 10.0, holdWindows = 2, resolveAfterWindows = 100)
    val q = out.writeStream.format("memory")
      .queryName("held_chained").outputMode("append").start()
    // two samples per window; averages 12, 11 breach — but windows only
    // finalize when the watermark passes them, so emit a trailing
    // sentinel window to flush each
    source.addData(Sample("a", ts("2024-03-05 07:00:10"), 14.0),
      Sample("a", ts("2024-03-05 07:00:50"), 10.0))
    q.processAllAvailable()
    source.addData(Sample("a", ts("2024-03-05 07:01:10"), 11.0),
      Sample("a", ts("2024-03-05 07:01:40"), 11.0))
    q.processAllAvailable()
    source.addData(Sample("a", ts("2024-03-05 07:02:30"), 1.0))
    q.processAllAvailable() // finalizes w1 → FIRING (12, 11)
    source.addData(Sample("a", ts("2024-03-05 07:03:30"), 1.0))
    q.processAllAvailable() // finalizes w2 (avg 1) → RESOLVED
    q.stop()
    val got = spark.table("held_chained").as[Transition].collect().toSeq
      .sortBy(_.at.getTime)
    assert(got.map(t => (t.phase, t.since, t.at, t.metric)) == Seq(
      ("FIRING", w(0), w(1), 11.0),
      ("RESOLVED", w(0), w(2), 1.0)))
  }

  test("parity with the batch twin: one FIRING per qualifying island") {
    // deterministic pseudo-random eval sequence over 3 keys x 40
    // windows; the streaming FIRING count must equal the batch
    // gaps-and-islands count on identical data
    val evals = for {
      k <- Seq("a", "b", "c"); i <- 0 until 40
      // xorshift-ish deterministic "randomness"; ~45% breach, with
      // structural gaps every 7th window
      if (i * 2654435761L + k.hashCode).toInt % 7 != 0
    } yield Eval(k, w(i),
      if (((i * 40503 + k.hashCode * 13) & 0xFF) < 116) 12.0 else 2.0)

    val batchIslands = graft.analytics.Monitoring.heldFor(
        evals.toDF().select(col("key"), col("windowStart").as("ts"),
                            col("metric")),
        windowSeconds = 60L, threshold = 10.0, holdWindows = 3)
      .count()

    val source = MemoryStream[Eval](spark)
    val out = StreamingHeldAlert.alerts(source.toDS(), windowSeconds = 60L,
      threshold = 10.0, holdWindows = 3, resolveAfterWindows = 100,
      watermarkDelay = Some("0 seconds"))
    val q = out.writeStream.format("memory")
      .queryName("held_parity").outputMode("append").start()
    // feed in window order, several windows per micro-batch
    evals.sortBy(_.windowStart.getTime).grouped(17).foreach { batch =>
      source.addData(batch: _*)
      q.processAllAvailable()
    }
    q.stop()
    val fired = spark.table("held_parity").as[Transition].collect()
      .count(_.phase == "FIRING")
    assert(batchIslands > 0, "degenerate scenario: no islands")
    assert(fired.toLong == batchIslands,
      s"streaming fired $fired, batch islands $batchIslands")
  }

  test("soak: 1e4 keys fire and resolve exactly once; state is bounded") {
    val n = 10000
    val source = MemoryStream[Eval](spark)
    val out = StreamingHeldAlert.alerts(source.toDS(), windowSeconds = 60L,
      threshold = 10.0, holdWindows = 3, resolveAfterWindows = 100,
      watermarkDelay = Some("0 seconds"))
    val q = out.writeStream.format("memory")
      .queryName("held_soak").outputMode("append").start()
    // three breaching windows for every key (split across two batches,
    // out of key order), then a clearing window for the even keys
    source.addData((0 until n).map(k => Eval(s"k$k", w(0), 12.0)): _*)
    q.processAllAvailable()
    source.addData((0 until n).flatMap(k =>
      Seq(Eval(s"k$k", w(1), 12.0), Eval(s"k$k", w(2), 12.0))): _*)
    q.processAllAvailable()
    source.addData((0 until n by 2).map(k => Eval(s"k$k", w(3), 1.0)): _*)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("held_soak").as[Transition].collect()
    val fired = got.filter(_.phase == "FIRING")
    val resolved = got.filter(_.phase == "RESOLVED")
    assert(fired.length == n, s"fired ${fired.length}")
    assert(fired.forall(t => t.since == w(0) && t.at == w(2)))
    assert(resolved.length == n / 2, s"resolved ${resolved.length}")
    assert(resolved.forall(t => t.at == w(3) && t.key.drop(1).toInt % 2 == 0))
    // state: one fixed-size run record per key, nothing per-window
    val stateRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max <= n.toLong,
      s"state not bounded by keys: ${stateRows.max}")
  }

  test("invalid parameters fail at plan time") {
    val source = MemoryStream[Eval](spark)
    intercept[IllegalArgumentException] {
      StreamingHeldAlert.alerts(source.toDS(), 0L, 1.0, 1)
    }
    intercept[IllegalArgumentException] {
      StreamingHeldAlert.alerts(source.toDS(), 60L, 1.0, 0)
    }
    intercept[IllegalArgumentException] {
      StreamingHeldAlert.alerts(source.toDS(), 60L, 1.0, 1,
        resolveAfterWindows = 0)
    }
  }
}
