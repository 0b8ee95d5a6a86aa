package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingRateLimit.{FetchDecision, FetchRequest}

/** [[StreamingRateLimit]] — the online twin of the q244 polite
  * schedule. Integer milli-token arithmetic means every assertion here
  * is EXACT (no float tolerance): burst admission, refill, denial
  * retry instants, cross-batch carry-over, split invariance, and the
  * lossless idle-cleanup invariant.
  */
class StreamingRateLimitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val t0 = ts("2024-03-05 07:00:00").getTime


  private def drive(splits: Seq[Seq[FetchRequest]], name: String)
      : Seq[FetchDecision] = {
    val source = MemoryStream[FetchRequest](spark)
    val out = StreamingRateLimit.limit(source.toDS(),
      ratePerSec = 1L, burst = 2L)
    val q = out.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    splits.foreach { s => source.addData(s); q.processAllAvailable() }
    q.stop()
    spark.table(name).as[FetchDecision].collect().toSeq
      .sortBy(d => (d.eventTime.getTime, d.url))
  }

  private def req(domain: String, url: String, offsetMs: Long) =
    FetchRequest(domain, url, new Timestamp(t0 + offsetMs))

  test("token bucket: burst admits, depletion denies with the exact " +
      "retry instant, refill re-admits, domains are isolated") {
    val reqs = Seq(
      req("a.test", "u0", 0L), // full bucket 2000 → admit, 1000 left
      req("a.test", "u1", 100L), // +100 → 1100 → admit, 100 left
      req("a.test", "u2", 200L), // +100 → 200 → DENY, retry at +1000
      req("a.test", "u3", 1500L), // +1300 → 1500 → admit, 500 left
      req("b.test", "u0", 200L)) // other domain: fresh bucket, admit
    val got = drive(Seq(reqs), "rate_basic")
    val a = got.filter(_.domain == "a.test")
    assert(a.map(_.admitted) == Seq(true, true, false, true))
    assert(a.map(_.milliTokensAfter) == Seq(1000L, 100L, 200L, 500L))
    // denial carries the exact event-time instant a token accrues:
    // clock 200ms, 200 milli held, need 800 more at 1/ms
    assert(a(2).retryAtMs.contains(t0 + 1000L))
    val b = got.filter(_.domain == "b.test")
    assert(b.map(_.admitted) == Seq(true) &&
      b.head.milliTokensAfter == 1000L)
  }

  test("decisions are invariant to micro-batch splits; cross-batch " +
      "state carries; long idle refills to exactly the burst cap") {
    val reqs = Seq(
      req("c.test", "u0", 0L),
      req("c.test", "u1", 0L), // same instant: url order charges u0 first
      req("c.test", "u2", 0L), // bucket empty → deny, retry at +1000
      req("c.test", "u3", 950L), // 950 milli → deny, retry at +1000
      req("c.test", "u4", 3600L * 1000L)) // idle hour: full cap, admit
    val all = drive(Seq(reqs), "rate_one")
    val split = drive(reqs.map(Seq(_)), "rate_split")
    def key(d: FetchDecision) =
      (d.url, d.admitted, d.milliTokensAfter, d.retryAtMs)
    assert(all.map(key) == split.map(key))
    assert(all.map(_.admitted) ==
      Seq(true, true, false, false, true))
    assert(all(2).retryAtMs.contains(t0 + 1000L))
    assert(all(3).retryAtMs.contains(t0 + 1000L))
    // idle refill capped at burst: admit leaves burst-1 tokens
    assert(all(4).milliTokensAfter == 1000L)
  }

  test("a late event refills nothing but still charges; the bucket " +
      "clock never runs backwards") {
    val reqs = Seq(
      req("d.test", "u0", 5000L), // fresh full → admit, 1000 left
      req("d.test", "u1", 4000L)) // LATE: no refill, charge → 0 left
    // one batch: sorted by eventTime, u1 (4000) charges BEFORE u0 —
    // so feed them in separate batches to exercise the late path
    val got = drive(reqs.map(Seq(_)), "rate_late")
    val byUrl = got.map(d => d.url -> d).toMap
    assert(byUrl("u0").admitted && byUrl("u0").milliTokensAfter == 1000L)
    assert(byUrl("u1").admitted && byUrl("u1").milliTokensAfter == 0L)
  }
}
