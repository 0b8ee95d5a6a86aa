package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingDrift.{DriftScore, MetricValue, Reference}

/** Pins for the streaming PSI monitor: batch parity (running PSI after
  * all batches equals one direct computation over the same values),
  * batch-split invariance, zero drift on the reference's own
  * distribution, directional drift on a shifted one, and the
  * structural state bound.
  */
class StreamingDriftSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ref = Reference(0.0, 100.0,
    Array(10L, 20L, 30L, 20L, 10L, 5L, 3L, 1L, 0L, 1L))

  private def run(batches: Seq[MetricValue]*): Seq[DriftScore] =
    RocksDbTestSupport.withRocksDb(spark) {
    val source = MemoryStream[MetricValue](spark)
    val out = StreamingDrift.monitor(source.toDS(), ref)
    val name = s"drift_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[DriftScore].collect().toSeq
  }

  private def directPsi(vals: Seq[Double]): Long = {
    val live = vals.groupBy(v =>
      StreamingDrift.bucketOf(v, ref.lo, ref.hi, ref.counts.length))
      .view.mapValues(_.size.toLong).toMap
    StreamingDrift.psiNano(ref, live)
  }

  test("running PSI across batches == direct computation on all values") {
    val vals = Seq.tabulate(200)(i => (i * 7 % 100) * 1.01)
    val batches = vals.map(MetricValue("m", _)).grouped(60).toSeq
    val last = run(batches: _*).filter(_.metric == "m").maxBy(_.nObs)
    assert(last.nObs == 200)
    assert(last.psiNano == directPsi(vals))
  }

  test("batch split points cannot change the final score") {
    val vals = Seq.tabulate(120)(i => (i % 97) * 1.03)
    val one = run(Seq(vals.map(MetricValue("m", _)): _*) :: Nil: _*)
      .maxBy(_.nObs)
    val many = run(vals.map(MetricValue("m", _)).grouped(11).toSeq: _*)
      .maxBy(_.nObs)
    assert(one.psiNano == many.psiNano && one.nObs == many.nObs)
  }

  test("sampling the reference distribution itself scores ~zero drift") {
    // draw values matching ref's shape exactly (counts scaled 1:1)
    val vals = ref.counts.zipWithIndex.flatMap { case (c, b) =>
      Seq.fill(c.toInt)((b * 10) + 5.0) // bucket midpoints
    }.toSeq
    val got = run(vals.map(MetricValue("m", _))).maxBy(_.nObs)
    assert(math.abs(got.psiNano) < 1e7,
      s"self-drift should be ~0, got ${got.psiNano} nano") // < 0.01 PSI
  }

  test("a shifted distribution scores materially positive drift") {
    // all mass in the top bucket vs a low-heavy reference
    val vals = Seq.fill(100)(MetricValue("m", 99.0))
    val got = run(vals).maxBy(_.nObs)
    assert(got.psiNano > 250000000L, // PSI > 0.25: the page-someone band
      s"concentrated shift scored only ${got.psiNano} nano")
  }

  test("out-of-range values clamp to edge buckets; keys stay independent") {
    val got = run(Seq(
      MetricValue("lo", -50.0), MetricValue("lo", -1.0),
      MetricValue("hi", 250.0)))
    val lo = got.find(_.metric == "lo").get
    val hi = got.find(_.metric == "hi").get
    assert(lo.nObs == 2 && hi.nObs == 1)
    // clamped mass lands in bucket 0 / bucket 9 — identical to a direct
    // computation with the same clamping
    assert(lo.psiNano == directPsi(Seq(-50.0, -1.0)))
    assert(hi.psiNano == directPsi(Seq(250.0)))
  }
}
