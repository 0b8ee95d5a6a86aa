package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{StreamBench, TestSpark}

/** In-build sentinel for the streaming census: four entries run a reduced
  * workload end-to-end — drive, checkpoint, state read-back, bound
  * compare. Two must clear an order-of-magnitude throughput floor, set
  * ~10× under the measured local numbers (thousands of rows/sec) so
  * run-to-run noise can't trip it, while a real regression — an
  * accidental per-event job, a state probe turned O(n) — still fails
  * `sbt test`. Two pin a state shape exactly, so a leaked key or an
  * unbounded map fails too. The full table is the `graft.StreamBench`
  * main, which also fails on any violated bound.
  */
class StreamBenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(name: String, perBatch: Int, nBatches: Int) =
    StreamBench.run(spark, StreamBench.entries.find(_.name == name).get,
      perBatch, nBatches)

  test("CdcView sustains order-of-magnitude throughput") {
    val r = run("StreamingCdcView", perBatch = 1000, nBatches = 4)
    assert(r.eventsIn == 4000 && r.outRows > 0 && r.held, s"$r")
    assert(r.rowsPerSec > 200, s"throughput floor violated: $r")
    assert(r.maxBatchMs < 60000, s"pathological batch latency: $r")
  }

  test("Bloom dedup sustains order-of-magnitude throughput") {
    val r = run("StreamingBloomDedup", perBatch = 1000, nBatches = 4)
    assert(r.eventsIn == 4000 && r.outRows > 0 && r.held, s"$r")
    assert(r.rowsPerSec > 200, s"throughput floor violated: $r")
  }

  test("profile state: exactly one record per column") {
    val r = run("StreamingProfile", perBatch = 400, nBatches = 2)
    assert(r.held, s"bound violated: $r")
    assert(r.stateRows == 4, s"expected 4 column records: $r")
  }

  test("drift state: bounded by metrics × histogram buckets") {
    val r = run("StreamingDrift", perBatch = 400, nBatches = 2)
    assert(r.held, s"bound violated: $r")
    assert(r.keys == 3, s"expected 3 metric keys: $r")
  }
}
