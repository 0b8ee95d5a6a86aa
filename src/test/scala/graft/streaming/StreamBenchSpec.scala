package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{StreamBench, TestSpark}

/** In-build sentinel for the streaming throughput census (the
  * StateAuditSpec discipline applied to STREAMBENCH.md): two operators
  * run a reduced workload end-to-end and must clear an order-of-
  * magnitude floor. The floor is deliberately ~10× under the measured
  * local numbers (thousands of rows/sec) so run-to-run noise can't trip
  * it, while a real regression — an accidental per-event job, a state
  * probe turned O(n) — still fails `sbt test`. The full nine-operator
  * table is the `graft.StreamBench` main.
  */
class StreamBenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("CdcView sustains order-of-magnitude throughput") {
    RocksDbTestSupport.withRocksDb(spark) {
      val b = StreamBench.benchCdcView(spark, perBatch = 1000, nBatches = 4)
      assert(b.eventsIn == 4000 && b.outRows > 0)
      assert(b.rowsPerSec > 200, s"throughput floor violated: $b")
      assert(b.maxBatchMs < 60000, s"pathological batch latency: $b")
    }
  }

  test("Bloom dedup sustains order-of-magnitude throughput") {
    RocksDbTestSupport.withRocksDb(spark) {
      val b = StreamBench.benchBloomDedup(spark, perBatch = 1000,
        nBatches = 4)
      assert(b.eventsIn == 4000 && b.outRows > 0)
      assert(b.rowsPerSec > 200, s"throughput floor violated: $b")
    }
  }
}
