package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import graft.{StateAudit, TestSpark}

/** In-build sentinel for the streaming state census: two cheap audits
  * (fixed-size ValueState, bounded MapState histogram) run end-to-end —
  * workload → checkpoint → state data source read-back → bound compare —
  * so a state-shape regression (a leaked key, an unbounded map) fails
  * `sbt test`. The full six-operator table is `graft.StateAudit` main
  * (STATE.md), which also fails on any violated bound.
  */
class StateAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("profile state: exactly one record per column") {
    RocksDbTestSupport.withRocksDb(spark) {
      val a = StateAudit.auditProfile(spark)
      assert(a.held, s"bound violated: $a")
      assert(a.stateRows == 4, s"expected 4 column records: $a")
    }
  }

  test("drift state: bounded by metrics × histogram buckets") {
    RocksDbTestSupport.withRocksDb(spark) {
      val a = StateAudit.auditDrift(spark)
      assert(a.held, s"bound violated: $a")
      assert(a.groupingKeys == 3, s"expected 3 metric keys: $a")
    }
  }
}
