package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Cdc
import graft.streaming.StreamingCdcView.{CdcOp, ViewChange}

/** Pins for the streaming changelog view: batch parity with
  * [[Cdc.applyLog]] (the q135 operator) on single- and multi-batch
  * deliveries, stale-op immunity, delete/reinsert transitions, and the
  * tombstone-beats-stale-upsert rule.
  */
class StreamingCdcViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def run(batches: Seq[CdcOp]*): Seq[ViewChange] = {
    val source = MemoryStream[CdcOp](spark)
    val out = StreamingCdcView.materialize(source.toDS())
    val name = s"cdc_view_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[ViewChange].collect().toSeq
  }

  /** Last emission per key = the view; compare to Cdc.applyLog of the
    * same ops as a batch DataFrame.
    */
  private def assertBatchParity(ops: Seq[CdcOp],
                                emissions: Seq[ViewChange]): Unit = {
    val view = emissions.groupBy(_.key).view
      .mapValues(_.maxBy(v => (v.ts.getTime, v.opId, v.nOps))).toMap
    val batch = Cdc.applyLog(
      ops.toDF(), Seq("key"), Seq("seqTs", "seqId"), "op", Seq("value"))
      .collect()
      .map(r => r.getAs[Long]("key") ->
        (r.getAs[Timestamp]("seqTs"), r.getAs[Long]("seqId"),
          r.getAs[Double]("value"), r.getAs[Long]("n_ops"))).toMap
    val liveKeys = view.filter(_._2.live).keySet
    assert(liveKeys == batch.keySet,
      s"live keys $liveKeys != batch keys ${batch.keySet}")
    liveKeys.foreach { k =>
      val v = view(k); val (bts, bid, bval, bn) = batch(k)
      assert(v.ts == bts && v.opId == bid && v.value == bval,
        s"key $k: stream $v vs batch ${batch(k)}")
      assert(v.nOps == bn, s"key $k nOps: stream ${v.nOps} vs batch $bn")
    }
  }

  test("single batch: view == Cdc.applyLog, deletes tombstoned") {
    val ops = Seq(
      CdcOp(1L, ts("2024-01-01 00:00:01"), 1L, "u", 10.0),
      CdcOp(1L, ts("2024-01-01 00:00:02"), 2L, "u", 11.0),
      CdcOp(2L, ts("2024-01-01 00:00:01"), 3L, "u", 20.0),
      CdcOp(2L, ts("2024-01-01 00:00:03"), 4L, "d", 0.0),
      CdcOp(3L, ts("2024-01-01 00:00:05"), 5L, "u", 30.0))
    val got = run(ops)
    assertBatchParity(ops, got)
    val k2 = got.filter(_.key == 2L).maxBy(_.nOps)
    assert(!k2.live && k2.nOps == 2L, "deleted key must be a tombstone")
  }

  test("multi-batch delivery converges to the same view as one batch") {
    val b1 = Seq(
      CdcOp(1L, ts("2024-01-01 00:00:01"), 1L, "u", 10.0),
      CdcOp(2L, ts("2024-01-01 00:00:01"), 2L, "u", 20.0))
    val b2 = Seq(
      CdcOp(1L, ts("2024-01-01 00:00:05"), 3L, "u", 15.0),
      CdcOp(2L, ts("2024-01-01 00:00:06"), 4L, "d", 0.0))
    val b3 = Seq(
      CdcOp(2L, ts("2024-01-01 00:00:09"), 5L, "u", 25.0))
    assertBatchParity(b1 ++ b2 ++ b3, run(b1, b2, b3))
  }

  test("stale op after a newer one cannot regress the view (but counts)") {
    val b1 = Seq(CdcOp(1L, ts("2024-01-01 00:10:00"), 9L, "u", 99.0))
    val b2 = Seq(CdcOp(1L, ts("2024-01-01 00:00:00"), 1L, "u", 1.0)) // stale
    val got = run(b1, b2)
    val last = got.maxBy(_.nOps)
    assert(last.value == 99.0 && last.opId == 9L && last.live)
    assert(last.nOps == 2L, "stale ops still count into nOps")
  }

  test("tombstone beats a stale upsert; a newer upsert reinserts") {
    val b1 = Seq(CdcOp(1L, ts("2024-01-01 00:05:00"), 5L, "d", 0.0))
    val b2 = Seq(CdcOp(1L, ts("2024-01-01 00:01:00"), 1L, "u", 7.0)) // stale
    val b3 = Seq(CdcOp(1L, ts("2024-01-01 00:09:00"), 9L, "u", 8.0))
    val got = run(b1, b2, b3).sortBy(_.nOps)
    assert(!got(0).live, "delete lands as tombstone")
    assert(!got(1).live && got(1).opId == 5L,
      "stale upsert must not resurrect a deleted key")
    assert(got(2).live && got(2).value == 8.0, "newer upsert reinserts")
  }

  test("within-batch shuffle order does not matter: ops fold in seq order") {
    // same ops, reversed arrival order in the batch → same emission
    val ops = Seq(
      CdcOp(1L, ts("2024-01-01 00:00:03"), 3L, "d", 0.0),
      CdcOp(1L, ts("2024-01-01 00:00:02"), 2L, "u", 2.0),
      CdcOp(1L, ts("2024-01-01 00:00:01"), 1L, "u", 1.0))
    val got = run(ops)
    val last = got.maxBy(_.nOps)
    assert(!last.live && last.opId == 3L && last.nOps == 3L,
      "the seq-max delete must win regardless of arrival order")
  }

  test("soak: 1e4 keys x 3 batches; every view row exact under RocksDB") {
    val n = 10000
    def batch(gen: Int): Seq[CdcOp] = (0 until n).map(i =>
      CdcOp(i.toLong, new Timestamp(1700000000000L + gen * 60000L), gen.toLong,
        if (gen == 2 && i % 100 == 0) "d" else "u", gen * 1.5 + i))
    val got = run(batch(1), batch(2), batch(3))
    assert(got.size == 3 * n)
    val finalView = got.groupBy(_.key).view.mapValues(_.maxBy(_.nOps)).toMap
    assert(finalView.size == n)
    finalView.foreach { case (k, v) =>
      assert(v.nOps == 3L, s"key $k folded ${v.nOps} ops")
      // gen-3 upsert always wins — including over the gen-2 deletes
      assert(v.live && v.opId == 3L && v.value == 3 * 1.5 + k,
        s"key $k final state $v")
    }
  }

  test("parity on a generated 200-key interleaved log across 4 batches") {
    val rng = new scala.util.Random(42)
    val all = (1 to 1200).map { i =>
      val k = rng.nextInt(200).toLong
      val op = if (rng.nextInt(10) == 0) "d" else "u"
      CdcOp(k, new Timestamp(1700000000000L + i * 1000L), i.toLong, op,
        rng.nextInt(1000) / 10.0)
    }
    val batches = all.grouped(300).toSeq
    assertBatchParity(all, run(batches: _*))
  }
}
