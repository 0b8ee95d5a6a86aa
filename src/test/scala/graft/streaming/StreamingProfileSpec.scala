package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingProfile.{ColProfile, ColValue}

/** Pins for the streaming profile monitor: batch parity (the running
  * profile after all batches equals one batch aggregation over the
  * same rows), null accounting, proxy projection, and replay-stable
  * integer sums.
  */
class StreamingProfileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(batches: Seq[ColValue]*): Seq[ColProfile] = {
    val source = MemoryStream[ColValue](spark)
    val out = StreamingProfile.monitor(source.toDS())
    val name = s"prof_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[ColProfile].collect().toSeq
  }

  private def latest(ps: Seq[ColProfile]): Map[String, ColProfile] =
    ps.groupBy(_.colName).view.mapValues(_.maxBy(_.nRows)).toMap

  test("running profile across batches == one batch aggregation") {
    val vals = Seq(
      ColValue("v", Some(10.5)), ColValue("v", Some(-2.25)),
      ColValue("v", None), ColValue("v", Some(7.0)),
      ColValue("s", Some(3.0)), ColValue("s", Some(5.0)))
    val got = latest(run(vals.take(2), vals.slice(2, 4), vals.drop(4)))
    val v = got("v")
    assert(v.nRows == 4 && v.nNonnull == 3)
    assert(v.minV == -2.25 && v.maxV == 10.5)
    // cents: 1050 + (-225) + 700 = 1525
    assert(v.sumCents == 1525L)
    assert(v.completeness == 3.0 / 4)
    val s = got("s")
    assert(s.nRows == 2 && s.sumCents == 800L)
  }

  test("batch split points cannot change the final profile") {
    val vals = Seq.tabulate(50)(i =>
      ColValue("x", if (i % 7 == 0) None else Some(i * 1.01)))
    val a = latest(run(vals))("x")
    val b = latest(run(vals.grouped(7).toSeq: _*))("x")
    assert(a == b, s"one-batch $a vs seven-batch $b")
  }

  test("longForm projects the same proxies as the batch profiler") {
    val df = Seq((1L, Some("ab"), Some(2.5)), (2L, None, None))
      .toDF("id", "s", "v")
    val lf = StreamingProfile.longForm(df, Seq("id", "s", "v"))
      .collect().groupBy(_.colName)
    assert(lf("id").flatMap(_.v).sorted.toSeq == Seq(1.0, 2.0))
    assert(lf("s").map(_.v).toSet == Set(Some(2.0), None)) // length proxy
    assert(lf("v").map(_.v).toSet == Set(Some(2.5), None))
  }

  test("all-null column: completeness 0, sum 0, min/max untouched sentinels") {
    val got = latest(run(Seq(ColValue("n", None), ColValue("n", None))))("n")
    assert(got.nRows == 2 && got.nNonnull == 0 && got.sumCents == 0L)
    assert(got.completeness == 0.0)
    assert(got.minV.isPosInfinity && got.maxV.isNegInfinity)
  }
}
