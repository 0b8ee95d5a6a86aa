package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingCusum.{CusumPoint, DayPoint}

/** Pins for the online CUSUM detector: row-for-row parity with the
  * batch [[graft.ext.Stats.cusumFixed]] on the same day-ordered
  * series regardless of micro-batch split points, alarm timing on a
  * planted shift, late-point dropping, and per-key isolation.
  */
class StreamingCusumSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val MU = 200L; private val SLACK = 20L; private val THRESH = 600L

  private def run(batches: Seq[DayPoint]*): Seq[CusumPoint] =
    RocksDbTestSupport.withRocksDb(spark) {
    val source = MemoryStream[DayPoint](spark)
    val out = StreamingCusum.detect(source.toDS(), MU, SLACK, THRESH)
    val name = s"cusum_out_${System.nanoTime()}"
    val q = out.writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.table(name).as[CusumPoint].collect().toSeq
  }

  private def batchTwin(points: Seq[DayPoint]): Seq[CusumPoint] = {
    graft.ext.Stats.cusumFixed(points.toDF("key", "dayIdx", "cents"),
        col("key"), col("dayIdx"), col("cents"), MU, SLACK, THRESH)
      .orderBy(col("key"), col("day")).collect().toSeq
      .map(r => CusumPoint(r.getAs[String]("key"), r.getAs[Long]("day"),
        r.getAs[Long]("x_cents"), r.getAs[Double]("s_pos").toLong,
        r.getAs[Double]("s_neg").toLong, r.getAs[Boolean]("alarm_up"),
        r.getAs[Boolean]("alarm_down")))
  }

  private val series: Seq[DayPoint] = {
    // stationary around the pinned mean, then a +150 shift from day 20
    val rng = Seq(7L, -12L, 3L, 15L, -9L, 0L, 11L, -5L, 8L, -14L)
    Seq.tabulate(30) { d =>
      val noise = rng(d % rng.size)
      val level = if (d < 20) 200L else 350L
      DayPoint("revenue", d.toLong, level + noise)
    }
  }

  test("stream emissions == batch cusumFixed rows, any batch split") {
    val expected = batchTwin(series)
    val oneBatch = run(series).sortBy(p => (p.key, p.dayIdx))
    val manyBatches = run(series.grouped(7).toSeq: _*)
      .sortBy(p => (p.key, p.dayIdx))
    assert(oneBatch == expected)
    assert(manyBatches == expected)
  }

  test("planted shift alarms up after the changepoint, never before") {
    val out = run(series).sortBy(_.dayIdx)
    val firstAlarm = out.indexWhere(_.alarmUp)
    assert(firstAlarm >= 20, s"alarm at day $firstAlarm precedes the shift")
    assert(firstAlarm > 0 && firstAlarm <= 25,
      s"a +150 shift over slack 20 must alarm within days, got $firstAlarm")
    assert(out.last.alarmUp && !out.last.alarmDown)
  }

  test("late points are dropped, not re-folded") {
    val ordered = series.take(10)
    val a = run(Seq(ordered: _*)).sortBy(_.dayIdx)
    val b = run(ordered, Seq(DayPoint("revenue", 3L, 999L)))
      .sortBy(_.dayIdx)
    assert(b == a, "a late day must leave the account untouched")
  }

  test("keys keep independent accounts") {
    val k1 = series.take(10)
    val k2 = series.take(10).map(p => p.copy(key = "other",
      cents = p.cents + 300)) // hot series
    val out = run(k1 ++ k2)
    val byKey = out.groupBy(_.key)
    assert(byKey("revenue").forall(!_.alarmUp))
    assert(byKey("other").exists(_.alarmUp))
    assert(byKey("revenue").map(_.dayIdx).sorted ==
      byKey("other").map(_.dayIdx).sorted)
  }

  // ------------------------------------------------------------------
  // Composition: CUSUM alarms → held-for, one multi-stateful query
  // ------------------------------------------------------------------

  /** Burst series: quiet, a 5-day +300 burst (alarms once S⁺ crosses
    * 600 at day 7), then a hard drop that decays S⁺ back under the
    * threshold at day 13 — so the held-for layer must both FIRE and
    * RESOLVE. Alarm days are exactly 7..12 (pinned against the batch
    * twin inside the test).
    */
  private val burst: Seq[DayPoint] = Seq.tabulate(15) { d =>
    val level = if (d < 5) 200L else if (d < 10) 500L else 20L
    DayPoint("revenue", d.toLong, level)
  }

  private def w(i: Int) = new java.sql.Timestamp(
    java.sql.Timestamp.valueOf("2024-03-05 00:00:00").getTime + i * 60000L)

  /** The chained plan under test: detector → alarm evals → held-for,
    * TWO transformWithState operators in one Append query.
    */
  private def chained(src: MemoryStream[DayPoint]) = {
    import StreamingHeldAlert.Eval
    // locals only: a closure over the suite captures the SparkSession
    val epoch = java.sql.Timestamp.valueOf("2024-03-05 00:00:00").getTime
    val evals = StreamingCusum.detect(src.toDS(), MU, SLACK, THRESH)
      .map { p =>
        Eval(p.key, new java.sql.Timestamp(epoch + p.dayIdx * 60000L),
          if (p.alarmUp) 1.0 else 0.0)
      }
    StreamingHeldAlert.alerts(evals, windowSeconds = 60L, threshold = 0.5,
      holdWindows = 2, resolveAfterWindows = 100,
      watermarkDelay = Some("0 seconds"))
  }

  test("CUSUM alarms chain into held-for; the chained query recovers " +
       "from its checkpoint") {
    RocksDbTestSupport.withRocksDb(spark) {
      import StreamingHeldAlert.Transition
      // the alarm days the composition must react to, from the batch twin
      val alarmDays = batchTwin(burst).filter(_.alarmUp).map(_.dayIdx)
      assert(alarmDays == Seq(7L, 8L, 9L, 10L, 11L, 12L))
      val expected = Seq(
        ("FIRING", w(7), w(8), 1.0),    // 2nd consecutive alarm window
        ("RESOLVED", w(7), w(13), 0.0)) // first clear evaluation
      val batches = Seq(burst.slice(0, 7), burst.slice(7, 10),
        burst.slice(10, 15))

      // uninterrupted run (memory sink)
      val srcA = MemoryStream[DayPoint](spark)
      val qA = chained(srcA).writeStream.format("memory")
        .queryName("cusum_held_a").outputMode("append").start()
      try batches.foreach { b => srcA.addData(b: _*); qA.processAllAvailable() }
      finally qA.stop()
      val gotA = spark.table("cusum_held_a").as[Transition].collect().toSeq
        .sortBy(_.at.getTime).map(t => (t.phase, t.since, t.at, t.metric))
      assert(gotA == expected, s"uninterrupted chained run: $gotA")

      // same batches, but the query STOPS after batch 2 and restarts
      // from its checkpoint (file sink: the memory sink refuses
      // recovery) — both stateful operators must resume their state
      val chk = java.nio.file.Files.createTempDirectory("cusum-held-chk")
        .toString
      val out = java.nio.file.Files.createTempDirectory("cusum-held-out")
        .toString
      val srcB = MemoryStream[DayPoint](spark)
      val outDf = chained(srcB).toDF()
      def start() = outDf.writeStream.option("checkpointLocation", chk)
        .format("parquet").option("path", out).outputMode("append").start()
      val qB1 = start()
      try {
        srcB.addData(batches(0): _*); qB1.processAllAvailable()
        srcB.addData(batches(1): _*); qB1.processAllAvailable()
      } finally qB1.stop()
      // data arriving while the query is DOWN — recovery must pick it up
      srcB.addData(batches(2): _*)
      val qB2 = start()
      try qB2.processAllAvailable() finally qB2.stop()
      val gotB = spark.read.parquet(out)
        .as[Transition].collect().toSeq
        .sortBy(_.at.getTime).map(t => (t.phase, t.since, t.at, t.metric))
      assert(gotB == expected,
        s"post-recovery chained output diverged: $gotB")
    }
  }
}
