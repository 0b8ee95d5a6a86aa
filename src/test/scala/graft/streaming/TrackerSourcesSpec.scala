package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.TransferTracker.{StatusEvent, TransferUpdate}

class TrackerSourcesSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** The tracker behind a 1-minute watermark, one micro-batch per
    * element of `batches`; returns every update it emitted. */
  private def track(name: String, batches: Seq[StatusEvent]*)
      : Map[String, TransferUpdate] = {
    val source = MemoryStream[StatusEvent](spark)
    val q = TransferTracker.track(
      source.toDS().withWatermark("eventTime", "1 minute").as[StatusEvent])
      .writeStream.format("memory").queryName(name).outputMode("append")
      .start()
    batches.foreach { b => source.addData(b); q.processAllAvailable() }
    q.stop()
    val out = spark.table(name).as[TransferUpdate].collect()
    assert(out.length == out.map(_.correlationId).distinct.length,
      "a transfer resolved twice")
    out.map(u => u.correlationId -> u).toMap
  }

  test("transfer tracker emits terminal updates with latency and times out stalled transfers") {
    val out = track("tracker_out",
      Seq(StatusEvent("c1", "RECEIVED", ts("2024-03-05 07:00:00")),
        StatusEvent("c2", "RECEIVED", ts("2024-03-05 07:00:30"))),
      // c1 completes quickly; c2 never completes
      Seq(StatusEvent("c1", "PROCESSED", ts("2024-03-05 07:02:00"))),
      // advance event time past c2's 10-minute timeout + watermark
      Seq(StatusEvent("c9", "RECEIVED", ts("2024-03-05 07:30:00"))))
    assert(out("c1").finalStatus == "PROCESSED")
    assert(out("c1").latencyMs == 120000L)
    assert(out("c1").updates == 2)
    assert(out("c2").finalStatus == "STALLED")
    assert(!out.contains("c9")) // still in flight, no update emitted
  }

  test("a transfer completing in the batch its timeout passes emits " +
       "PROCESSED and no STALLED") {
    // without no-data batches an advanced watermark first applies to
    // the next data batch, so x1's terminal event and its expired timer
    // meet in one batch (a query reads the setting when it starts)
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    spark.conf.set(key, "false")
    val out = try track("tracker_same_batch",
      Seq(StatusEvent("x1", "RECEIVED", ts("2024-03-05 07:00:00")),
        StatusEvent("y1", "RECEIVED", ts("2024-03-05 07:00:00"))),
      // moves the watermark to 07:19, past both 07:10 timeouts
      Seq(StatusEvent("z1", "RECEIVED", ts("2024-03-05 07:20:00"))),
      Seq(StatusEvent("x1", "PROCESSED", ts("2024-03-05 07:21:00"))))
    finally spark.conf.unset(key)
    assert(out.values.map(u => (u.correlationId, u.finalStatus, u.updates,
      u.latencyMs)).toSet == Set(("x1", "PROCESSED", 2, 21 * 60000L),
      ("y1", "STALLED", 1, TransferTracker.TimeoutMs)))
  }

  test("soak: 1e5 keys with out-of-order + replayed events — bounded state, exact STALLED set") {
    val source = MemoryStream[StatusEvent](spark)
    val tracked = TransferTracker.track(
      source.toDS().withWatermark("eventTime", "1 minute")
        .as[StatusEvent])
    val q = tracked.writeStream.format("memory")
      .queryName("tracker_soak").outputMode("append").start()

    val nKeys = 100000
    val t0 = ts("2024-03-05 07:00:00").getTime
    def at(ms: Long) = new Timestamp(ms)
    def rcvTime(i: Int) = t0 + (i % 300) * 1000L

    // batch 1: every key RECEIVED; even keys also PROCESSED in the same
    // batch, with the terminal event EMITTED BEFORE its RECEIVED (arrival
    // order inverted — the tracker must sort by event time, not arrival)
    val b1 = (0 until nKeys).flatMap { i =>
      val rcv = StatusEvent(s"c$i", "RECEIVED", at(rcvTime(i)))
      if (i % 2 == 0)
        Seq(StatusEvent(s"c$i", "PROCESSED", at(rcvTime(i) + 90000L)), rcv)
      else Seq(rcv)
    }
    source.addData(b1)
    q.processAllAvailable()

    // batch 2: redeliver RECEIVED for 10k still-in-flight odd keys and
    // complete half the odd keys. The terminals are time-stamped BEFORE
    // the redeliveries, so within the batch a replayed RECEIVED sorts
    // after the terminal — the order-inversion path. (Rows behind the
    // watermark never reach the tracker: Spark's stateful operators
    // filter late input, which is itself part of the contract.)
    val b2 = (1 until nKeys by 2).flatMap { i =>
      val replay =
        if (i < 20000)
          Seq(StatusEvent(s"c$i", "RECEIVED", at(t0 + 420000L)))
        else Seq.empty
      val terminal =
        if (i % 4 == 1)
          Seq(StatusEvent(s"c$i", "PROCESSED", at(t0 + 360000L)))
        else Seq.empty
      replay ++ terminal
    }
    source.addData(b2)
    q.processAllAvailable()

    // batch 3: advance the watermark far past every pending timeout
    source.addData(StatusEvent("sentinel", "RECEIVED",
      at(t0 + 4 * 3600 * 1000L)))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("tracker_soak").as[TransferUpdate].collect()
    val byStatus = out.groupBy(_.finalStatus).view.mapValues(_.length).toMap
    // 50k even + 25k odd (i % 4 == 1) processed; the other 25k odd stall
    assert(byStatus("PROCESSED") == nKeys / 2 + nKeys / 4)
    assert(byStatus("STALLED") == nKeys / 4)
    // every key resolves exactly once — replays must not double-emit
    assert(out.length == out.map(_.correlationId).distinct.length)
    // replayed keys carry their replay in the update count
    val replayed = out.filter(u => u.correlationId.drop(1).toIntOption
      .exists(i => i < 20000 && i % 4 == 1))
    assert(replayed.nonEmpty && replayed.forall(_.updates == 3))
    // state stays bounded by the in-flight key count and drains to zero
    val stateRows = q.recentProgress.toSeq
      .flatMap(_.stateOperators.toSeq).map(_.numRowsTotal)
    assert(stateRows.nonEmpty)
    assert(stateRows.max <= nKeys + 1L)
    assert(stateRows.last == 1L || stateRows.last == 0L) // sentinel only
  }

  test("streaming simhash dedup: online hits, cross-chunk dedup, TTL expiry") {
    import StreamingDedup.{DocEvent, NearDupHit}
    val source = MemoryStream[DocEvent](spark)
    // raw hit stream: duplicate-tolerant by contract (one hit per
    // colliding chunk) — the collected toSet below is the idempotent
    // consumption the scaladoc prescribes
    val hits = StreamingDedup.detect(source.toDS(),
        maxDistance = 3, watermarkDelay = "10 minutes",
        ttlMs = 3600 * 1000L)
    val q = hits.writeStream.format("memory")
      .queryName("sdedup_out").outputMode("append").start()

    val far = 0x0F0F0F0F0F0F0F0FL // hamming 32 from 0
    source.addData(DocEvent(1L, 0L, ts("2024-03-05 07:00:00")))
    q.processAllAvailable()
    // d2 one bit from d1; d4 identical to d1 — same batch, ordered
    source.addData(
      DocEvent(2L, 1L, ts("2024-03-05 07:01:00")),
      DocEvent(4L, 0L, ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    // advance the watermark far past every bucket's TTL
    source.addData(DocEvent(9L, far, ts("2024-03-05 10:00:00")))
    q.processAllAvailable()
    // d5 is bit-identical to d1/d4, but their entries are TTL-expired:
    // purge-on-read must prevent the match even though the bucket keys
    // collide again
    source.addData(DocEvent(5L, 0L, ts("2024-03-05 10:01:00")))
    q.processAllAvailable()
    q.stop()

    import spark.implicits._
    val got = spark.table("sdedup_out").as[NearDupHit].collect()
      .map(h => (h.docId, h.matchedId, h.hamming)).toSet
    assert(got == Set((2L, 1L, 1), (4L, 1L, 0), (4L, 2L, 1)))
  }

  test("file monitor source streams new files through the pattern filter") {
    val dir = tempDir("graft-files")
    Files.write(dir.resolve("a.pdf"), "hello pdf".getBytes)
    Files.write(dir.resolve("b.txt"), "not matched".getBytes)
    Files.write(dir.resolve("c.DOCX"), "docx body".getBytes)

    val env = graft.sources.Sources.fileMonitor(spark, dir.toString)
    val q = env.writeStream.format("memory")
      .queryName("files_out").outputMode("append").start()
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("files_out").collect()
    assert(rows.map(_.getAs[String]("fileName")).toSet == Set("a.pdf", "c.DOCX"))
    val pdf = rows.find(_.getAs[String]("fileName") == "a.pdf").get
    assert(pdf.getAs[Long]("fileSize") == 9L)
    assert(pdf.getAs[String]("contentType") == "application/pdf")
    // checksum matches the payload (producer contract)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest("hello pdf".getBytes).map("%02x".format(_)).mkString
    assert(pdf.getAs[String]("checksum") == sha)
  }

  test("pipeline listener captures batch snapshots and a p95 duration") {
    val listener = new graft.sinks.PipelineListener
    spark.streams.addListener(listener)
    try {
      val source = MemoryStream[(String, Timestamp)](spark)
      val q = source.toDF().toDF("k", "ts")
        .writeStream.format("memory").queryName("listener_probe")
        .outputMode("append").start()
      source.addData(("a", ts("2024-03-05 07:00:00")),
                     ("b", ts("2024-03-05 07:01:00")))
      q.processAllAvailable()
      source.addData(("c", ts("2024-03-05 07:02:00")))
      q.processAllAvailable()
      q.stop()
      // listener events are async; wait for delivery
      val deadline = System.currentTimeMillis() + 10000
      while (listener.snapshots.map(_.numInputRows).sum < 3
             && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(listener.snapshots.map(_.numInputRows).sum == 3)
      assert(listener.p95BatchDurationMs.exists(_ >= 0))
    } finally spark.streams.removeListener(listener)
  }

  test("bottom-k sample aggregator is deterministic and mergeable across partitions") {
    import graft.functions.BottomKByMd5
    def md5(v: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(v.toString.getBytes).map("%02x".format(_)).mkString
    val expected = (0L until 1000L).sortBy(md5).take(10).toSet

    for (parts <- Seq(1, 7)) { // partitioning must not change the result
      val got = spark.range(1000).repartition(parts).as[Long]
        .groupByKey(_ => "all")
        .agg(new BottomKByMd5[Long](10, identity).toColumn.name("s"))
        .collect().head._2.toSet
      assert(got == expected, s"parts=$parts")
    }
  }
}
