package graft.stream

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.enrich.{LocalDocling, RetryPolicy}
import graft.model.FileTransferEvent
import graft.sinks.ObjectStore

/** Structured Streaming semantics: the same batch-pure transforms driven
  * per micro-batch (SURVEY.md §7.1), with checkpointed recovery and
  * watermarked windowed aggregation. MemoryStream stands in for the Kafka
  * source (no broker in this environment; with one, the source swaps to
  * readStream.format("kafka") + Envelope.fromKafka with no change to any
  * transform).
  */
class StreamingSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val fastRetry = RetryPolicy(sleeper = _ => ())

  /** Each test gets its own breaker so one test's failures can't trip the
    * breaker for the next (the registry is JVM-wide by design).
    */
  private def freshCfg() = PipelineConfig(retry = fastRetry,
    breakerName = java.util.UUID.randomUUID().toString)

  private def event(i: Int, ts: String = "2024-03-05 07:08:09")
      : FileTransferEvent =
    FileTransferEvent(s"doc$i.pdf", "application/pdf", 1000L + i,
      s"GOANYWHERE-$i", "ab" * 32, f"corr-$i%04d",
      s"payload-$i".getBytes, Timestamp.valueOf(ts), 1)

  test("streaming pipeline: micro-batches through the batch core, exactly-once layout across restarts") {
    val out = tempDir("graft-stream").toString
    val ckpt = tempDir("graft-ckpt").toString

    val source = MemoryStream[FileTransferEvent](spark)
    source.addData(event(1), event(2))
    val q1 = FilePipeline.runStream(source.toDF(), out, ckpt,
      new LocalDocling(), freshCfg())
    q1.processAllAvailable()
    q1.stop()

    // restart from the same checkpoint with more data — the processed set
    // must be the union, with no duplicates from reprocessing batch 0.
    source.addData(event(3))
    val q2 = FilePipeline.runStream(source.toDF(), out, ckpt,
      new LocalDocling(), freshCfg())
    q2.processAllAvailable()
    q2.stop()

    val processed = Files.walk(java.nio.file.Paths.get(out, "processed"))
      .filter(Files.isRegularFile(_)).count()
    assert(processed == 3)
  }

  test("streaming failure routing: DLQ reports appear for failing docs") {
    val out = tempDir("graft-stream").toString
    val ckpt = tempDir("graft-ckpt").toString
    val source = MemoryStream[FileTransferEvent](spark)
    source.addData(event(1), event(2), event(3))
    val q = FilePipeline.runStream(source.toDF(), out, ckpt,
      new LocalDocling(failSubstring = Some("doc2.pdf")),
      freshCfg())
    q.processAllAvailable()
    q.stop()
    val reports = ObjectStore.readFailedReports(spark, out).collect()
    assert(reports.map(_.getAs[String]("fileName")).toSet == Set("doc2.pdf"))
  }

  test("streaming notifications: one notification row per processed record") {
    val out = tempDir("graft-stream").toString
    val ckpt = tempDir("graft-ckpt").toString
    val source = MemoryStream[FileTransferEvent](spark)
    source.addData(event(1), event(2), event(3))
    val q = FilePipeline.runStream(source.toDF(), out, ckpt,
      new LocalDocling(failSubstring = Some("doc2.pdf")),
      freshCfg().copy(notifications = true))
    q.processAllAvailable()
    q.stop()
    val notes = spark.read.option("recursiveFileLookup", "true")
      .json(s"$out/notifications").collect()
    // success path only: the failed doc gets a DLQ report, never a
    // notification
    assert(notes.map(_.getAs[String]("fileName")).toSet
      == Set("doc1.pdf", "doc3.pdf"))
    assert(notes.forall(_.getAs[String]("status") == "PROCESSED"))
  }

  test("watermarked sliding-window aggregation drops late data beyond the watermark") {
    // The §2C monitoring query in true streaming form: 10-minute windows,
    // 5-minute watermark.
    val source = MemoryStream[(Timestamp, String)](spark)
    val windowed = source.toDF().toDF("ts", "kind")
      .withWatermark("ts", "5 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("kind"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("start"), col("kind"), col("n"))
    val q = windowed.writeStream.format("memory")
      .queryName("win_agg").outputMode("append").start()

    def ts(s: String) = Timestamp.valueOf(s)
    source.addData((ts("2024-03-05 07:01:00"), "ok"),
                   (ts("2024-03-05 07:02:00"), "ok"))
    q.processAllAvailable()
    // advance event time far enough to close the 07:00 window
    source.addData((ts("2024-03-05 07:31:00"), "ok"))
    q.processAllAvailable()
    // this event is *behind the watermark* -> must be dropped
    source.addData((ts("2024-03-05 07:03:00"), "late"))
    q.processAllAvailable()
    // close everything out
    source.addData((ts("2024-03-05 08:00:00"), "ok"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("win_agg").collect()
      .map(r => (r.getAs[Timestamp]("start").toString, r.getAs[String]("kind"),
                 r.getAs[Long]("n"))).toSet
    assert(rows.contains(("2024-03-05 07:00:00.0", "ok", 2L)))
    assert(!rows.exists(_._2 == "late"))
  }

  test("stateful dedup: dropDuplicates within watermark suppresses redelivered ids") {
    val source = MemoryStream[(String, Timestamp)](spark)
    val deduped = source.toDF().toDF("correlationId", "ts")
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("correlationId")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    source.addData(("c1", ts("2024-03-05 07:00:00")),
                   ("c2", ts("2024-03-05 07:01:00")))
    q.processAllAvailable()
    // redelivery of c1 within the watermark window
    source.addData(("c1", ts("2024-03-05 07:02:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_out")
      .select("correlationId").as[String].collect().sorted
    assert(ids.toSeq == Seq("c1", "c2"))
  }
}
