package graft.stream

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.enrich.{DoclingClient, LocalDocling, RetryPolicy}
import graft.ops.Envelope
import graft.sinks.{ObjectStore, PipelineMetrics}

class FilePipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def envelope(rows: Seq[(String, String, Long, String, String, String,
      Array[Byte], Timestamp, Int)]): DataFrame = {
    val data = rows.map { case (fn, ct, sz, tid, sum, corr, body, ts, dc) =>
      Row(fn, ct, sz, tid, sum, corr, body, ts, dc)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(data: _*), Envelope.envelopeSchema)
  }

  private def sampleEnvelope(n: Int): DataFrame =
    envelope((1 to n).map { i =>
      (s"doc$i.pdf", "application/pdf", 1000L + i, s"GOANYWHERE-$i",
       "ab" * 32, f"corr-$i%04d", s"payload-$i".getBytes,
       Timestamp.valueOf(s"2024-03-0${5 + i % 3} 07:08:09"), 1)
    })

  private def tmp(): Path = Files.createTempDirectory("graft-pipe")

  private val fastRetry = RetryPolicy(sleeper = _ => ())

  /** Each test gets its own breaker so one test's failures can't trip the
    * breaker for the next (the registry is JVM-wide by design).
    */
  private def freshCfg() = PipelineConfig(retry = fastRetry,
    breakerName = java.util.UUID.randomUUID().toString)

  test("happy path: incoming + processed objects at deterministic keys, zero failures") {
    val out = tmp().toString
    val m = FilePipeline.runBatch(sampleEnvelope(6), out, new LocalDocling(),
      freshCfg())
    assert(m == BatchMetrics(6, 6, 0, 0))
    val incoming = Files.walk(java.nio.file.Paths.get(out, "incoming"))
      .filter(Files.isRegularFile(_)).count()
    val processed = Files.walk(java.nio.file.Paths.get(out, "processed"))
      .filter(Files.isRegularFile(_)).count()
    assert(incoming == 6 && processed == 6)
    // exact key layout, derived from event time
    assert(Files.exists(java.nio.file.Paths.get(
      out, "incoming/2024/03/06/corr-0001/doc1.pdf")))
    assert(Files.exists(java.nio.file.Paths.get(
      out, "processed/2024/03/06/corr-0001/doc1.pdf.json")))
    // processed payload is the docling JSON
    val json = Files.readString(java.nio.file.Paths.get(
      out, "processed/2024/03/06/corr-0001/doc1.pdf.json"))
    assert(json.contains("\"schema\":\"docling/v1\""))
  }

  test("failure path: permanent docling failure -> retries exhaust -> failure report written, raw object still stored") {
    PipelineMetrics.reset()
    val out = tmp().toString
    // LocalDocling fails permanently for requests containing doc2.pdf.
    val m = FilePipeline.runBatch(sampleEnvelope(4), out,
      new LocalDocling(failSubstring = Some("doc2.pdf")),
      freshCfg())
    assert(m == BatchMetrics(4, 3, 1, 0))
    val reports = ObjectStore.readFailedReports(spark, out).collect()
    assert(reports.length == 1)
    val r = reports.head
    assert(r.getAs[String]("status") == "FAILED")
    assert(r.getAs[String]("fileName") == "doc2.pdf")
    assert(r.getAs[String]("exception").contains("permanent failure"))
    assert(r.getAs[String]("contentType") == "application/pdf")
    // the raw bytes were stored before enrichment (reference order:
    // incoming/ write precedes the docling call)
    assert(Files.exists(java.nio.file.Paths.get(
      out, "incoming/2024/03/07/corr-0002/doc2.pdf")))
    assert(PipelineMetrics.dlqCounter(spark).value == 1L)
  }

  test("transient failures are retried in-batch and succeed (attempts recorded)") {
    val out = tmp().toString
    val env = sampleEnvelope(3)
    val (valid, _) = FilePipeline.prepare(env, PipelineConfig())
    val enriched = FilePipeline.enrich(valid,
      new LocalDocling(transientFailures = 2),
      freshCfg()).collect()
    assert(enriched.forall(_.error.isEmpty))
    assert(enriched.forall(_.attempts == 3))
  }

  test("invalid rows (contract violations) produce failure reports, not crashes") {
    val out = tmp().toString
    val rows = envelope(Seq(
      (null, "application/pdf", 10L, "t1", "ab" * 32, "corr-a",
       "x".getBytes, Timestamp.valueOf("2024-03-05 07:00:00"), 1),
      ("ok.pdf", "application/pdf", 10L, "t2", "ab" * 32, "corr-b",
       "y".getBytes, Timestamp.valueOf("2024-03-05 07:00:00"), 1)))
    val m = FilePipeline.runBatch(rows, out, new LocalDocling(),
      freshCfg())
    assert(m == BatchMetrics(1, 1, 0, 1))
    val reports = ObjectStore.readFailedReports(spark, out).collect()
    assert(reports.length == 1)
    assert(reports.head.getAs[String]("exception") == "missing fileName")
  }

  test("duplicate delivery is idempotent: same keys, same object count") {
    val out = tmp().toString
    val env = sampleEnvelope(5)
    FilePipeline.runBatch(env, out, new LocalDocling(),
      freshCfg())
    // redelivery of the same batch (at-least-once)
    FilePipeline.runBatch(env, out, new LocalDocling(),
      freshCfg())
    val processed = Files.walk(java.nio.file.Paths.get(out, "processed"))
      .filter(Files.isRegularFile(_)).count()
    assert(processed == 5)
  }

  test("configured expiry routes stale rows to DLQ reports in runBatch (E4)") {
    val out = tmp().toString
    val rows = envelope(Seq(
      ("old.pdf", "application/pdf", 10L, "t1", "ab" * 32, "c-old",
       "x".getBytes, Timestamp.valueOf("2024-03-01 00:00:00"), 1),
      ("new.pdf", "application/pdf", 10L, "t2", "ab" * 32, "c-new",
       "y".getBytes, Timestamp.valueOf("2024-03-05 00:00:00"), 1)))
    val m = FilePipeline.runBatch(rows, out, new LocalDocling(),
      freshCfg().copy(expiry = Some("'2' DAYS")))
    assert(m == BatchMetrics(1, 1, 0, 1)) // old.pdf counted in the DLQ side
    val reports = ObjectStore.readFailedReports(spark, out).collect()
    assert(reports.length == 1)
    assert(reports.head.getAs[String]("fileName") == "old.pdf")
    assert(reports.head.getAs[String]("exception").contains("expired"))
    // the live row was processed normally
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
      out, "processed/2024/03/05/c-new/new.pdf.json")))
  }

  test("expiry split routes old rows to the expired branch (E4)") {
    val rows = envelope(Seq(
      ("old.pdf", "application/pdf", 10L, "t1", "ab" * 32, "c1",
       "x".getBytes, Timestamp.valueOf("2024-03-01 00:00:00"), 1),
      ("new.pdf", "application/pdf", 10L, "t2", "ab" * 32, "c2",
       "y".getBytes, Timestamp.valueOf("2024-03-05 00:00:00"), 1)))
    val (live, expired) = FilePipeline.splitExpired(rows, "'2' DAYS")
    assert(live.select("fileName").collect().map(_.getString(0)).toSet
      == Set("new.pdf"))
    assert(expired.select("fileName").collect().map(_.getString(0)).toSet
      == Set("old.pdf"))
  }

  test("runBatch metrics ride the write actions (observe), not standalone count jobs") {
    val out = tmp().toString
    val sc = spark.sparkContext
    val n = sc.defaultParallelism
    // a local relation of n rows scans as n partitions: no spreading
    // shuffle, so anything beyond the one write action would be extra
    val env = sampleEnvelope(n)
    assert(env.queryExecution.toRdd.getNumPartitions == n)
    sc.setJobGroup("rb-jobs", "runBatch job count", interruptOnCancel = false)
    val m =
      try FilePipeline.runBatch(env, out,
        new LocalDocling(failSubstring = Some("doc2.pdf")),
        freshCfg().copy(notifications = true))
      finally sc.clearJobGroup()
    assert(m == BatchMetrics(n, n - 1, 1, 0))
    val jobs = sc.statusTracker.getJobIdsForGroup("rb-jobs").length
    // incoming, processed, failure reports and notifications are all put
    // by one action, and the metrics are observed on it
    assert(jobs == 1, s"expected one Spark job per batch, saw $jobs")
  }

  test("runBatch converts each valid document once per batch; only retries call again") {
    val out = tmp().toString
    val tag = java.util.UUID.randomUUID().toString
    val ts = Timestamp.valueOf("2024-03-05 07:08:09")
    val docs = (1 to 6).map { i =>
      (s"doc$i.pdf", "application/pdf", 10L, s"t$i", "ab" * 32, s"$tag-$i",
       s"payload-$i".getBytes, ts, 1)
    }
    val rows = envelope(docs ++ Seq(
      ("old.pdf", "application/pdf", 10L, "t-old", "ab" * 32, s"$tag-old",
       "x".getBytes, Timestamp.valueOf("2024-03-01 00:00:00"), 1),
      ("bad.pdf", "application/pdf", 10L, "t-bad", null, s"$tag-bad",
       "y".getBytes, ts, 1)))
    // doc2 fails every attempt, doc3 only its first
    val client = new CountingDocling(Set("doc3.pdf"),
      new LocalDocling(failSubstring = Some("doc2.pdf")))
    val m = FilePipeline.runBatch(rows, out, client,
      freshCfg().copy(notifications = true, expiry = Some("'2' DAYS"),
        breaker = graft.enrich.BreakerConfig(requestVolumeThreshold = 1000)))
    assert(m == BatchMetrics(6, 5, 1, 2))
    val calls = FilePipelineSpec.calls(tag)
    assert(calls == Map("doc1.pdf" -> 1, "doc2.pdf" -> 3, "doc3.pdf" -> 2,
      "doc4.pdf" -> 1, "doc5.pdf" -> 1, "doc6.pdf" -> 1))
    def objects(sub: String): Long =
      Files.walk(java.nio.file.Paths.get(out, sub))
        .filter(Files.isRegularFile(_)).count()
    assert(objects("incoming") == 6 && objects("processed") == 5)
    assert(objects("notifications") == 5 && objects("failed") == 3)
  }

  test("splitExpired keeps null-eventTime rows out of the expired branch; validation DLQs them") {
    val out = tmp().toString
    val rows = envelope(Seq(
      ("nots.pdf", "application/pdf", 10L, "t1", "ab" * 32, "c-null",
       "x".getBytes, null, 1),
      ("new.pdf", "application/pdf", 10L, "t2", "ab" * 32, "c-new",
       "y".getBytes, Timestamp.valueOf("2024-03-05 00:00:00"), 1)))
    // a null eventTime must land in exactly one branch (live), not vanish
    val (live, expired) = FilePipeline.splitExpired(rows, "'2' DAYS")
    assert(expired.count() == 0)
    assert(live.count() == 2)
    // ...and end-to-end it becomes a DLQ report, not silent loss
    val m = FilePipeline.runBatch(rows, out, new LocalDocling(),
      freshCfg().copy(expiry = Some("'2' DAYS")))
    assert(m == BatchMetrics(1, 1, 0, 1))
    val reports = ObjectStore.readFailedReports(spark, out).collect()
    assert(reports.length == 1)
    assert(reports.head.getAs[String]("exception") == "missing eventTime")
  }

  test("processing-time mode accepts rows without an eventTime") {
    val out = tmp().toString
    val rows = envelope(Seq(
      ("nots.pdf", "application/pdf", 10L, "t1", "ab" * 32, "c-null",
       "x".getBytes, null, 1),
      ("ok.pdf", "application/pdf", 10L, "t2", "ab" * 32, "c-ok",
       "y".getBytes, Timestamp.valueOf("2024-03-05 00:00:00"), 1)))
    // event-time mode DLQs the null-ts row; processing-time mode keys it
    // by current_timestamp and processes it
    val m = FilePipeline.runBatch(rows, out, new LocalDocling(),
      freshCfg().copy(processingTimeMode = true))
    assert(m == BatchMetrics(2, 2, 0, 0))
  }

  test("notification rows carry the same payload for both sinks") {
    val env = sampleEnvelope(2)
    val (valid, _) = FilePipeline.prepare(env, PipelineConfig())
    val rows = ObjectStore.notificationRows(
      valid.withColumn("doclingResult", lit("{}")))
    assert(rows.columns.toSeq == Seq("correlationId", "key", "notification"))
    val r = rows.collect().map(x => x.getString(0) -> x).toMap
    assert(r.keySet == Set("corr-0001", "corr-0002"))
    assert(r("corr-0001").getString(2).contains("\"status\":\"PROCESSED\""))
    assert(r("corr-0001").getString(1).endsWith("doc1.pdf.notification.json"))
  }

  test("notifications mirror: one notification object per processed record (batch)") {
    val out = tmp().toString
    val m = FilePipeline.runBatch(sampleEnvelope(3), out,
      new LocalDocling(failSubstring = Some("doc2.pdf")),
      freshCfg().copy(notifications = true))
    assert(m == BatchMetrics(3, 2, 1, 0))
    val notes = spark.read.option("recursiveFileLookup", "true")
      .json(s"$out/notifications").collect()
    assert(notes.length == 2)
    assert(notes.map(_.getAs[String]("fileName")).toSet
      == Set("doc1.pdf", "doc3.pdf"))
    assert(notes.forall(_.getAs[String]("status") == "PROCESSED"))
    assert(notes.forall(r =>
      r.getAs[String]("s3ProcessedKey").startsWith("processed/")))
  }

  test("reprocess resolves the right body when a correlationId spans multiple files") {
    val out = tmp().toString
    val ts = Timestamp.valueOf("2024-03-05 07:08:09")
    val rows = envelope(Seq(
      ("a.pdf", "application/pdf", 10L, "t1", "ab" * 32, "corr-shared",
       "body-a".getBytes, ts, 1),
      ("b.pdf", "application/pdf", 10L, "t2", "ab" * 32, "corr-shared",
       "body-b".getBytes, ts, 1)))
    FilePipeline.runBatch(rows, out,
      new LocalDocling(failSubstring = Some("b.pdf")), freshCfg())
    val re = FilePipeline.reprocess(spark, out).collect()
    // the shared correlationId must NOT fan the one report out to both
    // incoming bodies
    assert(re.length == 1)
    assert(re.head.getAs[String]("fileName") == "b.pdf")
    assert(new String(re.head.getAs[Array[Byte]]("body")) == "body-b")
  }

  test("reprocess on a store with an empty DLQ returns no rows, same schema") {
    val withReports = tmp().toString
    FilePipeline.runBatch(sampleEnvelope(2), withReports,
      new LocalDocling(failSubstring = Some("doc1.pdf")), freshCfg())
    val expected = FilePipeline.reprocess(spark, withReports).schema
    val noReports = tmp().toString
    FilePipeline.runBatch(sampleEnvelope(2), noReports, new LocalDocling(),
      freshCfg())
    assert(!Files.exists(java.nio.file.Paths.get(noReports, "failed")))
    // a store without failed/, and one without any object at all
    Seq(noReports, tmp().toString).foreach { dir =>
      val re = FilePipeline.reprocess(spark, dir)
      assert(re.schema == expected)
      assert(re.count() == 0)
    }
  }

  test("reprocess (E5) joins failure reports back to incoming payloads and bumps deliveryCount") {
    val out = tmp().toString
    FilePipeline.runBatch(sampleEnvelope(3), out,
      new LocalDocling(failSubstring = Some("doc1.pdf")),
      freshCfg())
    val re = FilePipeline.reprocess(spark, out).collect()
    assert(re.length == 1)
    val row = re.head
    assert(row.getAs[String]("fileName") == "doc1.pdf")
    assert(new String(row.getAs[Array[Byte]]("body")) == "payload-1")
    assert(row.getAs[Int]("deliveryCount") == 2)
    // targeted reprocess by correlationId
    assert(FilePipeline.reprocess(spark, out, Some("corr-0001")).count() == 1)
    assert(FilePipeline.reprocess(spark, out, Some("corr-none")).count() == 0)
  }
}

object FilePipelineSpec {
  /** Conversion calls per request. Static: tasks run on deserialized
    * copies of the client.
    */
  private val counts = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  def count(request: String): Int =
    counts.computeIfAbsent(request,
      _ => new java.util.concurrent.atomic.AtomicInteger()).incrementAndGet()

  /** Calls per file name, over the requests whose source key holds `tag`. */
  def calls(tag: String): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.collect { case (req, n) if req.contains(tag) =>
      FileOf.findFirstMatchIn(req).get.group(1) -> n.get
    }.toMap
  }

  /** The file name at the end of the request's source key. */
  val FileOf = "\"source\":\"[^\"]*/([^/\"]+)\"".r
}

/** Counts every call per request, fails the first call for the files in
  * `failFirst` (a transient failure), and delegates the rest.
  */
final class CountingDocling(failFirst: Set[String], inner: DoclingClient)
    extends DoclingClient {
  override def convert(request: String): String = {
    val n = FilePipelineSpec.count(request)
    if (n == 1 && FilePipelineSpec.FileOf.findFirstMatchIn(request)
          .exists(m => failFirst(m.group(1))))
      throw new RuntimeException("docling: transient failure")
    inner.convert(request)
  }
}
