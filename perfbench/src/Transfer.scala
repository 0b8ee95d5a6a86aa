package perfbench

import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.sql.Timestamp
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.enrich.{BreakerConfig, DoclingClient, LocalDocling, RetryPolicy}
import graft.stream.{FilePipeline, PipelineConfig}

/** One envelope as the pipeline's Kafka projection yields it
  * (`Envelope.envelopeSchema`).
  */
final case class Env(fileName: String, contentType: String, fileSize: Long,
                     transferId: String, checksum: String,
                     correlationId: String, body: Array[Byte],
                     eventTime: Timestamp, deliveryCount: Int)

/** The planned fate of one generated document. */
final case class DocPlan(idx: Int, fileName: String,
                         contentType: String, body: Array[Byte],
                         checksum: String, correlationId: String,
                         outcome: String, serviceMs: Double) {
  def valid: Boolean = !outcome.startsWith("invalid")
  def invalidReason: String = outcome match {
    case "invalid_size" => "bad fileSize"
    case "invalid_checksum" => "missing checksum"
    case _ => ""
  }
  def envelope(createdMs: Long): Env = Env(fileName, contentType,
    if (outcome == "invalid_size") -1L else body.length.toLong,
    s"T-$idx", if (outcome == "invalid_checksum") null else checksum,
    correlationId, body, new Timestamp(createdMs), 1)
}

/** Seeded document generator: the same seed gives byte-identical plans. */
object TransferGen {
  private val exts = Seq("pdf" -> "application/pdf",
    "docx" -> "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "txt" -> "text/plain", "png" -> "image/png")

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** Body sizes: most small, a long tail (80% 0.5-4 KiB, 17% 4-32 KiB,
    * 3% 32-256 KiB). Outcomes: 2% bad fileSize and 2% missing checksum
    * (contract-invalid), 4% permanent Docling failures, 5% transient
    * failures that succeed on the second attempt. Docling service times
    * are log-normal around 4 ms (the real service's seconds, scaled down).
    * The whole mix is an assumption that fits "most small, a long tail" and
    * "a few percent" failures: the reference publishes no distribution.
    */
  def plan(seed: Long, from: Int, n: Int): IndexedSeq[DocPlan] =
    (from until from + n).map { i =>
      val r = new java.util.SplittableRandom(seed * 1000003L + i)
      val u = r.nextDouble()
      val size =
        if (u < 0.80) 512 + r.nextInt(3584)
        else if (u < 0.97) 4096 + r.nextInt(28672)
        else 32768 + r.nextInt(229376)
      val body = new Array[Byte](size)
      var k = 0
      while (k < size) { body(k) = (32 + r.nextInt(95)).toByte; k += 1 }
      val (ext, ctype) = exts(r.nextInt(exts.size))
      val o = r.nextDouble()
      val outcome =
        if (o < 0.02) "invalid_size" else if (o < 0.04) "invalid_checksum"
        else if (o < 0.08) "permanent" else if (o < 0.13) "transient"
        else "ok"
      val service = math.min(60.0, math.exp(math.log(4.0) + 0.6 * r.nextGaussian()))
      DocPlan(i, f"doc-$i%05d.$ext", ctype, body, sha256Hex(body),
        f"c${seed & 0xffffffL}%06x-$i%05d", outcome, service)
    }
}

/** Docling stand-in: content from [[LocalDocling]], plus the planned
  * per-document service time (a real sleep) and planned failures. Every
  * call is recorded. State is static because the pipeline runs its tasks in
  * this JVM (local mode) on deserialized copies of the client.
  */
final class StandInDocling extends DoclingClient {
  override def convert(requestJson: String): String =
    StandInDocling.convert(requestJson)
}

object StandInDocling {
  final case class Call(corr: String, attempt: Int, startMs: Double,
                        endMs: Double, ok: Boolean)

  private val plans = new ConcurrentHashMap[String, DocPlan]()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
  val results = new ConcurrentHashMap[String, String]()
  val retryWaitMs = new AtomicLong(0)
  private val local = new LocalDocling()
  private val CorrRe = "\"source\":\"incoming/[0-9/]+/([^/]+)/".r

  def register(ps: Seq[DocPlan]): Unit = ps.foreach(p => plans.put(p.correlationId, p))

  def reset(): Unit = {
    plans.clear(); attempts.clear(); calls.clear(); results.clear()
    retryWaitMs.set(0)
  }

  def convert(req: String): String = {
    val corr = CorrRe.findFirstMatchIn(req).map(_.group(1)).getOrElse("")
    val p = plans.get(corr)
    val n = attempts.computeIfAbsent(corr, _ => new AtomicInteger(0)).incrementAndGet()
    val t0 = Clock.nowMs
    if (p != null) java.util.concurrent.locks.LockSupport.parkNanos(
      (p.serviceMs * 1e6).toLong)
    val ok = p != null && (p.outcome == "ok" || (p.outcome == "transient" && n > 1))
    calls.add(Call(corr, n, t0, Clock.nowMs, ok))
    if (p == null) throw new RuntimeException(s"docling: unknown document $corr")
    if (p.outcome == "permanent")
      throw new RuntimeException(s"docling: permanent failure for $corr")
    if (!ok) throw new RuntimeException(s"docling: transient failure #$n")
    val out = local.convert(req)
    results.put(corr, out)
    out
  }

  /** Retry delays scaled down like the service times (5 s -> 5 ms). */
  val retry: RetryPolicy = RetryPolicy(maxAttempts = 3, initialDelayMs = 5L,
    multiplier = 2.0, maxDelayMs = 60L, sleeper = (ms: Long) => {
      retryWaitMs.addAndGet(ms); Thread.sleep(ms)
    })
}

/** The `transfer` workload: the reference dataflow as Structured Streaming
  * micro-batches over a MemoryStream standing in for the Kafka topic, each
  * micro-batch through `FilePipeline.runBatch` via foreachBatch.
  *
  * Phases: drain (a pre-queued backlog, closed loop: throughput), steady
  * (open-loop arrivals at a fixed rate from one generator thread: per-doc
  * latency), replay (`FilePipeline.reprocess` over the DLQ, then
  * `ObjectStore.compactIncoming` and `readArchive`: the read side).
  */
object Transfer {
  val DrainDocs = 200
  /** Docs per second in the steady phase: about a quarter of what the
    * micro-batch loop sustains here, where batch time is mostly its fixed
    * per-batch cost; nearer saturation the batch-size feedback amplifies
    * every slowdown of the host into latency. */
  val SteadyRate = 20.0
  val WarmupDocs = 80

  private val DayFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy/MM/dd")
    .withZone(java.time.ZoneOffset.UTC)

  final case class BatchEnd(batchId: Long, startMs: Double, endMs: Double,
                            input: Long, invalid: Long, spanId: Long)

  /** Runs `FilePipeline.runBatch` per micro-batch and records its window. */
  final class Stream(spark: SparkSession, cores: Int, out: String,
                     chk: String, rec: Recorder, rootParent: () => Long) {
    import spark.implicits._
    val source: MemoryStream[Env] =
      MemoryStream[Env](spark, cores)
    val ends = new ConcurrentHashMap[Long, BatchEnd]()
    val committed = new AtomicLong(0)
    private val cfg = PipelineConfig(retry = StandInDocling.retry,
      // no window of the planned failure mix can reach the trip volume,
      // so a trip (timing-dependent) cannot change outcomes
      breaker = BreakerConfig(requestVolumeThreshold = 1000000),
      breakerName = s"perfbench-$out")
    private val client = new StandInDocling
    var query: StreamingQuery = _

    def start(): Unit = {
      query = source.toDF().writeStream
        .option("checkpointLocation", chk)
        .foreachBatch { (df: DataFrame, id: Long) =>
          val t0 = Clock.nowMs
          var spanId = -1L
          val m = rec.span(rootParent(), s"batch$id", "stream", s"batch$id", 2) { sid =>
            spanId = sid
            FilePipeline.runBatch(df, out, client, cfg)
          }
          ends.put(id, BatchEnd(id, t0, Clock.nowMs, m.input + m.invalid,
            m.invalid, spanId))
          committed.addAndGet(m.input + m.invalid)
          ()
        }.start()
    }

    /** Batch id -> the source offsets it covered: (start exclusive, end]. */
    def offsets(): Map[Long, (Long, Long)] =
      query.recentProgress.filter(_.numInputRows > 0).map { p =>
        val s = p.sources.head
        def off(x: String) = if (x == null || x == "null") -1L else x.trim.toLong
        p.batchId -> (off(s.startOffset), off(s.endOffset))
      }.toMap

    def stop(): Unit = if (query != null) { query.stop(); query = null }
  }

  def createdDay(ms: Long): String = DayFmt.format(java.time.Instant.ofEpochMilli(ms))

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rec = ctx.rec
    StandInDocling.reset()
    // ---- set-up: a short warm-up stream through the same path ----
    val setupT0 = Clock.nowMs
    locally {
      val wdir = ctx.work.resolve("warmup")
      val st = new Stream(spark, ctx.cores, wdir.resolve("store").toString,
        wdir.resolve("chk").toString, new Recorder(false), () => -1L)
      // every outcome in the warm-up, whatever the seed: reprocess needs a
      // non-empty DLQ, and each path should be warm before timing
      val forced = Seq("permanent", "transient", "invalid_size", "invalid_checksum")
      val warm = TransferGen.plan(ctx.seed ^ 0x5eed, 0, WarmupDocs)
        .map(p => if (p.idx < forced.size) p.copy(outcome = forced(p.idx)) else p)
      StandInDocling.register(warm)
      st.start()
      val now = System.currentTimeMillis()
      warm.grouped(WarmupDocs / 4).foreach { b =>
        b.foreach(p => st.source.addData(p.envelope(now)))
        st.query.processAllAvailable()
      }
      st.stop()
      Main.log("warm-up batches done")
      FilePipelineReplay.replay(spark, wdir.resolve("store").toString)
      Main.log("warm-up replay done")
    }
    val setupS = (Clock.nowMs - setupT0) / 1000.0
    StandInDocling.reset()

    val steadyDocs = math.max(1, (SteadyRate * ctx.seconds).toInt)
    val drain = TransferGen.plan(ctx.seed, 0, DrainDocs)
    val steady = TransferGen.plan(ctx.seed, DrainDocs, steadyDocs)
    val all = drain ++ steady
    StandInDocling.register(all)
    val store = ctx.work.resolve("store").toString
    val created = new Array[Long](all.size)

    val t0 = Clock.nowMs
    var phaseId = -1L
    val st = new Stream(spark, ctx.cores, store, ctx.work.resolve("chk").toString,
      rec, () => phaseId)

    // ---- drain: the backlog is queued before the query starts ----
    val drainT0 = Clock.nowMs
    val queuedAt = System.currentTimeMillis()
    drain.foreach { p =>
      created(p.idx) = queuedAt
      st.source.addData(p.envelope(queuedAt))
    }
    rec.span(-1L, "drain", "bench", "drain", 1) { id =>
      phaseId = id
      st.start()
      st.query.processAllAvailable()
    }
    Main.log("drain done")
    val drainDone = st.ends.values.asScala.map(_.endMs).max

    // ---- steady: one generator thread, open loop ----
    val backlog = new AtomicLong(0)
    var lagMax = 0.0
    val steadyT0 = Clock.nowMs
    rec.span(-1L, "steady", "bench", "steady", 1) { id =>
      phaseId = id
      val base = System.currentTimeMillis() + 200
      val gen = new OpenLoop(SteadyRate, base, steady.size)
      gen.run { (i, dueMs) =>
        val p = steady(i)
        created(p.idx) = dueMs
        st.source.addData(p.envelope(dueMs))
        backlog.set(math.max(backlog.get,
          DrainDocs + i + 1 - st.committed.get))
      }
      lagMax = gen.lagMaxMs
      st.query.processAllAvailable()
    }
    val steadyT1 = Clock.nowMs
    Main.log("steady done")
    val offsets = st.offsets()
    st.stop()

    // ---- replay: DLQ reprocess, compaction, archive read ----
    val replayT0 = Clock.nowMs
    val replay = rec.span(-1L, "replay", "bench", "replay", 1) { id =>
      phaseId = id
      FilePipelineReplay.replay(spark, store, rec, id)
    }
    val replayT1 = Clock.nowMs
    Main.log("replay done")
    val t1 = replayT1
    rec.add(-1L, "transfer", "bench", "transfer", t0, t1, 0)

    // ---- map docs to their batches ----
    val ends = st.ends.asScala.toMap
    val batchOf = new Array[Long](all.size)
    java.util.Arrays.fill(batchOf, -1L)
    offsets.foreach { case (bid, (lo, hi)) =>
      ((lo + 1) to hi).foreach(o => if (o >= 0 && o < all.size) batchOf(o.toInt) = bid)
    }
    val steadyLat = steady.flatMap { p =>
      ends.get(batchOf(p.idx)).map(e => e.endMs - created(p.idx))
    }
    val queueWait = steady.flatMap { p =>
      ends.get(batchOf(p.idx)).map(e => e.startMs - created(p.idx))
    }

    // ---- correctness ----
    val problems = mutable.ArrayBuffer.empty[String]
    val failedDocs = mutable.Set.empty[Int]
    def fail(p: DocPlan, msg: String): Unit = {
      failedDocs += p.idx; problems += s"${p.correlationId} (${p.outcome}): $msg"
    }
    all.foreach(p => if (batchOf(p.idx) < 0) fail(p, "not in any micro-batch"))
    val check = TransferCheck.check(Path.of(store), all, created,
      StandInDocling.results.asScala.toMap)
    check.problems.foreach { case (idx, msg) => fail(all(idx), msg) }
    problems ++= check.extra.map(k => s"unexpected object $k")
    val permanent = all.filter(_.outcome == "permanent")
    val reemitted = replay.reemitted
    val expectRe = permanent.map(p => (p.correlationId, p.fileName, 2,
      p.checksum)).toSet
    val gotRe = reemitted.toSet
    (expectRe -- gotRe).foreach(r => problems += s"reprocess missed $r")
    (gotRe -- expectRe).foreach(r => problems += s"reprocess emitted extra $r")
    if (reemitted.size != gotRe.size) problems += "reprocess emitted duplicates"
    val incomingCount = all.count(_.valid)
    if (replay.archiveRows != incomingCount)
      problems += s"archive holds ${replay.archiveRows} rows, incoming $incomingCount"
    val replayFailed = if (expectRe == gotRe && reemitted.size == gotRe.size &&
      replay.archiveRows == incomingCount) 0 else 1
    val failed = failedDocs.size + replayFailed + check.extra.size

    // ---- end-to-end metrics ----
    // the backlog waits for a running query, as after a broker outage: its
    // drain time runs from the first micro-batch's start
    val drainStart = st.ends.values.asScala.map(_.startMs).min
    val drainRate = DrainDocs / ((drainDone - drainStart) / 1000.0)
    val e2e = Map(
      "latency_p50_ms" -> pct(steadyLat, 50),
      "latency_p90_ms" -> pct(steadyLat, 90),
      "throughput_per_s" -> drainRate,
      "work_s" -> (replayT1 - replayT0) / 1000.0)
    val batches = ends.values.toSeq.sortBy(_.batchId)

    // ---- per-layer metrics ----
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val calls = StandInDocling.calls.asScala.toSeq
    val validDocs = all.count(_.valid)
    perLayer ++= Seq(
      "stream.batches" -> batches.size.toDouble,
      "stream.batch_ms_p50" -> pct(batches.map(b => b.endMs - b.startMs), 50),
      "stream.queue_wait_ms" -> pct(queueWait, 50),
      "stream.backlog_max_docs" -> backlog.get.toDouble,
      "ops.invalid_docs" -> batches.map(_.invalid).sum.toDouble,
      "enrich.calls" -> calls.size.toDouble,
      "enrich.calls_per_doc" -> calls.size.toDouble / math.max(1, validDocs),
      "enrich.useful_ratio" -> calls.count(_.ok).toDouble / math.max(1, calls.size),
      "enrich.service_ms_sum" -> calls.map(c => c.endMs - c.startMs).sum,
      "enrich.inflight_mean" -> calls.map(c => c.endMs - c.startMs).sum /
        math.max(1e-9, Attribution.covered(calls.map(c => (c.startMs, c.endMs)),
          t0, t1)),
      "enrich.inflight_max" -> maxConcurrent(calls.map(c => (c.startMs, c.endMs))),
      "enrich.retry_wait_ms_sum" -> StandInDocling.retryWaitMs.get.toDouble,
      "enrich.breaker_rejects" -> check.breakerRejects.toDouble,
      "sinks.objects_written" -> check.objects.toDouble,
      "sinks.bytes_written" -> check.bytes.toDouble,
      "sinks.reprocess_ms" -> replay.reprocessMs,
      "sinks.compact_ms" -> replay.compactMs,
      "sinks.read_archive_ms" -> replay.readArchiveMs,
      "sinks.objects_read" -> replay.objectsRead.toDouble,
      "sinks.replay_read_ratio" -> reemitted.size.toDouble /
        math.max(1, replay.incomingRead),
      "bench.generator_lag_ms_max" -> lagMax)
    ctx.listener.foreach { l =>
      org.apache.spark.BenchAccess.drainListeners(spark)
      // a streaming query runs every job under the call site of its start(),
      // so jobs are attributed by what they write: each ObjectStore writer
      // projects its own key column onto `key`
      def sinkOf(j: JobRecord): String =
        SinkKey.findFirstMatchIn(l.planOf(j)).map(_.group(1) match {
          case "Incoming" => "writeIncoming"
          case "Processed" => "writeProcessed"
          case _ => "writeFailed"
        }).getOrElse("")
      def layerOf(j: JobRecord) = {
        val f = sinkOf(j)
        (if (f.isEmpty) "spark" else "sinks", f)
      }
      // job spans under their batch (by time), docling calls under the job
      batches.foreach { b =>
        l.emitSpans(rec, b.spanId, s"batch${b.batchId}", 3, b.startMs, b.endMs, layerOf)
      }
      // replay jobs run inside one ObjectStore / FilePipeline read call each
      replay.spans.foreach { case (sid, name, lo, hi) =>
        l.emitSpans(rec, sid, name, 3, lo, hi, _ => ("sinks", name))
      }
      // request id: the document and the micro-batch that carried it
      calls.foreach { c =>
        val b = batches.find(b => b.startMs <= c.startMs && c.startMs < b.endMs)
        rec.add(b.map(_.spanId).getOrElse(-1L), s"docling#${c.attempt}",
          "enrich", s"${c.corr}@batch${b.map(_.batchId).getOrElse(-1L)}",
          c.startMs, c.endMs, 5)
      }
      val jobs = l.jobsIn(drainT0, steadyT1)
      def jobMs(m: String) = jobs.filter(j => sinkOf(j) == m)
        .map(j => j.endMs - j.startMs).sum
      val perBatchJobs = batches.map(b => l.jobsIn(b.startMs, b.endMs))
      val inc = jobMs("writeIncoming"); val proc = jobMs("writeProcessed")
      val fl = jobMs("writeFailed")
      perLayer ++= Seq(
        "stream.jobs_per_batch" -> perBatchJobs.map(_.size).sum.toDouble /
          math.max(1, batches.size),
        "stream.stages_per_batch" -> perBatchJobs.map(_.map(j =>
          l.stagesOf(j).size).sum).sum.toDouble / math.max(1, batches.size),
        "stream.batch_self_ms" -> batches.zip(perBatchJobs).map { case (b, js) =>
          (b.endMs - b.startMs) - Attribution.covered(
            js.map(j => (j.startMs, j.endMs)), b.startMs, b.endMs)
        }.sum / math.max(1, batches.size),
        "sinks.incoming_job_ms" -> inc, "sinks.processed_job_ms" -> proc,
        "sinks.failed_job_ms" -> fl,
        "sinks.put_ms_per_object" -> (inc + proc + fl) / math.max(1, check.objects),
        "bench.listener_callback_pct" -> l.callbackNs.get / 1e6 / (t1 - t0) * 100)
      perLayer ++= selfMetrics(rec.all, t0, t1)
    }

    Outcome(all.size.toLong + 1, failed.toLong, problems.toSeq, setupS, e2e,
      perLayer.toMap,
      Map("transfer" -> scala.collection.immutable.ListMap(
        "drain_docs" -> DrainDocs, "steady_docs" -> steady.size,
        "steady_rate_per_s" -> SteadyRate, "loop" -> "drain closed, steady open",
        "latency_samples" -> steadyLat.size,
        "latency_quartiles_ms" -> quartiles(steadyLat),
        "latency_p90_beyond" -> (if (steadyLat.isEmpty) 0 else Stats.beyond(steadyLat, 90)),
        "drain_docs_per_s" -> drainRate,
        "drain_s" -> (drainDone - drainStart) / 1000.0,
        "steady_s" -> (steadyT1 - steadyT0) / 1000.0,
        "replay_s" -> (replayT1 - replayT0) / 1000.0,
        "reemitted" -> reemitted.size, "archive_rows" -> replay.archiveRows,
        "batches" -> batches.map(b => Map("id" -> b.batchId,
          "docs" -> b.input, "ms" -> (b.endMs - b.startMs))))))
  }

  private val SinkKey = "s3(Incoming|Processed|Failed)Key#\\d+ AS key#".r

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN else Stats.percentile(xs, p)

  def quartiles(xs: Seq[Double]): Seq[Double] =
    if (xs.length < 2) Nil else { val (a, b, c) = Stats.quartiles(xs); Seq(a, b, c) }

  def maxConcurrent(iv: Seq[(Double, Double)]): Double = {
    val ev = iv.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }
      .sortBy(x => (x._1, x._2))
    var cur = 0; var best = 0
    ev.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
    best.toDouble
  }

  /** Self time per layer over the root window, as `self.*` metrics. */
  def selfMetrics(spans: Seq[Span], t0: Double, t1: Double): Seq[(String, Double)] = {
    val st = Attribution.selfTimes(spans.filter(_.depth > 0), t0, t1, "bench")
    ("self.wall_ms" -> (t1 - t0)) +:
      Seq("bench", "stream", "sinks", "enrich", "spark", "analytics",
        "streaming").map(l => s"self.${l}_ms" -> st.getOrElse(l, 0.0))
  }
}

/** Fixed-rate send schedule: item i is due at `baseMs + i / rate`. The
  * schedule never slips: a late send is recorded as generator lag, and
  * the item keeps its due time as its creation time.
  */
final class OpenLoop(ratePerS: Double, baseMs: Long, n: Int,
                     nowMs: () => Double = () => System.currentTimeMillis().toDouble,
                     sleepMs: Long => Unit = (ms: Long) => Thread.sleep(ms)) {
  var lagMaxMs = 0.0
  var sent = 0

  def dueMs(i: Int): Long = baseMs + math.round(i * 1000.0 / ratePerS)

  def run(send: (Int, Long) => Unit): Unit = {
    var i = 0
    while (i < n) {
      val due = dueMs(i)
      val wait = due - nowMs()
      if (wait > 0) sleepMs(math.ceil(wait).toLong)
      lagMaxMs = math.max(lagMaxMs, nowMs() - due)
      send(i, due)
      sent += 1
      i += 1
    }
  }
}

/** Phase 3: the read side of the object store. */
object FilePipelineReplay {
  final case class Replay(reemitted: Seq[(String, String, Int, String)],
                          archiveRows: Long, reprocessMs: Double,
                          compactMs: Double, readArchiveMs: Double,
                          incomingRead: Long, objectsRead: Long,
                          spans: Seq[(Long, String, Double, Double)])

  def replay(spark: SparkSession, store: String,
             rec: Recorder = new Recorder(false), parent: Long = -1L): Replay = {
    val spans = mutable.ArrayBuffer.empty[(Long, String, Double, Double)]
    def step[A](name: String)(f: => A): (A, Double) = {
      val t0 = Clock.nowMs
      var sid = -1L
      val r = rec.span(parent, name, "sinks", name, 2) { id => sid = id; f }
      val t1 = Clock.nowMs
      spans += ((sid, name, t0, t1))
      (r, t1 - t0)
    }
    val (rows, reMs) = step("reprocess") {
      FilePipeline.reprocess(spark, store)
        .select(col("correlationId"), col("fileName"), col("deliveryCount"),
          sha2(col("body"), 256).as("sha"))
        .collect().toSeq
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3)))
    }
    val incoming = countFiles(Path.of(store, "incoming"))
    val reports = countFiles(Path.of(store, "failed"))
    val (_, compactMs) = step("compact") {
      graft.sinks.ObjectStore.compactIncoming(spark, store)
    }
    val (n, readMs) = step("read_archive") {
      graft.sinks.ObjectStore.readArchive(spark, store).count()
    }
    Replay(rows, n, reMs, compactMs, readMs, incoming,
      reports + 2 * incoming, spans.toSeq)
  }

  def countFiles(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).count() finally s.close()
    }
}

/** Output checks for `transfer`: every document reaches exactly its planned
  * outcome at its deterministic key, and nothing else is in the store.
  */
object TransferCheck {
  final case class Result(problems: Seq[(Int, String)], extra: Seq[String],
                          objects: Long, bytes: Long, breakerRejects: Int)

  def check(store: Path, plans: Seq[DocPlan], createdMs: Array[Long],
            results: Map[String, String]): Result = {
    val files = mutable.Map.empty[String, Path]
    Seq("incoming", "processed", "failed").foreach { d =>
      val root = store.resolve(d)
      if (Files.exists(root)) {
        val s = Files.walk(root)
        try s.filter(Files.isRegularFile(_)).forEach { f =>
          files(store.relativize(f).toString.replace('\\', '/')) = f
        } finally s.close()
      }
    }
    var bytes = 0L
    files.values.foreach(f => bytes += Files.size(f))
    val objects = files.size.toLong
    val problems = mutable.ArrayBuffer.empty[(Int, String)]
    var rejects = 0
    plans.foreach { p =>
      val base = s"${Transfer.createdDay(createdMs(p.idx))}/${p.correlationId}/${p.fileName}"
      val inc = s"incoming/$base"
      val proc = s"processed/$base.json"
      val fail = s"failed/$base.failure.json"
      val expected: Set[String] = p.outcome match {
        case "ok" | "transient" => Set(inc, proc)
        case "permanent" => Set(inc, fail)
        case _ => Set(fail)
      }
      expected.foreach { k =>
        if (!files.contains(k)) problems += ((p.idx, s"missing object $k"))
      }
      Seq(inc, proc, fail).filterNot(expected).foreach { k =>
        if (files.contains(k)) problems += ((p.idx, s"unexpected object $k"))
      }
      files.get(inc).filter(_ => expected(inc)).foreach { f =>
        if (TransferGen.sha256Hex(Files.readAllBytes(f)) != p.checksum)
          problems += ((p.idx, "incoming body does not match its checksum"))
      }
      files.get(proc).filter(_ => expected(proc)).foreach { f =>
        val got = new String(Files.readAllBytes(f), "UTF-8")
        if (!results.get(p.correlationId).contains(got))
          problems += ((p.idx, "processed JSON differs from the Docling result"))
      }
      files.get(fail).filter(_ => expected(fail)).foreach { f =>
        val j = Json.parse(new String(Files.readAllBytes(f), "UTF-8"))
        val exc = Option(j.get("exception")).map(_.asText).getOrElse("")
        if (exc.contains("circuit breaker")) rejects += 1
        val want =
          if (p.valid) s"docling: permanent failure for ${p.correlationId}"
          else p.invalidReason
        if (exc != want)
          problems += ((p.idx, s"failure report says '$exc', expected '$want'"))
        if (Option(j.get("correlationId")).map(_.asText).orNull != p.correlationId)
          problems += ((p.idx, "failure report names another document"))
      }
      files --= expected
      files --= Seq(inc, proc, fail)
    }
    Result(problems.toSeq, files.keys.toSeq.sorted, objects, bytes, rejects)
  }
}
