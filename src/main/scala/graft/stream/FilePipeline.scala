package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.enrich.{BreakerConfig, BreakerRegistry, DoclingClient, RetryPolicy}
import graft.ops.Envelope
import graft.sinks.ObjectStore

/** Typed record flowing through the enrichment stage. The binary body is
  * deliberately ABSENT: it is persisted to `incoming/` before enrichment
  * and the converter fetches it from the object store by key — the same
  * pointer-passing the reference uses (Docling reads from S3,
  * file-pipeline.yaml:129), and the only sane choice at 100 TB (never
  * shuffle 100 MB rows; SURVEY.md §7.4.4).
  */
final case class PipelineRecord(
    fileName: String,
    contentType: String,
    fileSize: Long,
    transferId: String,
    checksum: String,
    correlationId: String,
    eventTime: Timestamp,
    deliveryCount: Int,
    processingDate: String,
    s3IncomingKey: String,
    s3ProcessedKey: String,
    s3FailedKey: String,
    doclingRequest: String)

final case class EnrichedRecord(
    fileName: String,
    contentType: String,
    fileSize: Long,
    transferId: String,
    checksum: String,
    correlationId: String,
    eventTime: Timestamp,
    deliveryCount: Int,
    processingDate: String,
    s3IncomingKey: String,
    s3ProcessedKey: String,
    s3FailedKey: String,
    attempts: Int,
    doclingResult: Option[String],
    error: Option[String])

final case class PipelineConfig(
    retry: RetryPolicy = RetryPolicy(),
    breaker: BreakerConfig = BreakerConfig(),
    breakerName: String = "docling",
    processingTimeMode: Boolean = false,
    /** E4: messages older than this (vs. watermark/max event time) are
      * routed to the expiry branch, mirroring broker message expiry
      * (k8s/amq-broker.yaml:78).
      */
    expiry: Option[String] = None,
    /** Success-path notifications mirror (the reference's declared-but-
      * dead `file-transfer-notifications` address): when true, each
      * processed record also emits a notification object.
      */
    notifications: Boolean = false)

/** The main dataflow (SURVEY.md §3.1), batch-first: every stage is a pure
  * DataFrame/Dataset function; [[runStream]] applies the identical
  * transform per micro-batch via foreachBatch. Checkpoint + deterministic
  * object keys give effective exactly-once — the same idempotence argument
  * the reference relies on (§3.1 step 9).
  */
object FilePipeline {

  /** Envelope-shaped input → validated, keyed, request-carrying records
    * plus the invalid branch. Returns (valid, invalid).
    */
  def prepare(envelope: DataFrame, cfg: PipelineConfig = PipelineConfig())
      : (DataFrame, DataFrame) = {
    val validated = Envelope.withValidation(envelope,
      requireEventTime = !cfg.processingTimeMode)
    val invalid = validated.filter(col("invalidReason").isNotNull)
    val valid = Envelope.withDoclingRequest(
      Envelope.withObjectKeys(
        Envelope.withProcessingDate(
          validated.filter(col("invalidReason").isNull),
          cfg.processingTimeMode)))
    (valid, invalid)
  }

  /** X1+X2+E3: per-partition enrichment with pooled client, executor-local
    * circuit breaker and bounded in-batch retry, on the body-free record
    * (13 small columns). Given an `incoming` bucket, each record's raw
    * body is put to `incoming/` (K1) right before its conversion — the
    * reference's order (file-pipeline.yaml:76-167), so the converter may
    * fetch the object just stored — and goes no further than the put.
    */
  def enrich(prepared: DataFrame, client: DoclingClient,
             cfg: PipelineConfig = PipelineConfig(),
             incoming: Option[ObjectStore.Bucket] = None)
      : Dataset[EnrichedRecord] = {
    val record = struct(Seq("fileName", "contentType", "fileSize",
      "transferId", "checksum", "correlationId", "eventTime",
      "deliveryCount", "processingDate", "s3IncomingKey", "s3ProcessedKey",
      "s3FailedKey", "doclingRequest").map(col): _*)
    val body = if (incoming.isEmpty) lit(null).cast("binary") else col("body")
    prepared.select(record.as("_1"), body.as("_2"))
      .as(recordWithBody)
      .mapPartitions { it =>
        val breaker = BreakerRegistry.get(cfg.breakerName, cfg.breaker)
        it.map { case (r, body) =>
          incoming.foreach(_.put(r.s3IncomingKey, body))
          val outcome = cfg.retry.run(() =>
            breaker.call(() => client.convert(r.doclingRequest)))
          val (attempts, result, error) = outcome match {
            case Right((json, n)) => (n, Some(json), None)
            case Left((err, n)) => (n, None, Some(err))
          }
          EnrichedRecord(
            r.fileName, r.contentType, r.fileSize, r.transferId,
            r.checksum, r.correlationId, r.eventTime, r.deliveryCount,
            r.processingDate, r.s3IncomingKey, r.s3ProcessedKey,
            r.s3FailedKey, attempts, result, error)
        }
      }(enrichedRecord)
  }

  // derived once: reflective encoder derivation costs milliseconds, and
  // enrich runs on every micro-batch
  private lazy val recordWithBody =
    Encoders.tuple(Encoders.product[PipelineRecord], Encoders.BINARY)
  private lazy val enrichedRecord = Encoders.product[EnrichedRecord]

  /** E4: expiry branch — rows whose event time lags the batch's max by
    * more than `expiry` go to the expired side: (live, expired). The max
    * is a broadcast single-row aggregate, not a driver collect; in the
    * streaming path the watermark plays the role of the max.
    */
  def splitExpired(envelope: DataFrame, expiry: String): (DataFrame, DataFrame) = {
    val maxTs = envelope.select(max(col("eventTime")).as("__maxTs"))
    // null-safe equality: a null eventTime makes the age predicate null,
    // which plain filter/!filter would drop from BOTH branches — silent
    // loss. Such rows stay on the live side; downstream, event-time-mode
    // validation routes them to the DLQ ("missing eventTime"), while
    // processing-time mode accepts them (keyed by current_timestamp —
    // they simply never expire).
    val tagged = envelope.crossJoin(broadcast(maxTs))
      .withColumn("__expired",
        (col("eventTime") < col("__maxTs") - expr(s"INTERVAL $expiry"))
          <=> lit(true))
    (tagged.filter(!col("__expired")).drop("__expired", "__maxTs"),
     tagged.filter(col("__expired")).drop("__expired", "__maxTs"))
  }

  /** One micro-batch (or one batch job) as ONE Spark action: per valid
    * row, store the raw body, convert, then store the Docling JSON or a
    * failure report — the reference's per-message order (SURVEY.md
    * §3.1). Contract-invalid and expired rows join the same writer as
    * failure reports through a narrow union (no shuffle). Nothing is
    * persisted and no conversion runs twice. `outDir` stands in for the
    * S3 bucket (s3a:// in production).
    *
    * The metrics ride that action: one `observe()` (a CollectMetrics
    * node) counts the written objects by kind, so a batch costs exactly
    * its writes — no count() jobs. The same observation surfaces in
    * streaming progress events for [[graft.sinks.PipelineListener]].
    */
  def runBatch(envelope: DataFrame, outDir: String, client: DoclingClient,
               cfg: PipelineConfig = PipelineConfig()): BatchMetrics = {
    val spark = envelope.sparkSession
    // Enrichment (external calls) and object puts are latency-bound: their
    // parallelism is the partition count. Kafka micro-batches arrive
    // pre-partitioned; a single-file batch input arrives as one partition
    // and would serialize the whole pipeline — spread it once, up front
    // (the only point where bodies may cross an exchange).
    // queryExecution.toRdd: partition count without stacking the row-
    // deserializer lineage `.rdd` would add.
    val target = spark.sparkContext.defaultParallelism
    val spreadEnv =
      if (envelope.isStreaming
          || envelope.queryExecution.toRdd.getNumPartitions >= target)
        envelope
      else envelope.repartition(target)
    // E4: configured expiry routes stale rows to the DLQ branch before
    // any processing (the broker-expiry analog); they become failure
    // reports with an "expired" exception.
    val (liveEnv, expired) = cfg.expiry match {
      case Some(age) =>
        val (live, old) = splitExpired(spreadEnv, age)
        (live, Seq(reportObjects(old, lit(s"expired: exceeded $age"), "expired")))
      case None => (spreadEnv, Nil)
    }
    val (valid, invalid) = prepare(liveEnv, cfg)
    val bucket = ObjectStore.Bucket(spark, outDir)
    // the union's partitions run in order: the cheap report branches go
    // first, so their tasks don't queue behind the conversions
    val objects = (
      reportObjects(invalid, col("invalidReason"), "invalid") +: expired
        :+ outcomeObjects(enrich(valid, client, cfg, Some(bucket)).toDF(),
                          cfg.notifications)).reduce(_ unionByName _)
    val kinds = Seq("processed", "failed", "invalid", "expired")
    val counts = kinds.map(k => count(when(col("kind") === k, true)).as(k))
    val obs = Observation()
    ObjectStore.writeObjects(objects.observe(obs, counts.head, counts.tail: _*),
      bucket)
    // the write action has finished, so this never waits
    val n = kinds.map(k => k -> obs.get(k).asInstanceOf[Long]).toMap
    BatchMetrics(n("processed") + n("failed"), n("processed"), n("failed"),
      n("invalid") + n("expired"))
  }

  /** A conversion outcome as its objects, in one codegen'd projection:
    * the Docling JSON under `processed/` (K2, file-pipeline.yaml:207-240)
    * or a failure report under `failed/` (K3, dlq-handler.yaml:69-98);
    * with `notifications`, a processed record also emits its
    * notification object ([[ObjectStore.notificationKey]]).
    */
  private def outcomeObjects(outcomes: DataFrame,
                             notifications: Boolean): DataFrame = {
    val ok = col("error").isNull
    val result = storeObject(when(ok, "processed").otherwise("failed"),
      when(ok, col("s3ProcessedKey")).otherwise(col("s3FailedKey")),
      when(ok, col("doclingResult")).otherwise(
        Envelope.failureReportJson(col("error"), current_timestamp())),
      !ok)
    if (!notifications) outcomes.select(result: _*)
    else {
      val (obj, note) = (struct(result: _*), struct(storeObject(
        lit("notification"), ObjectStore.notificationKey,
        ObjectStore.notificationJson, lit(false)): _*))
      outcomes.select(inline(
        when(ok, array(obj, note)).otherwise(array(obj))))
    }
  }

  /** DLQ-handler projection (P2+P5, dlq-handler.yaml:26-98) for rows that
    * never reach Docling: a failure report under `failed/` per row.
    */
  private def reportObjects(rows: DataFrame, reason: Column,
                            kind: String): DataFrame =
    Envelope.withObjectKeys(Envelope.withProcessingDate(rows))
      .select(storeObject(lit(kind), col("s3FailedKey"),
        Envelope.failureReportJson(reason, current_timestamp()),
        lit(true)): _*)

  /** One row of [[ObjectStore.writeObjects]]' input, tagged with its kind. */
  private def storeObject(kind: Column, key: Column, text: Column,
                          report: Column): Seq[Column] =
    Seq(kind.as("kind"), key.as("key"), encode(text, "UTF-8").as("body"),
      report.as("report"))

  /** Structured Streaming driver: same batch core per micro-batch.
    * With a Kafka cluster the source is
    * `spark.readStream.format("kafka").option("subscribe", topic)` →
    * [[Envelope.fromKafka]]; tests drive this with MemoryStream instead
    * (no broker in this environment).
    */
  def runStream(envelopeStream: DataFrame, outDir: String,
                checkpointDir: String, client: DoclingClient,
                cfg: PipelineConfig = PipelineConfig()): StreamingQuery =
    envelopeStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatch(batch, outDir, client, cfg): Unit
      }
      .start()

  /** E5 implemented (the reference leaves reprocessing a TODO,
    * dlq-handler.yaml:184-188): read failure reports, resolve the original
    * payload from incoming/, re-emit envelope rows ready for resubmission.
    */
  def reprocess(spark: SparkSession, outDir: String,
                correlationId: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val reports = graft.sinks.ObjectStore.readFailedReports(spark, outDir)
    val filtered = correlationId match {
      case Some(id) => reports.filter(col("correlationId") === id)
      case None => reports
    }
    // join on the full (correlationId, fileName) identity — a correlation
    // id is NOT unique per file (it comes from JMSCorrelationID or the
    // Kafka key, and several files can share it), and processing-time-mode
    // redeliveries store the same file under several dates: keep only the
    // latest incoming copy per identity so a report re-emits exactly one
    // body, the newest
    val latest = Window
      .partitionBy(col("correlationId"), col("fileName"))
      .orderBy(col("incomingDate").desc)
    val incoming = graft.sinks.ObjectStore.readIncoming(spark, outDir)
      .withColumn("__rn", row_number().over(latest))
      .filter(col("__rn") === 1)
      .drop("__rn", "incomingDate")
    filtered.join(incoming, Seq("correlationId", "fileName"), "inner")
      .select(col("fileName"), col("contentType"), col("fileSize"),
              col("checksum"), col("transferId"), col("correlationId"),
              col("body"), current_timestamp().as("eventTime"),
              (col("redeliveryCount") + 1).as("deliveryCount"))
  }
}

final case class BatchMetrics(
    input: Long, processed: Long, failed: Long, invalid: Long)
