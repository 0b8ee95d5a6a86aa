package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure `DataFrame => DataFrame` projections for the file-transfer
  * envelope — the Spark form of the reference's header→property steps and
  * string templating (SURVEY.md §2A P1–P8). Everything here is built-in
  * `Column` expressions (codegen'd, prunable, pushdown-friendly); no UDFs.
  */
object Envelope {

  /** Kafka wire schema (what `spark.readStream.format("kafka")` yields). */
  val kafkaSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("headers", ArrayType(StructType(Seq(
      StructField("key", StringType),
      StructField("value", BinaryType)))))))

  /** Envelope schema after projection (SURVEY.md §1.1). */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("fileName", StringType),
    StructField("contentType", StringType),
    StructField("fileSize", LongType),
    StructField("transferId", StringType),
    StructField("checksum", StringType),
    StructField("correlationId", StringType),
    StructField("body", BinaryType),
    StructField("eventTime", TimestampType),
    StructField("deliveryCount", IntegerType)))

  /** Last occurrence of a header (Kafka legally allows repeated keys —
    * map_from_entries would throw DUPLICATED_MAP_KEY under the default
    * dedup policy and kill the query for the whole topic).
    */
  private def header(name: String): Column =
    try_element_at(
      filter(col("headers"), h => h.getField("key") === name), lit(-1))
      .getField("value").cast("string")

  /** P1: project the Kafka record into the typed envelope — one `select`
    * replaces the reference's eight setProperty steps
    * (camel/file-pipeline.yaml:27-66). The binary body is carried as-is;
    * downstream stages that don't need it must project it away *before*
    * any shuffle (100 MB rows are hostile to exchanges — SURVEY.md §7.4).
    */
  def fromKafka(df: DataFrame): DataFrame =
    df.select(
      header("fileName").as("fileName"),
      header("contentType").as("contentType"),
      // try_cast: a malformed numeric header must become a null (and be
      // routed to the DLQ by validation), not an ANSI CAST_INVALID_INPUT
      // that fails the whole stream
      header("fileSize").try_cast(LongType).as("fileSize"),
      header("transferId").as("transferId"),
      header("checksum").as("checksum"),
      coalesce(header("JMSCorrelationID"), col("key").cast("string"))
        .as("correlationId"),
      col("value").as("body"),
      col("timestamp").as("eventTime"),
      coalesce(header("JMSXDeliveryCount").try_cast(IntegerType), lit(1))
        .as("deliveryCount"))

  /** Ingest validation (absent in the reference — a missing fileName there
    * silently yields a null S3 key segment): rows failing the contract get
    * a non-null `invalidReason` and are routed to the DLQ branch.
    *
    * `requireEventTime`: in event-time mode a null eventTime would null
    * out the processing date, the object keys derived from it AND the
    * expiry predicate — route it to the DLQ. Processing-time mode keys by
    * current_timestamp instead, so a timestamp-less source stays valid
    * there (such rows simply never expire).
    */
  def withValidation(df: DataFrame,
                     requireEventTime: Boolean = true): DataFrame =
    df.withColumn("invalidReason",
      when(col("fileName").isNull || length(col("fileName")) === 0,
           "missing fileName")
        .when(col("correlationId").isNull, "missing correlationId")
        .when(col("checksum").isNull, "missing checksum")
        .when(col("fileSize").isNull || col("fileSize") < 0,
              "bad fileSize")
        .when(col("fileSize") > 100L * 1024 * 1024,
              "file exceeds 100MB limit")
        .when(lit(requireEventTime) && col("eventTime").isNull,
              "missing eventTime")
        .otherwise(lit(null).cast(StringType)))

  /** F3: producer-side file pattern filter (goanywhere-config.md:123). */
  def acceptedFileTypes(df: DataFrame, pattern: String = "(?i).*\\.(pdf|docx)$"): DataFrame =
    df.filter(col("fileName").rlike(pattern))

  /** P7: processing date — reference formats now() per message
    * (file-pipeline.yaml:62-66); we derive from event time so the layout
    * is stable under replay, with processing-time as the fallback.
    */
  def withProcessingDate(df: DataFrame, processingTimeMode: Boolean = false): DataFrame =
    df.withColumn("processingDate",
      date_format(
        if (processingTimeMode) current_timestamp() else col("eventTime"),
        "yyyy/MM/dd"))

  /** P3: deterministic object-store key templating
    * (file-pipeline.yaml:76-85,211-218; dlq-handler.yaml:91-98).
    * Determinism is what makes duplicate delivery idempotent (§3.1 step 9).
    */
  def withObjectKeys(df: DataFrame): DataFrame =
    // one projection: each Dataset step is analyzed eagerly, and this runs
    // on every pipeline micro-batch
    df.withColumns(scala.collection.immutable.ListMap(
      "s3IncomingKey" ->
        concat_ws("/", lit("incoming"), col("processingDate"),
                  col("correlationId"), col("fileName")),
      "s3ProcessedKey" ->
        concat(concat_ws("/", lit("processed"), col("processingDate"),
                         col("correlationId"), col("fileName")),
               lit(".json")),
      "s3FailedKey" ->
        concat(concat_ws("/", lit("failed"), col("processingDate"),
                         col("correlationId"), col("fileName")),
               lit(".failure.json"))))

  /** P4: Docling conversion request (file-pipeline.yaml:124-136) — built
    * with to_json(struct(...)) instead of string interpolation.
    */
  def withDoclingRequest(df: DataFrame, ocr: Boolean = true,
                         tableStructure: Boolean = true): DataFrame =
    df.withColumn("doclingRequest", to_json(struct(
      col("s3IncomingKey").as("source"),
      struct(
        regexp_extract(col("fileName"), "\\.([A-Za-z0-9]+)$", 1)
          .as("from_format"),
        lit("json").as("to_format"),
        lit(ocr).as("ocr"),
        lit(tableStructure).as("table_structure")).as("options"))))

  /** P5: the DLQ failure report as a JSON column
    * (dlq-handler.yaml:69-86) — nested headers struct, ISO-8601 failure
    * timestamp.
    */
  def failureReportJson(errorCol: Column, failureTime: Column): Column =
    to_json(struct(
      lit("FAILED").as("status"),
      col("fileName").as("fileName"),
      col("correlationId").as("correlationId"),
      col("transferId").as("transferId"),
      date_format(failureTime, "yyyy-MM-dd'T'HH:mm:ss.SSSXXX")
        .as("failureTimestamp"),
      col("deliveryCount").as("redeliveryCount"),
      errorCol.as("exception"),
      struct(
        col("contentType").as("contentType"),
        col("fileSize").as("fileSize"),
        col("checksum").as("checksum")).as("headers")))

  /** F2: the reference's one data-dependent predicate — circuit-breaker
    * failures routed separately (file-pipeline.yaml:183-184).
    */
  def isBreakerError(errorCol: Column): Column =
    errorCol.contains("circuit breaker")

  /** Checksum verification (computed producer-side in the reference,
    * goanywhere-config.md:158-165; we can actually enforce it).
    */
  def withChecksumOk(df: DataFrame): DataFrame =
    df.withColumn("checksumOk", sha2(col("body"), 256) === lower(col("checksum")))
}
