package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Envelope

/** Source assembly (SURVEY.md §2A S1–S5).
  *
  * The Kafka builders are pure configuration: `format("kafka")` resolves
  * the connector by name at runtime, so this compiles and ships without
  * the kafka-sql jar (absent in this environment) and binds to it on any
  * cluster that has it. Local tests drive the same downstream transforms
  * through MemoryStream / the file source instead.
  */
object Sources {

  /** S1/S2: the message-queue source. `topic` is the main transfer queue
    * or the DLQ; maxOffsetsPerTrigger is the backpressure knob standing in
    * for the reference's bounded consumer concurrency
    * (application.properties:45) and broker paging.
    */
  def kafkaEnvelope(spark: SparkSession, bootstrap: String, topic: String,
                    maxOffsetsPerTrigger: Long = 10000L): DataFrame =
    Envelope.fromKafka(
      spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .option("maxOffsetsPerTrigger", maxOffsetsPerTrigger)
        .option("includeHeaders", "true")
        .load())

  /** K4: DLQ producer config — carries the ORIGINAL envelope (the
    * reference's useOriginalMessage:true, file-pipeline.yaml:268), so the
    * payload re-enters the queue pristine.
    */
  def kafkaDlqWriter(failed: DataFrame, bootstrap: String, topic: String,
                     checkpoint: String) =
    failed
      .select(col("correlationId").cast("string").as("key"),
              col("body").as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Success-path notifications producer config (the
    * `file-transfer-notifications` address the reference declares but
    * never feeds — k8s/amq-address.yaml:50-64). `notifications` is the
    * output of [[graft.sinks.ObjectStore.notificationRows]] — the same
    * builder behind the object-store mirror, so both sinks carry the
    * identical payload. Config-only like [[kafkaDlqWriter]].
    */
  def kafkaNotificationsWriter(notifications: DataFrame, bootstrap: String,
                               checkpoint: String,
                               topic: String = "file-transfer-notifications") =
    notifications
      .select(col("correlationId").cast("string").as("key"),
              col("notification").cast("binary").as("value"))
      .writeStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** S5: the file-monitor source — the GoAnywhere directory watch
    * (goanywhere-config.md:111-136) as a streaming binaryFile scan with
    * the producer's pattern filter. maxFilesPerTrigger bounds batch size
    * the way the monitor's poll interval does.
    */
  def fileMonitor(spark: SparkSession, dir: String,
                  pattern: String = "(?i).*\\.(pdf|docx)$",
                  maxFilesPerTrigger: Int = 100): DataFrame = {
    val raw = spark.readStream.format("binaryFile")
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("path",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("modificationTime",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("length",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("content",
          org.apache.spark.sql.types.BinaryType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)
    toEnvelope(raw).filter(col("fileName").rlike(pattern))
  }

  /** binaryFile rows → envelope: the producer-side header derivation
    * (fileName/size/checksum/transferId/correlationId) the GoAnywhere
    * workflow performs (goanywhere-config.md:148-199), done relationally.
    */
  private def toEnvelope(raw: DataFrame): DataFrame =
    raw.select(
      element_at(split(col("path"), "/"), -1).as("fileName"),
      when(lower(col("path")).endsWith(".pdf"), "application/pdf")
        .when(lower(col("path")).endsWith(".docx"),
          "application/vnd.openxmlformats-officedocument.wordprocessingml.document")
        .otherwise("application/octet-stream").as("contentType"),
      col("length").as("fileSize"),
      // path hash mixed in: mtime alone collides for any batch copy
      // (1-second filesystems make same-mtime files near-certain)
      concat(lit("GOANYWHERE-"),
             unix_millis(col("modificationTime")).cast("string"),
             lit("-"), pmod(xxhash64(col("path")), lit(1000000L)))
        .as("transferId"),
      sha2(col("content"), 256).as("checksum"),
      sha2(concat(to_binary(element_at(split(col("path"), "/"), -1),
                            lit("utf-8")), col("content")), 256)
        .as("correlationId"),
      col("content").as("body"),
      col("modificationTime").as("eventTime"),
      lit(1).as("deliveryCount"))
}
