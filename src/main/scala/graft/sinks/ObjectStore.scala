package graft.sinks

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

/** Object-store sinks/sources (SURVEY.md §2A K1–K3, S4): exact
  * deterministic keys under a base URI — `file://` in tests, `s3a://` in
  * production; the Hadoop FileSystem API abstracts both. Exact keys (not
  * Spark's part-file naming) are load-bearing: they make at-least-once
  * redelivery idempotent, the same property the reference depends on
  * (SURVEY.md §3.1 step 9). Writes go through one per-partition writer,
  * [[writeObjects]], so a micro-batch stores its results, reports and
  * notifications in the same action that converts them; the puts run
  * with the session's Hadoop conf ([[Bucket]]).
  */
object ObjectStore {

  /** A base URI (the bucket) with the session's Hadoop conf — the
    * SparkContext's `spark.hadoop.*` settings plus the session's own (s3a
    * endpoint, credentials) — captured once on the driver and broadcast:
    * about 110 KB serialized, which every task would otherwise
    * deserialize again. Each task opens one FileSystem handle from it,
    * on its first put; every put of that task shares the handle.
    */
  final class Bucket private (val baseDir: String,
                              conf: Broadcast[SerializableConfiguration])
      extends Serializable {
    @transient private lazy val fs: FileSystem = {
      val fs = FileSystem.get(new Path(baseDir).toUri, conf.value.value)
      // local-FS checksum shadows (.name.crc) would pollute the exact-key
      // layout; object stores (s3a) don't have them anyway.
      fs.setWriteChecksum(false)
      fs
    }

    def put(key: String, body: Array[Byte]): Unit = {
      val out = fs.create(new Path(s"$baseDir/$key"), true)
      try out.write(body) finally out.close()
    }
  }

  object Bucket {
    def apply(spark: SparkSession, baseDir: String): Bucket =
      new Bucket(baseDir, spark.sparkContext.broadcast(new SerializableConfiguration(
        org.apache.spark.sql.graft.bridge.hadoopConf(spark))))
  }

  /** The object writer: `(key, body, report)` rows put at their exact
    * keys, per partition, where the rows already are (no shuffle). A
    * failed object put fails the action. A failed report put (K3,
    * `failed/…`) is swallowed so a broken report store can't lose the DLQ
    * record — the reference does the same (dlq-handler.yaml:124) — and
    * each written report bumps the DLQ counter (K5,
    * dlq-handler.yaml:129-132).
    */
  def writeObjects(objects: DataFrame, bucket: Bucket): Unit = {
    val counter = PipelineMetrics.dlqCounter(objects.sparkSession)
    val Seq(k, b, r) = Seq("key", "body", "report").map(objects.schema.fieldIndex)
    objects.foreachPartition { (it: Iterator[Row]) =>
      it.foreach { row =>
        val (key, body) = (row.getString(k), row.getAs[Array[Byte]](b))
        if (!row.getBoolean(r)) bucket.put(key, body)
        else try { bucket.put(key, body); counter.add(1L) }
        catch { case NonFatal(_) => () }
      }
    }
  }

  /** K1: raw payload bytes to `incoming/yyyy/MM/dd/{correlationId}/{name}`
    * (key layout: camel/file-pipeline.yaml:76-85) for a keyed envelope.
    * The pipeline itself stores them inside its conversion pass.
    */
  def writeIncoming(valid: DataFrame, baseDir: String): Unit =
    writeObjects(
      valid.select(col("s3IncomingKey").as("key"), col("body"),
                   lit(false).as("report")),
      Bucket(valid.sparkSession, baseDir))

  /** S4: read raw incoming objects back (binaryFile source); the full
    * (processingDate, correlationId, fileName) identity is recovered from
    * the deterministic key layout — correlationId alone is NOT unique
    * (several files can share one correlation id, and processing-time
    * redeliveries of the same file land under different dates).
    */
  def readIncoming(spark: SparkSession, baseDir: String): DataFrame =
    readPrefix(spark, s"$baseDir/incoming", StructType(Seq(
        StructField("path", StringType), StructField("content", BinaryType)))) {
      spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(_)
    }.select(
        regexp_extract(col("path"),
          "incoming/(\\d{4}/\\d{2}/\\d{2})/[^/]+/[^/]+$", 1)
          .as("incomingDate"),
        regexp_extract(col("path"), "incoming/\\d{4}/\\d{2}/\\d{2}/([^/]+)/", 1)
          .as("correlationId"),
        regexp_extract(col("path"),
          "incoming/\\d{4}/\\d{2}/\\d{2}/[^/]+/([^/]+)$", 1)
          .as("fileName"),
        col("content").as("body"))

  /** Success-path notification key and payload over a processed record
    * — the ONE builder both notification sinks share ([[notificationRows]]
    * for the Kafka topic, the pipeline's object projection for the
    * `notifications/…` mirror), so their payloads cannot diverge. The
    * reference declares the `file-transfer-notifications` address but
    * never feeds it (k8s/amq-address.yaml:50-64).
    */
  def notificationKey: Column =
    concat(concat_ws("/", lit("notifications"), col("processingDate"),
                     col("correlationId"), col("fileName")),
           lit(".notification.json"))

  def notificationJson: Column =
    to_json(struct(
      lit("PROCESSED").as("status"),
      col("fileName").as("fileName"),
      col("correlationId").as("correlationId"),
      col("transferId").as("transferId"),
      col("s3ProcessedKey").as("s3ProcessedKey"),
      date_format(current_timestamp(),
        "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("processedTimestamp")))

  /** (correlationId, key, notification) per processed record, for
    * [[graft.sources.Sources.kafkaNotificationsWriter]].
    */
  def notificationRows(ok: DataFrame): DataFrame =
    ok.select(col("correlationId"), notificationKey.as("key"),
              notificationJson.as("notification"))

  val failureReportSchema: StructType = StructType(Seq(
    StructField("status", StringType),
    StructField("fileName", StringType),
    StructField("correlationId", StringType),
    StructField("transferId", StringType),
    StructField("failureTimestamp", StringType),
    StructField("redeliveryCount", IntegerType),
    StructField("exception", StringType),
    StructField("headers", StructType(Seq(
      StructField("contentType", StringType),
      StructField("fileSize", LongType),
      StructField("checksum", StringType))))))

  /** Small-file mitigation for the 100 TB archive. Per-object puts (K1)
    * buy exact-key idempotent redelivery, but one object per document is
    * the classic small-file problem at scale: listings go metadata-bound
    * and bulk scans seek-bound at millions of objects/day. This
    * compaction job consolidates a day's incoming objects into a
    * day-partitioned parquet table `archive/day=yyyy-MM-dd/` of
    * (key, body) rows: bulk consumers scan large columnar files instead
    * of objects, while exact-key point lookups stay cheap because the
    * day partition is derivable FROM the key itself — the lookup prunes
    * to one partition before touching data
    * ([[readArchiveObject]]).
    *
    * Idempotence: the job rewrites each day it saw via DYNAMIC partition
    * overwrite (only the days present in this run are replaced, complete
    * days each time) — re-running compaction for a day is a no-op
    * rewrite, never an append-duplicate.
    *
    * Pass `day = Some("yyyy/MM/dd")` in production: the listing and read
    * are then scoped to that day's prefix, so per-closed-day compaction
    * is O(one day's objects), not O(all history). `day = None` reads the
    * whole store — the bootstrap/backfill path only.
    *
    * The archive key is the object's FULL path suffix (not reassembled
    * from parsed segments), so fileNames containing '/' keep their exact
    * key and point lookups never silently miss.
    *
    * `maxRecordsPerFile` bounds file size; rows flow from their source
    * partitions without a shuffle.
    */
  def compactIncoming(spark: SparkSession, baseDir: String,
                      day: Option[String] = None,
                      maxRecordsPerFile: Long = 50000): Unit = {
    day.foreach { d =>
      require(d.matches("\\d{4}/\\d{2}/\\d{2}"), s"day must be yyyy/MM/dd: $d")
    }
    val root = day match {
      case Some(d) => s"$baseDir/incoming/$d"
      case None => s"$baseDir/incoming"
    }
    // a path that doesn't match the incoming/yyyy/MM/dd/... contract
    // fails the compaction LOUDLY (raise_error inside the row pipeline —
    // no extra validation job): regexp_extract's silent '' no-match would
    // otherwise file the object under the null day partition with an
    // empty key, unreachable by readArchiveObject
    val rawKey =
      regexp_extract(col("path"), "(incoming/\\d{4}/\\d{2}/\\d{2}/.+)$", 1)
    val rows = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
      .select(
        when(rawKey =!= "", rawKey)
          .otherwise(raise_error(concat(
            lit("compactIncoming: non-conforming object path (expected " +
              "incoming/yyyy/MM/dd/...): "), col("path"))))
          .as("key"),
        col("content").as("body"))
      .withColumn("day",
        translate(regexp_extract(col("key"),
          "^incoming/(\\d{4}/\\d{2}/\\d{2})/", 1), "/", "-"))
    // per-write option, not session conf: scoped to this job, nothing to
    // restore, concurrent writers unaffected
    rows.write.mode("overwrite").partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(s"$baseDir/archive")
  }

  /** The compacted archive as a table (bulk-scan path). The partition
    * column comes back as a plain string — partition-value type
    * inference would otherwise surface it as DATE, and a schema that
    * changes with inference settings is not a stable contract.
    * (The cast sits above the scan, so partition pruning on `day`
    * literals is unaffected.)
    */
  def readArchive(spark: SparkSession, baseDir: String): DataFrame =
    spark.read.parquet(s"$baseDir/archive")
      .withColumn("day", col("day").cast("string"))

  /** Exact-key point lookup against the archive: the day partition is
    * computed from the key string, so the scan prunes to one partition
    * (and parquet pushes the key equality into it) instead of reading
    * the whole archive.
    */
  def readArchiveObject(spark: SparkSession, baseDir: String,
                        key: String): DataFrame = {
    val day = "(\\d{4})/(\\d{2})/(\\d{2})".r.findFirstMatchIn(key)
      .map(m => s"${m.group(1)}-${m.group(2)}-${m.group(3)}")
      .getOrElse(throw new IllegalArgumentException(
        s"key carries no yyyy/MM/dd segment: $key"))
    readArchive(spark, baseDir)
      .filter(col("day") === day && col("key") === key)
      .select(col("key"), col("body"))
  }

  /** `read(dir)`, or no rows of `schema` when nothing was ever put under
    * the prefix (an empty DLQ, a store without valid documents): such a
    * store reads as empty instead of failing with PATH_NOT_FOUND.
    */
  private def readPrefix(spark: SparkSession, dir: String, schema: StructType)
                        (read: String => DataFrame): DataFrame = {
    val p = new Path(dir)
    if (p.getFileSystem(org.apache.spark.sql.graft.bridge.hadoopConf(spark))
          .exists(p)) read(dir)
    else spark.createDataFrame(java.util.List.of[Row](), schema)
  }

  /** Failure reports back as a flat DataFrame (drives reprocess, E5). */
  def readFailedReports(spark: SparkSession, baseDir: String): DataFrame =
    readPrefix(spark, s"$baseDir/failed", failureReportSchema) {
      spark.read.schema(failureReportSchema)
        .option("recursiveFileLookup", "true")
        .json(_)
    }.select(col("status"), col("fileName"), col("correlationId"),
              col("transferId"), col("failureTimestamp"),
              col("redeliveryCount"), col("exception"),
              col("headers.contentType").as("contentType"),
              col("headers.fileSize").as("fileSize"),
              col("headers.checksum").as("checksum"))
}

/** K5: pipeline metrics. The reference's per-file micrometer counter
  * becomes a Spark accumulator surfaced on the driver (a per-file *tag*
  * would be unbounded cardinality at scale; the reference's own alert
  * only uses the total — k8s/monitoring/alerts.yaml:40-49).
  */
object PipelineMetrics {
  @volatile private var acc: LongAccumulator = _
  def dlqCounter(spark: SparkSession): LongAccumulator = synchronized {
    if (acc == null)
      acc = spark.sparkContext.longAccumulator("file_pipeline_dlq_messages_total")
    acc
  }
  def reset(): Unit = synchronized { acc = null }
}
