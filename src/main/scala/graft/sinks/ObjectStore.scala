package graft.sinks

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.{LongAccumulator, SerializableConfiguration}

/** Object-store sinks/sources (SURVEY.md §2A K1–K3, S4): exact
  * deterministic keys under a base URI — `file://` in tests, `s3a://` in
  * production. Exact keys (not Spark's part-file naming) are
  * load-bearing: they make at-least-once redelivery idempotent, the same
  * property the reference depends on (SURVEY.md §3.1 step 9). Every
  * object is put, fetched and listed by key through one primitive,
  * [[Bucket]]. Writes go through one per-partition writer,
  * [[writeObjects]], so a micro-batch stores its results, reports and
  * notifications in the same action that converts them; reads list their
  * keys once on the driver and fetch exactly the bodies they need.
  */
object ObjectStore {

  /** An empty, `.` or `..` segment anywhere in a `/`-separated path. */
  val UnsafeSegment: String = "(^|/)\\.{0,2}(/|$)"
  private val unsafeKey = UnsafeSegment.r

  /** Pipeline objects under a base URI, by key: `put`, `get` and a
    * recursive `list` of the keys under a prefix (a prefix never written
    * lists as empty). Keys are `/`-separated paths below the base; one
    * with an empty, `.` or `..` segment is refused, so no key names an
    * object outside the bucket or outside its own prefix.
    *
    * A `file:` or scheme-less base is served by `java.nio`. Hadoop's
    * local file system does the same I/O, but without the Hadoop native
    * library it sets the permission of every file and directory it
    * creates, and reads every listed file's, with a forked shell (on a
    * 4-vCPU VM: 5-10 ms a put and 7.5 ms a listed file, against
    * 0.07-0.28 ms a put with `java.nio`). A file name is encoded with the
    * JVM's file-name charset (`sun.jnu.encoding`), so a non-ASCII key
    * needs a UTF-8 locale; otherwise it fails loudly instead of being
    * stored under a mangled name. Every other scheme (`s3a://` in production) goes
    * through the Hadoop FileSystem with the session's Hadoop conf.
    */
  sealed trait Bucket extends Serializable {
    def put(key: String, body: Array[Byte]): Unit
    def get(key: String): Array[Byte]
    def list(prefix: String): Seq[String]

    protected def checked(key: String): String = {
      require(unsafeKey.findFirstIn(key).isEmpty,
        s"object key has an empty, '.' or '..' segment: $key")
      key
    }
  }

  object Bucket {
    def apply(spark: SparkSession, baseDir: String): Bucket = {
      val uri = new Path(baseDir).toUri
      if (uri.getScheme == null || uri.getScheme == "file")
        new LocalBucket(uri.getPath)
      else new HadoopBucket(baseDir,
        spark.sparkContext.broadcast(new SerializableConfiguration(
          org.apache.spark.sql.graft.bridge.hadoopConf(spark))))
    }
  }

  /** A directory on the local file system, through `java.nio`. */
  private final class LocalBucket(root: String) extends Bucket {
    @transient private lazy val rootPath = Paths.get(root)

    private def path(key: String) = rootPath.resolve(checked(key))

    def put(key: String, body: Array[Byte]): Unit = {
      val p = path(key)
      Files.createDirectories(p.getParent)
      Files.write(p, body)
    }

    def get(key: String): Array[Byte] = Files.readAllBytes(path(key))

    def list(prefix: String): Seq[String] = {
      val dir = path(prefix.stripSuffix("/"))
      if (!Files.isDirectory(dir)) Vector.empty
      else {
        val walk = Files.walk(dir)
        try walk.iterator.asScala.filter(Files.isRegularFile(_))
          .map(p => rootPath.relativize(p).toString).toVector.sorted
        finally walk.close()
      }
    }
  }

  /** Any Hadoop FileSystem, with the session's Hadoop conf — the
    * SparkContext's `spark.hadoop.*` settings plus the session's own (s3a
    * endpoint, credentials) — captured once on the driver and broadcast:
    * about 110 KB serialized, which every task would otherwise
    * deserialize again. Each task opens one FileSystem handle from it on
    * its first call; every call of that task shares the handle.
    */
  private final class HadoopBucket(baseDir: String,
                                   conf: Broadcast[SerializableConfiguration])
      extends Bucket {
    @transient private lazy val fs: FileSystem = {
      val fs = FileSystem.get(new Path(baseDir).toUri, conf.value.value)
      // local-FS checksum shadows (.name.crc) would pollute the exact-key
      // layout; object stores (s3a) don't have them anyway.
      fs.setWriteChecksum(false)
      fs
    }

    private def path(key: String) = new Path(s"$baseDir/${checked(key)}")

    def put(key: String, body: Array[Byte]): Unit = {
      val out = fs.create(path(key), true)
      try out.write(body) finally out.close()
    }

    def get(key: String): Array[Byte] = {
      val in = fs.open(path(key))
      try in.readAllBytes() finally in.close()
    }

    /** `listFiles(recursive)`: a flat paged LIST on s3a. */
    def list(prefix: String): Seq[String] = {
      val base = fs.makeQualified(new Path(baseDir)).toUri.getPath
        .stripSuffix("/") + "/"
      val out = Vector.newBuilder[String]
      try {
        val it = fs.listFiles(path(prefix.stripSuffix("/")), true)
        while (it.hasNext) out += it.next().getPath.toUri.getPath.stripPrefix(base)
      } catch { case _: FileNotFoundException => () }
      out.result().sorted
    }
  }

  /** `(key, body)` rows for `keys`, each body fetched by the task that
    * holds its key. The keys travel in the RDD's partitions, not in the
    * plan as a literal.
    */
  private def fetch(spark: SparkSession, bucket: Bucket,
                    keys: Seq[String]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(keys)
        .mapPartitions(_.map(k => Row(k, bucket.get(k)))),
      StructType(Seq(StructField("key", StringType),
                     StructField("body", BinaryType))))

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
    * rewrite, never an append-duplicate. A prefix with no objects writes
    * nothing.
    *
    * Pass `day = Some("yyyy/MM/dd")` in production: the listing and read
    * are then scoped to that day's prefix, so per-closed-day compaction
    * is O(one day's objects), not O(all history). `day = None` reads the
    * whole store — the bootstrap/backfill path only.
    *
    * The keys are listed once, on the driver; each task fetches the
    * bodies of its share of them. The archive key is the object's exact
    * key, so fileNames containing '/' keep it and point lookups never
    * silently miss.
    *
    * `maxRecordsPerFile` bounds file size; rows flow from the fetching
    * tasks to the writer without a shuffle.
    */
  def compactIncoming(spark: SparkSession, baseDir: String,
                      day: Option[String] = None,
                      maxRecordsPerFile: Long = 50000): Unit = {
    day.foreach { d =>
      require(d.matches("\\d{4}/\\d{2}/\\d{2}"), s"day must be yyyy/MM/dd: $d")
    }
    // a key that doesn't match the incoming/yyyy/MM/dd/... contract
    // fails the compaction LOUDLY (raise_error inside the row pipeline —
    // no extra validation job): it would otherwise be filed under a day
    // partition no readArchiveObject lookup derives
    def write(objects: DataFrame): Unit = objects
      .select(
        when(col("key").rlike("^incoming/\\d{4}/\\d{2}/\\d{2}/."), col("key"))
          .otherwise(raise_error(concat(
            lit("compactIncoming: non-conforming object path (expected " +
              "incoming/yyyy/MM/dd/...): "), col("key"))))
          .as("key"),
        col("body"))
      .withColumn("day", translate(substring(col("key"), 10, 10), "/", "-"))
      // per-write option, not session conf: scoped to this job, nothing
      // to restore, concurrent writers unaffected
      .write.mode("overwrite").partitionBy("day")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(s"$baseDir/archive")
    val bucket = Bucket(spark, baseDir)
    val keys = bucket.list(day.fold("incoming")(d => s"incoming/$d"))
    if (keys.nonEmpty) write(fetch(spark, bucket, keys))
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

  /** The `correlationId/fileName` part of a dated pipeline key
    * (`incoming/yyyy/MM/dd/…`, `failed/yyyy/MM/dd/….failure.json`
    * without its suffix): the identity [[graft.ops.Envelope.withObjectKeys]]
    * builds every key of one document from.
    */
  private[graft] def documentOf(key: String): Option[String] =
    DatedKey.findFirstMatchIn(key).map(_.group(1))

  private val DatedKey = "^[^/]+/\\d{4}/\\d{2}/\\d{2}/(.+)$".r

  /** Failure reports back as a flat DataFrame (drives reprocess, E5);
    * a store without any reads as empty.
    */
  def readFailedReports(spark: SparkSession, baseDir: String): DataFrame = {
    val bucket = Bucket(spark, baseDir)
    failureReports(spark, bucket, bucket.list("failed"))
  }

  /** The reports at `keys`, parsed with [[failureReportSchema]]. */
  private[graft] def failureReports(spark: SparkSession, bucket: Bucket,
                                    keys: Seq[String]): DataFrame =
    fetch(spark, bucket, keys)
      .select(from_json(col("body").cast("string"), failureReportSchema)
        .as("r"))
      .select(col("r.status"), col("r.fileName"), col("r.correlationId"),
              col("r.transferId"), col("r.failureTimestamp"),
              col("r.redeliveryCount"), col("r.exception"),
              col("r.headers.contentType").as("contentType"),
              col("r.headers.fileSize").as("fileSize"),
              col("r.headers.checksum").as("checksum"))
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
