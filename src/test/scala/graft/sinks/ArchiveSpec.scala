package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{TempDirs, TestSpark}

/** Compacted-archive sink: small-file consolidation, byte fidelity,
  * idempotent re-compaction, and point-lookup partition pruning.
  */
class ArchiveSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-archive-spec").toString

  /** Seed `n` objects across two ingest days via the exact-key put path. */
  private def seed(baseDir: String, n: Int): Unit =
    put(baseDir, (0 until n).map { i =>
      val day = if (i % 2 == 0) "2024/03/05" else "2024/03/06"
      (s"incoming/$day/corr-${i % 7}/doc_$i.pdf",
        s"body-$i".getBytes("UTF-8"))
    })

  private def put(baseDir: String, objs: Seq[(String, Array[Byte])]): Unit = {
    val bucket = ObjectStore.Bucket(spark, baseDir)
    objs.foreach { case (k, b) => bucket.put(k, b) }
  }

  test("compaction consolidates objects into few files, bytes survive round-trip") {
    val dir = freshDir()
    seed(dir, 120)
    ObjectStore.compactIncoming(spark, dir)
    val archived = ObjectStore.readArchive(spark, dir)
    assert(archived.count() == 120)
    // consolidation: two day partitions, far fewer parquet files than objects
    val parquetFiles = archived.inputFiles.length
    assert(parquetFiles < 30, s"archive still small-file-bound: $parquetFiles files")
    // byte fidelity through put -> binaryFile read -> parquet
    val back = ObjectStore
      .readArchiveObject(spark, dir, "incoming/2024/03/05/corr-0/doc_14.pdf")
      .collect()
    assert(back.length == 1)
    assert(new String(back(0).getAs[Array[Byte]]("body"), "UTF-8") == "body-14")
  }

  test("re-running compaction is idempotent (dynamic overwrite, no append dups)") {
    val dir = freshDir()
    seed(dir, 40)
    ObjectStore.compactIncoming(spark, dir)
    ObjectStore.compactIncoming(spark, dir)
    assert(ObjectStore.readArchive(spark, dir).count() == 40)
    // overwrite mode is a per-write option; the session conf is untouched
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("point lookup prunes to one day partition (numFiles metric)") {
    val dir = freshDir()
    seed(dir, 120)
    ObjectStore.compactIncoming(spark, dir)
    val all = ObjectStore.readArchive(spark, dir)
    val total = filesRead(all)
    val pruned = filesRead(
      ObjectStore.readArchiveObject(spark, dir,
        "incoming/2024/03/06/corr-1/doc_15.pdf"))
    assert(pruned < total,
      s"lookup did not prune partitions: read $pruned of $total files")
  }

  test("fileName containing '/' keeps its exact key through the archive") {
    val dir = freshDir()
    put(dir, Seq(
      ("incoming/2024/03/05/corr-1/sub/dir/doc.pdf", "nested".getBytes("UTF-8")),
      ("incoming/2024/03/05/corr-1/doc.pdf", "flat".getBytes("UTF-8"))))
    ObjectStore.compactIncoming(spark, dir)
    val nested = ObjectStore.readArchiveObject(spark, dir,
      "incoming/2024/03/05/corr-1/sub/dir/doc.pdf").collect()
    assert(nested.length == 1)
    assert(new String(nested(0).getAs[Array[Byte]]("body"), "UTF-8") == "nested")
    // the two keys stay distinct — no collapse onto a reassembled key
    assert(ObjectStore.readArchive(spark, dir).select("key").distinct().count() == 2)
  }

  test("day-scoped compaction reads and rewrites only that day") {
    val dir = freshDir()
    seed(dir, 40) // days 2024/03/05 and 2024/03/06
    ObjectStore.compactIncoming(spark, dir, day = Some("2024/03/05"))
    val archived = ObjectStore.readArchive(spark, dir)
    assert(archived.select("day").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("2024-03-05"))
    assert(archived.count() == 20)
    // the other day compacts later without touching the first
    ObjectStore.compactIncoming(spark, dir, day = Some("2024/03/06"))
    assert(ObjectStore.readArchive(spark, dir).count() == 40)
    intercept[IllegalArgumentException] {
      ObjectStore.compactIncoming(spark, dir, day = Some("2024-03-05"))
    }
  }

  test("non-conforming object path fails the compaction, never lands in a null partition") {
    val dir = freshDir()
    seed(dir, 4)
    // plant an object OUTSIDE the incoming/yyyy/MM/dd contract
    val stray = new java.io.File(s"$dir/incoming/stray/doc.pdf")
    stray.getParentFile.mkdirs()
    Files.write(stray.toPath, "stray".getBytes("UTF-8"))
    val e = intercept[Exception] { ObjectStore.compactIncoming(spark, dir) }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("non-conforming object path")),
      s"expected loud non-conforming-path failure, got: $e")
    // nothing was silently archived under the default partition
    val archive = new java.io.File(s"$dir/archive")
    assert(!archive.exists() ||
      !archive.listFiles().exists(_.getName.contains("HIVE_DEFAULT")))
  }

  test("malformed key (no date segment) fails loudly, not with a full scan") {
    val dir = freshDir()
    seed(dir, 4)
    ObjectStore.compactIncoming(spark, dir)
    intercept[IllegalArgumentException] {
      ObjectStore.readArchiveObject(spark, dir, "incoming/not-a-date/x.pdf")
    }
  }

  /** Files actually opened by the query's parquet scans (post-pruning). */
  private def filesRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
  }
}
