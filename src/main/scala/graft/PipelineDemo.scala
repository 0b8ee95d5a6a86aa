package graft

import org.apache.spark.sql.functions._
import graft.enrich.{LocalDocling, RetryPolicy}
import graft.stream.{FilePipeline, PipelineConfig}

/** End-to-end sample run of the file-transfer pipeline over the events
  * testdata: events → envelope → validate → incoming/ → enrich (stubbed
  * Docling) → processed/ + failed/ → reprocess. Usage:
  *   runMain graft.PipelineDemo [sfDir] [outDir]
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val spark = Harness.session()

    val envelope = new Tables(spark, sfDir).events.select(
      concat(lit("doc_"), col("event_id"), lit(".pdf")).as("fileName"),
      lit("application/pdf").as("contentType"),
      (col("event_id") % 90000000L + 1024L).as("fileSize"),
      concat(lit("GOANYWHERE-"), col("event_id")).as("transferId"),
      sha2(encode(col("props"), "UTF-8"), 256).as("checksum"),
      concat(lit("corr-"), col("user_id"), lit("-"), col("event_id"))
        .as("correlationId"),
      encode(col("props"), "UTF-8").as("body"),
      col("ts").as("eventTime"),
      lit(1).as("deliveryCount"))

    // docs with ids ending in 0 (10%) fail conversion permanently -> DLQ.
    // Breaker volume threshold is raised from the reference's 10: with 32
    // concurrent workers sharing the breaker, a 10-call window sees
    // 5-failure bursts from per-document (not service-health) failures
    // and false-trips; the window must exceed burst x concurrency.
    val docling = new LocalDocling(failSubstring = Some("0.pdf"))
    val metrics = FilePipeline.runBatch(envelope, outDir, docling,
      PipelineConfig(retry = RetryPolicy(sleeper = _ => ()),
        breaker = graft.enrich.BreakerConfig(requestVolumeThreshold = 1000)))
    println(s"pipeline metrics: $metrics")
    println(s"output layout under $outDir:")
    val failed = graft.sinks.ObjectStore.readFailedReports(spark, outDir)
    println(s"failure reports: ${failed.count()}")
    failed.show(3, truncate = false)
    val reprocessable = FilePipeline.reprocess(spark, outDir)
    println(s"reprocessable rows: ${reprocessable.count()}")

    // end-of-day compaction: the small-file mitigation for bulk consumers
    val t0 = System.nanoTime()
    graft.sinks.ObjectStore.compactIncoming(spark, outDir)
    val archive = graft.sinks.ObjectStore.readArchive(spark, outDir)
    println(f"archive: ${archive.count()} objects compacted into " +
      f"${archive.inputFiles.length} parquet files in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")
    spark.stop()
  }
}
