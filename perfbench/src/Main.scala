package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
                     rec: Recorder, listener: Option[JobListener],
                     cores: Int, work: Path, expectDir: Path,
                     recordExpected: Boolean) {
  def traced: Boolean = rec.enabled
}

/** What a workload reports back. `failed` counts operations (documents,
  * queries or operator runs) whose outcome was missing or wrong;
  * `problems` says which. `endToEnd` uses the generic metric names of
  * [[Main.EndToEnd]]; `report` carries the workload's own names, sample
  * counts and per-item detail for the artifact.
  */
final case class Outcome(attempted: Long, failed: Long,
                         problems: Seq[String],
                         setupS: Double,
                         endToEnd: Map[String, Double],
                         perLayer: Map[String, Double],
                         report: Map[String, Any])

/** Entry point: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --out DIR [--record-expected]`.
  *
  * Prints the workload report as one `report ` line, then the result
  * object as the last line of stdout. Exits 1 when any correctness check
  * failed.
  */
object Main {

  /** End-to-end metric names, in the order BENCHMARK.json lists them. */
  val EndToEnd: Seq[String] =
    Seq("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s",
      "work_s", "peak_rss_mb")

  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s", "work_s" -> "s", "peak_rss_mb" -> "MB")

  /** Per-layer metric names (BENCHMARK.json `per_layer`). A workload that
    * does not exercise a layer reports 0 for its metrics.
    */
  val PerLayer: Seq[String] = Seq(
    "self.wall_ms", "self.bench_ms", "self.stream_ms", "self.sinks_ms",
    "self.enrich_ms", "self.spark_ms", "self.analytics_ms",
    "self.streaming_ms",
    "stream.batches", "stream.jobs_per_batch", "stream.stages_per_batch",
    "stream.batch_ms_p50", "stream.batch_self_ms", "stream.queue_wait_ms",
    "stream.backlog_max_docs",
    "ops.invalid_docs",
    "enrich.calls", "enrich.calls_per_doc", "enrich.useful_ratio",
    "enrich.service_ms_sum", "enrich.inflight_mean", "enrich.inflight_max",
    "enrich.retry_wait_ms_sum", "enrich.breaker_rejects",
    "sinks.incoming_job_ms", "sinks.processed_job_ms", "sinks.failed_job_ms",
    "sinks.objects_written", "sinks.bytes_written",
    "sinks.put_ms_per_object",
    "sinks.reprocess_ms", "sinks.compact_ms", "sinks.read_archive_ms",
    "sinks.objects_read", "sinks.replay_read_ratio",
    "analytics.planning_ms", "analytics.pre_action_jobs",
    "analytics.pre_action_ms", "analytics.action_ms", "analytics.jobs",
    "analytics.stages", "analytics.tasks", "analytics.executor_run_ms",
    "analytics.executor_cpu_ms", "analytics.gc_ms",
    "analytics.scheduler_delay_ms", "analytics.core_utilization",
    "analytics.input_bytes", "analytics.shuffle_read_bytes",
    "analytics.shuffle_write_bytes", "analytics.spill_bytes",
    "analytics.materialized_bytes", "analytics.peak_exec_mem_bytes",
    "streaming.add_batch_ms", "streaming.query_planning_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms",
    "streaming.no_data_batches", "streaming.state_rows_total",
    "streaming.state_rows_updated", "streaming.state_rows_removed",
    "streaming.state_memory_bytes", "streaming.state_commit_ms",
    "streaming.state_update_ms", "streaming.state_removal_ms",
    "streaming.rocksdb_flush_ms", "streaming.rocksdb_checkpoint_ms",
    "streaming.output_ratio",
    "bench.generator_lag_ms_max", "bench.listener_callback_pct",
    "bench.cpu_steal_pct")

  /** Unit of a per-layer metric, from its name's suffix. */
  def unitOf(name: String): String =
    if (name.endsWith("_ms") || name.endsWith("_ms_p50") ||
        name.endsWith("_ms_sum") || name.endsWith("_ms_per_object")) "ms"
    else if (name.endsWith("_bytes") || name == "sinks.bytes_written") "bytes"
    else if (name.endsWith("_pct")) "%"
    else if (name.endsWith("_ratio") || name.endsWith("utilization")) "ratio"
    else "count"

  val Workloads: Seq[String] = Seq("transfer", "analytics", "stream_state")

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, out: Path, recordExpected: Boolean)

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w")
    val seconds = need("--seconds").toInt
    require(seconds >= 1, "--seconds must be >= 1")
    val trace = need("--trace")
    require(trace == "0" || trace == "1", "--trace must be 0 or 1")
    Args(w, need("--seed").toLong, seconds, trace == "1",
      Paths.get(need("--out")), argv.contains("--record-expected"))
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (all, steal) CPU ticks of the machine so far, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val v = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (v.sum, if (v.length > 7) v(7) else 0L)
    } finally f.close()
  }

  /** High-water resident set of this process, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val cores = Runtime.getRuntime.availableProcessors()
    val work = a.out.resolve(s"work-${a.workload}-${ProcessHandle.current().pid()}")
    Files.createDirectories(work)
    val steal0 = cpuTicks()
    val t0 = Clock.nowMs
    val spark = session(cores, work)
    val sessionS = (Clock.nowMs - t0) / 1000.0
    log(f"session started in $sessionS%.1f s")
    val listener = if (a.trace) {
      val l = new JobListener; spark.sparkContext.addSparkListener(l); Some(l)
    } else None
    val ctx = Ctx(spark, a.seed, a.seconds, new Recorder(a.trace), listener,
      cores, work, Paths.get("perfbench", "expected"), a.recordExpected)
    val o = try a.workload match {
      case "transfer" => Transfer.run(ctx)
      case "analytics" => Analytics.run(ctx)
      case "stream_state" => StreamState.run(ctx)
    } finally {
      spark.stop()
      deleteTree(work)
    }
    val rss = peakRssMb()
    val steal1 = cpuTicks()
    // the host's share of this machine's CPU time during the run
    val stealPct = 100.0 * (steal1._2 - steal0._2) / math.max(1L, steal1._1 - steal0._1)
    val e2e = o.endToEnd ++ Map("setup_s" -> (sessionS + o.setupS),
      "peak_rss_mb" -> rss)
    val missing = EndToEnd.filterNot(e2e.contains)
    require(missing.isEmpty, s"workload left metrics unset: $missing")
    val perLayer = o.perLayer + ("bench.cpu_steal_pct" -> stealPct)
    val metrics: Seq[(String, Double, String)] =
      if (a.trace) PerLayer.map(n => (n, perLayer.getOrElse(n, 0.0), unitOf(n)))
      else EndToEnd.map(n => (n, e2e(n), Units(n)))
    val correct = o.problems.isEmpty && o.failed == 0
    val report = scala.collection.immutable.ListMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> cores, "session_start_s" -> sessionS,
      "correct" -> correct, "attempted" -> o.attempted,
      "failed" -> o.failed,
      "error_ratio" -> o.failed.toDouble / math.max(1L, o.attempted),
      "problems" -> o.problems.take(50),
      "cpu_steal_pct" -> stealPct,
      "end_to_end" -> e2e, "per_layer" -> perLayer) ++ o.report
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(a.out.resolve(s"$tag.json"), Json.render(report).getBytes("UTF-8"))
    if (a.trace) writeSpans(ctx.rec, a.out.resolve(s"$tag.spans.jsonl"))
    o.problems.take(20).foreach(p => System.err.println(s"perfbench: CHECK FAILED: $p"))
    val result = scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics.map {
        case (n, v, u) => n -> scala.collection.immutable.ListMap(
          "value" -> v, "unit" -> u)
      }: _*))
    println("report " + Json.render(report))
    println(Json.render(result))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  private val started = Clock.nowMs

  /** Progress line on stderr, with seconds since the JVM started the run. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: [${(Clock.nowMs - started) / 1000}%6.1f s] $msg")

  def writeSpans(rec: Recorder, path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try rec.all.foreach { s =>
      w.write(Json.render(scala.collection.immutable.ListMap(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "req" -> s.reqId, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs)))
      w.newLine()
    } finally w.close()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f): Unit)
      finally s.close()
    }
}
