package graft

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON metrics line. Results are materialized through the
  * `noop` sink — `count()` would let Catalyst prune every computed column
  * and under-measure; noop computes all output columns without write I/O.
  *
  * Methodology (round-3 hardening): each query is timed
  * SPARK_GRAFT_BENCH_RUNS times (default 3) and the reported figure is
  * the per-query MINIMUM — the run least polluted by JIT warm-up, GC
  * pauses, and page-cache misses, i.e. the best estimate of the code's
  * intrinsic cost on this box (single runs on a shared JVM showed ±40%
  * swings on sub-5-s queries between byte-identical rounds; minima are
  * stable). All individual run times are preserved in the JSON file
  * output (SPARK_GRAFT_BENCH_OUT, default bench_out.json) so
  * noise-vs-regression questions can be answered from the artifact
  * itself; stdout still carries the single-line driver contract.
  */
object Bench {
  import Harness.{arr, num, obj, str}

  /** Fastest successful run; NaN when every run failed. */
  private def minOf(runs: Seq[Double]): Double = {
    val ok = runs.filterNot(_.isNaN)
    if (ok.isEmpty) Double.NaN else ok.min
  }

  private def total(times: Seq[(String, Seq[Double])]): Double =
    times.map(t => minOf(t._2)).filterNot(_.isNaN).sum

  // STDOUT keys are the short query ids (q01, q02, …): the driver
  // captures only the trailing ~2000 bytes of console output, and the
  // full-name map outgrew that window at 83 queries (BENCH_r05 came
  // back "parsed": null with the line's head truncated). Short ids keep
  // the line parseable at any realistic query count; the short→full
  // name mapping is documented in BASELINE.md and the full-name map
  // (with all run samples) is always in the file artifact.
  private def shortId(n: String): String = n.takeWhile(_ != '_')

  /** The one-line stdout contract. It carries 3 decimals per query (1 ms
    * — an order below run-to-run noise), which keeps the 258-query line
    * inside the driver's capture window (BenchLineSpec gates its
    * length); the full-precision figures stay in [[fileArtifact]].
    */
  def stdoutLine(sfDir: String, runs: Int, outPath: String,
                 times: Seq[(String, Seq[Double])]): String = {
    require(times.map(t => shortId(t._1)).distinct.size == times.size,
      "duplicate short query ids — stdout JSON keys would collide")
    obj("metric" -> str("total"), "value" -> num(total(times), 4),
      "unit" -> str("sec"),
      "queries" -> obj(times.map { case (n, t) =>
        shortId(n) -> num(minOf(t), 3) }: _*),
      "sf" -> str(sfDir), "runs" -> runs, "aggregation" -> str("min"),
      "names" -> str(s"short ids; full map in $outPath"))
  }

  /** The file artifact: every run's time per full query name, plus the
    * last error of a query whose run failed. */
  def fileArtifact(sfDir: String, runs: Int,
                   times: Seq[(String, Seq[Double])],
                   errors: collection.Map[String, String]): String =
    obj("metric" -> str("total"), "value" -> num(total(times), 4),
      "unit" -> str("sec"), "sf" -> str(sfDir), "runs" -> runs,
      "aggregation" -> str("min"),
      "queries" -> obj(times.map { case (n, t) => n -> num(minOf(t), 4) }: _*),
      "detail" -> obj(times.map { case (n, t) =>
        n -> obj(Seq("min" -> num(minOf(t), 4), "runs" -> arr(t.map(num(_, 4))))
          ++ errors.get(n).map("error" -> str(_)): _*)
      }: _*))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = Harness.session()
    // Untimed warm-up: JVM/codegen/file-index initialization otherwise
    // lands entirely on whichever query runs first.
    val warm = new Tables(spark, sfDir)
    Seq(warm.lineitem, warm.orders, warm.events, warm.documents,
        warm.embeddings).foreach {
      _.write.format("noop").mode("overwrite").save()
    }
    // Dev aid: SPARK_GRAFT_ONLY restricts the run to the named queries.
    // Unset in driver runs, so the recorded artifact always covers all.
    val queries = SparkEntry.queries
    val names = Harness.selected(queries.keys)
    // Untimed warm-up PASS (round-6 advisory): without it, each query's
    // first timed run pays its own codegen/JIT compilation — measured up
    // to ~50x on sub-second queries (q103 runs [52.4, 1.40, 1.08]) — so
    // min-of-3 was effectively min-of-2 real samples. One untimed
    // execution per query doubles the effective sample count for ~15%
    // wall cost; failures are ignored here and surface in the timed loop.
    for (name <- names)
      try queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(_) => () }
    // run-major order (all queries per pass, `runs` passes): consecutive
    // same-query runs would share hot caches and understate steady-state
    // cost; pass-major interleaving also means a transient JVM hiccup
    // degrades one PASS, not one query's whole sample
    val times = names.map(_ -> Array.fill(runs)(Double.NaN))
    val errors = scala.collection.mutable.Map[String, String]()
    for (r <- 0 until runs; (name, t) <- times) {
      val t0 = System.nanoTime()
      try {
        queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        t(r) = (System.nanoTime() - t0) / 1e9
      } catch {
        // NonFatal only: an OOM/LinkageError means a damaged JVM whose
        // later timings would be plausible-looking garbage — abort the
        // whole run instead of recording them
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[bench] $name run $r failed: ${e.getMessage}")
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    val samples = times.map { case (n, t) => n -> t.toSeq }
    val line = stdoutLine(sfDir, runs, outPath, samples)
    // stdout-capture budget (VERDICT r17 item 9): the driver keeps only
    // the console tail, and the 239-query line was once truncated. The
    // r17 line (3.7 KB at 258 queries) parsed, so 4 KB is a measured-
    // safe ceiling; BenchLineSpec gates growth at build time, and this
    // runtime warning is the last line of defense (never a throw — a
    // long line must not zero a driver round).
    if (line.length > 4096)
      System.err.println(s"[bench] WARNING: stdout JSON line is " +
        s"${line.length} B (> 4096 B capture budget) — shrink per-query " +
        "precision or shorten ids")
    // file artifact with the full sample, written BEFORE the stdout line
    // so a truncated/garbled console capture can always be reconstructed
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fileArtifact(sfDir, runs, samples, errors) + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }
}
