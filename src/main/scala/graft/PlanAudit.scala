package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan

/** Registry-wide physical-plan census: for every registered query,
  * count the plan's exchanges (shuffles, broadcasts, exchange reuses),
  * sorts, whole-stage-codegen spans, and source scans — WITHOUT running
  * the query — and record them as an artifact (`PLANS.md` + `plans.json`
  * at the repo root). The per-query prose in the scaladocs argues plan
  * shapes ("one exchange", "broadcast, never shuffles"); this makes the
  * whole registry's shape a MEASURED baseline, and `PlanCensusSpec`
  * turns it into a regression gate: a change that silently adds a
  * shuffle to any query fails `sbt test`, the same way ScalingSpec
  * catches a lost-linearity regression by time.
  *
  * Census protocol:
  *  - AQE is disabled in the census session (`spark.newSession` with
  *    `spark.sql.adaptive.enabled=false`), so the census sees the STATIC
  *    plan Catalyst commits to before runtime re-planning. At execution
  *    time AQE can only improve on it (shuffle→broadcast conversion,
  *    partition coalescing), so the static count is the conservative
  *    upper bound — the right direction for a gate.
  *  - Counted at sf0.001: join-strategy choices depend on file-size
  *    statistics, and at this SF every dimension sits far below the
  *    10 MB auto-broadcast threshold, making the static plan stable
  *    across testdata regenerations.
  *  - Iterative operators (graph loops, k-means training) run jobs
  *    DURING query construction and return a final plan over
  *    checkpointed RDDs, so their census covers only the returned stage;
  *    their loop-body cost is measured by `graft.Scaling` instead — the
  *    two artifacts are complementary, not redundant.
  *  - `ReusedExchangeExec` is counted separately, not as a shuffle: a
  *    reuse is the OPTIMIZATION the lazy-composition scaladocs promise
  *    (one exchange, scanned twice), and counting it as a shuffle would
  *    penalize exactly that.
  */
object PlanAudit {

  final case class Census(shuffles: Int, broadcasts: Int, reused: Int,
                          sorts: Int, codegenSpans: Int, scans: Int,
                          unpartitionedWindows: Int) {
    def json: String = Harness.obj("shuffles" -> shuffles,
      "broadcasts" -> broadcasts, "reused" -> reused, "sorts" -> sorts,
      "wsc" -> codegenSpans, "scans" -> scans, "upw" -> unpartitionedWindows)
  }

  def census(plan: SparkPlan): Census = {
    val names = plan.collectWithSubqueries { case n => n.getClass.getSimpleName }
    // truly-unpartitioned windows: partitionSpec EMPTY, the shape Spark's
    // "No Partition Defined" warning flags. The registry must hold this
    // at zero — structurally bounded sites go through
    // [[graft.functions.BoundedWindow]], whose constant-valued (but
    // non-foldable) key keeps the spec non-empty; anything censused here
    // is an accidental whole-corpus single-partition window, and
    // PlanCensusSpec fails on it.
    val upw = plan.collectWithSubqueries {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.partitionSpec.isEmpty => w
    }.size
    Census(
      shuffles = names.count(_ == "ShuffleExchangeExec"),
      broadcasts = names.count(_ == "BroadcastExchangeExec"),
      reused = names.count(_ == "ReusedExchangeExec"),
      sorts = names.count(_ == "SortExec"),
      codegenSpans = names.count(_.startsWith("WholeStageCodegen")),
      scans = names.count(n =>
        n == "FileSourceScanExec" || n == "BatchScanExec" ||
          n == "RDDScanExec" || n == "ExternalRDDScanExec"),
      unpartitionedWindows = upw)
  }

  /** Census session: same context, independent SQLConf with AQE off. */
  def censusSession(spark: SparkSession): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Census of every registered query at `sfDir`, in registry order. */
  def auditAll(spark: SparkSession, sfDir: String): Seq[(String, Census)] = {
    val s = censusSession(spark)
    SparkEntry.all.map { q =>
      q.name -> census(q.run(s, sfDir).queryExecution.executedPlan)
    }
  }

  /** Runtime shuffle volume: (total bytes written across all shuffle
    * exchanges, max single exchange, output rows) — the static census
    * says how MANY exchanges a plan has; this says how HEAVY they run.
    * Executes the plan tree directly (same QueryExecution whose nodes
    * the metrics accumulate on) in the AQE-off census session, so the
    * measured exchanges are exactly the counted ones.
    */
  final case class ShuffleVolume(totalBytes: Long, maxBytes: Long,
                                 outputRows: Long)

  def shuffleVolume(spark: SparkSession, sfDir: String,
                    name: String): ShuffleVolume = {
    val s = censusSession(spark)
    val plan = SparkEntry.queries(name)(s, sfDir)
      .queryExecution.executedPlan
    val rows = plan.execute().count()
    val written = plan.collectWithSubqueries {
      case n if n.getClass.getSimpleName == "ShuffleExchangeExec" =>
        n.metrics.get("shuffleBytesWritten").map(_.value).getOrElse(0L)
    }
    ShuffleVolume(written.sum, if (written.isEmpty) 0L else written.max, rows)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = Harness.session()
    val rows = auditAll(spark, sfDir)

    val json = Harness.obj("sf" -> Harness.str(sfDir),
      "queries" -> Harness.obj(rows.map { case (n, c) => n -> c.json }: _*))
    java.nio.file.Files.write(java.nio.file.Paths.get("plans.json"),
      (json + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= "# PLANS — physical-plan census of every registered query\n\n"
    md ++= "Protocol: `graft.PlanAudit` main at sf0.001, AQE disabled (static\n"
    md ++= "plan = conservative upper bound; at runtime AQE only improves it).\n"
    md ++= "`shuffles` counts ShuffleExchange nodes, `bcast` BroadcastExchange,\n"
    md ++= "`reused` ReusedExchange (lazy-composition reuse — a feature, counted\n"
    md ++= "apart), `sorts` SortExec, `wsc` whole-stage-codegen spans, `scans`\n"
    md ++= "source scans. Iterative operators run their loops at CONSTRUCTION\n"
    md ++= "time over checkpointed intermediates, so their row here covers the\n"
    md ++= "returned final stage; `graft.Scaling` measures the loops by time.\n"
    md ++= "`PlanCensusSpec` gates `sbt test` on `shuffles` never exceeding the\n"
    md ++= "committed value for any query (improvements: refresh this artifact).\n\n"
    md ++= "| query | shuffles | bcast | reused | sorts | wsc | scans | upw |\n"
    md ++= "|---|---|---|---|---|---|---|---|\n"
    rows.foreach { case (n, c) =>
      md ++= s"| $n | ${c.shuffles} | ${c.broadcasts} | ${c.reused} " +
        s"| ${c.sorts} | ${c.codegenSpans} | ${c.scans} " +
        s"| ${c.unpartitionedWindows} |\n"
    }
    val tot = rows.map(_._2)
    md ++= s"\nTotals: ${tot.map(_.shuffles).sum} shuffles, " +
      s"${tot.map(_.broadcasts).sum} broadcasts, " +
      s"${tot.map(_.reused).sum} reuses across ${rows.size} queries.\n"

    // SPARK_GRAFT_PLANS_RUNTIME=<sfDir>: additionally EXECUTE each query
    // there and record measured shuffle volume — how heavy the counted
    // exchanges actually run. Informational (bytes track the data, so no
    // gate); sorted heaviest-first so the table reads as a review queue.
    sys.env.get("SPARK_GRAFT_PLANS_RUNTIME").foreach { runDir =>
      val vols = SparkEntry.all.map { q =>
        q.name -> shuffleVolume(spark, runDir, q.name)
      }.sortBy(-_._2.totalBytes)
      def mb(b: Long) = f"${b / 1048576.0}%.1f"
      md ++= s"\n## Runtime shuffle volume ($runDir, AQE off)\n\n"
      md ++= "| query | shuffle MB total | max single exchange MB | output rows |\n"
      md ++= "|---|---|---|---|\n"
      vols.foreach { case (n, v) =>
        md ++= s"| $n | ${mb(v.totalBytes)} | ${mb(v.maxBytes)} " +
          s"| ${v.outputRows} |\n"
      }
      md ++= f"\nTotal shuffled: ${mb(vols.map(_._2.totalBytes).sum)} MB " +
        s"across ${vols.size} queries.\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[planaudit] wrote PLANS.md + plans.json (${rows.size} queries)")
    spark.stop()
  }
}
