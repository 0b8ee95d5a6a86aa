package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN accuracy/cost census — the measurement that turns the IVF/PQ
  * knobs from folklore into numbers: every approximate configuration is
  * run against the SAME 100-query workload, timed (min-of-`runs` after
  * an untimed warm-up — the Bench discipline), and scored for
  * recall@k against the brute-force ground truth. Artifact: `ANN.md`
  * + `ann.json`, the vector sibling of STREAMBENCH.md (streaming
  * throughput) and SCALING.md (growth exponents).
  *
  * Recall here is EXACT, not sampled: the ground-truth and candidate
  * top-k sets are both tiny (queries × k rows) — the expensive side of
  * the measurement is producing them, never comparing them. Timing
  * includes each method's index/codebook construction (the honest
  * serve-from-cold cost; a served deployment amortizes it — that
  * amortized layout is what [[graft.ext.AnnIndex]] and its q64/q127
  * oracle rows measure instead).
  *
  * ExtSpec pins recall FLOORS (monotonicity in probes, kmeans ≥
  * sign-bit) in `sbt test`; this main records the actual curve at the
  * bench scale so a capacity plan can pick the probes/rerank point.
  */
object AnnBench {

  final case class Row(config: String, wallSec: Double, recall: Double,
                       outRows: Long)

  /** Corpus fraction each configuration scores with the exact kernel —
    * the knob that dominates cost at corpus scale (sign-bit radius r
    * probes Σ_{i≤r} C(4,i) of 16 cells; k-means probes `probes`/16;
    * PQ scans ALL codes at 8 bits/subspace then re-ranks rerank·k
    * floats per query).
    */
  private val scannedFraction = Map(
    "brute_force" -> "16/16 floats",
    "ivf_signbit_r0" -> "1/16 floats",
    "ivf_signbit_r1" -> "5/16 floats",
    "ivf_signbit_r2" -> "11/16 floats",
    "ivf_kmeans_p1" -> "1/16 floats",
    "ivf_kmeans_p2" -> "2/16 floats",
    "ivf_kmeans_p4" -> "4/16 floats",
    "pq_rerank2" -> "codes only + 2k floats/query",
    "pq_rerank4" -> "codes only + 4k floats/query")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_ANN_RUNS", "3").toInt
    val k = 10
    val nQueries = 100
    val spark = Harness.session()

    val corpus = new Tables(spark, sfDir).embeddings
    val queries = corpus.filter(col("vec_id") < nQueries)
    import graft.ext.Similarity

    val configs: Seq[(String, () => DataFrame)] = Seq(
      "brute_force" ->
        (() => Similarity.bruteForceTopK(queries, corpus, k)),
      "ivf_signbit_r0" ->
        (() => Similarity.ivfTopK(queries, corpus, k, bits = 4,
          probeRadius = 0)),
      "ivf_signbit_r1" ->
        (() => Similarity.ivfTopK(queries, corpus, k, bits = 4,
          probeRadius = 1)),
      "ivf_signbit_r2" ->
        (() => Similarity.ivfTopK(queries, corpus, k, bits = 4,
          probeRadius = 2)),
      "ivf_kmeans_p1" ->
        (() => Similarity.ivfKmeansTopK(queries, corpus, k, nCells = 16,
          probes = 1)),
      "ivf_kmeans_p2" ->
        (() => Similarity.ivfKmeansTopK(queries, corpus, k, nCells = 16,
          probes = 2)),
      "ivf_kmeans_p4" ->
        (() => Similarity.ivfKmeansTopK(queries, corpus, k, nCells = 16,
          probes = 4)),
      "pq_rerank2" ->
        (() => Similarity.pqTopK(queries, corpus, k, subspaces = 16,
          codebookSize = 16, rerank = 2)),
      "pq_rerank4" ->
        (() => Similarity.pqTopK(queries, corpus, k, subspaces = 16,
          codebookSize = 16, rerank = 4)))

    // ground truth once; (query, neighbor) pair set is queries×k rows
    val gt = Similarity.bruteForceTopK(queries, corpus, k)
      .select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val rows = configs.map { case (name, mk) =>
      val pairs = mk().select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val recall = pairs.count(gt.contains).toDouble / gt.size
      mk().foreach(_ => ()) // untimed warm-up
      val wall = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        mk().foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }.min
      println(f"[annbench] $name%-16s ${wall}%.2fs recall@$k=$recall%.3f")
      Row(name, wall, recall, pairs.length.toLong)
    }

    import Harness.{obj, str}
    def fmt(d: Double) = Harness.num(d, 3)
    val json = obj("sf" -> str(sfDir), "k" -> k, "n_queries" -> nQueries,
      "runs" -> runs, "configs" -> obj(rows.map(r => r.config -> obj(
        "wall_sec" -> fmt(r.wallSec), s"recall_at_$k" -> fmt(r.recall),
        "out_rows" -> r.outRows)): _*))
    java.nio.file.Files.write(java.nio.file.Paths.get("ann.json"),
      (json + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= "# ANN — measured recall/cost tradeoff\n\n"
    md ++= s"Protocol: `graft.AnnBench` main — $nQueries queries, top-$k,\n"
    md ++= s"corpus `$sfDir/embeddings.parquet`, local[${Harness.cpus}]; wall is\n"
    md ++= s"min-of-$runs after an untimed warm-up and INCLUDES index/\n"
    md ++= "codebook construction (serve-from-cold; the amortized serving\n"
    md ++= "layout is AnnIndex/q64/q127). recall@k is exact against the\n"
    md ++= "brute-force ground truth on the same workload. ExtSpec keeps\n"
    md ++= "the monotonicity/floor pins in `sbt test`; this artifact\n"
    md ++= "records the curve a capacity plan picks its operating point\n"
    md ++= "from. Sub-second walls at this corpus size are dominated by\n"
    md ++= "the fixed plan/shuffle constant — the RECALL column is the\n"
    md ++= "scale-invariant signal; the probe/rerank knobs set the\n"
    md ++= "scanned-candidate fraction that dominates cost at 100 TB.\n\n"
    md ++= s"| config | exact-scored fraction | wall s (min of $runs) " +
      s"| recall@$k | rows |\n"
    md ++= "|---|---|---|---|---|\n"
    rows.foreach { r =>
      md ++= s"| ${r.config} | ${scannedFraction(r.config)} " +
        s"| ${fmt(r.wallSec)} | ${fmt(r.recall)} | ${r.outRows} |\n"
    }
    val rec = rows.map(r => r.config -> r.recall).toMap
    md ++= "\nReading the curve: at equal scanned fraction (1/16) the\n"
    md ++= s"k-means cells beat the sign-bit quantizer — recall\n"
    md ++= s"${fmt(rec("ivf_kmeans_p1"))} vs ${fmt(rec("ivf_signbit_r0"))}\n"
    md ++= "— the data-adaptive cells earn their training pass. PQ trades\n"
    md ++= "a full 8-bit-code scan for touching almost no floats — the\n"
    md ++= "memory-bound regime's choice. Walls at this corpus size are\n"
    md ++= "plan-constant-dominated (brute wins on wall because it builds\n"
    md ++= "nothing); the fraction column is what scales, the wall column\n"
    md ++= "is the local overhead floor.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get("ANN.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[annbench] wrote ANN.md + ann.json (${rows.size} configs)")
    spark.stop()
  }
}
