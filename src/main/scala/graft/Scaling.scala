package graft

import org.apache.spark.sql.SparkSession

/** Scale-trend measurement: runs the registry's most expensive queries at
  * every shipped scale factor and reports the empirical time-vs-rows
  * growth exponent per query — the measured answer to "would this plan
  * survive a 100× scale-up?" that the per-operator scaladocs argue
  * analytically.
  *
  * Exponent: for driving-table row counts n₁ < n₂ with min-of-`runs`
  * wall times t₁, t₂,  e = ln(t₂/t₁) / ln(n₂/n₁)  — e ≈ 1 is linear
  * scaling, e ≈ 2 quadratic. Only the LARGEST adjacent SF pair is used:
  * the small SFs are fixed-overhead-dominated (session, planning, codegen
  * floors of ~0.1–0.5 s swamp sub-second data costs), which BIASES the
  * measured exponent low — fine for a regression gate (a super-linear
  * blow-up inflates t₂, never t₁), but worth stating. The driving-table
  * row count, not an abstract "sf", is the denominator because the
  * generated tables do NOT all scale together (documents/embeddings are
  * flat from sf0.001 to sf0.01; embeddings grow 4× where lineitem grows
  * 10× — see TESTDATA.md).
  *
  * Two consumers:
  *  - `graft.Scaling` main: full protocol (all 3 SFs, min-of-3), writes
  *    `SCALING.md` + `scaling.json` — the recorded artifact.
  *  - [[graft.analytics.ScalingSpec]]: sf0.01→sf0.1, min-of-2, asserts
  *    every LINEAR-CLAIMED query's exponent stays under
  *    [[Scaling.linearExponentCap]] so an accidental all-pairs /
  *    cartesian regression in a linear-claimed plan fails the build,
  *    not the next bench round.
  */
object Scaling {

  /** (query, driving table) — the ~15 most expensive registry queries
    * (the BENCH_r08 top of the cost table), each tagged with the fact
    * table whose cardinality drives its cost.
    */
  val targets: Seq[(String, String)] = Seq(
    "q122_triangle_counts"       -> "lineitem",
    "q80_pagerank"               -> "lineitem",
    "q156_kcore"                 -> "lineitem",
    "q154_bfs_hops"              -> "lineitem",
    "q94_knn_pq"                 -> "embeddings",
    "q127_ann_index_upsert"      -> "embeddings",
    "q27_jaccard_pairs"          -> "documents",
    "q47_winnow_pairs"           -> "documents",
    "q44_dedup_clusters"         -> "documents",
    "q52_dedup_clusters_bigstar" -> "documents",
    "q75_dedup_canonical"        -> "documents",
    "q85_leakage_split"          -> "documents",
    "q88_dup_spans"              -> "documents",
    "q100_curation_pipeline"     -> "documents",
    "q131_data_profile"          -> "orders",
    "q160_prefix_jaccard_pairs"  -> "documents",
    "q161_weighted_paths"        -> "lineitem",
    "q165_delta_join_view"       -> "lineitem",
    "q167_layout_pruning"        -> "lineitem",
    "q168_bootstrap_ci"          -> "events",
    "q175_delta_join_retract"    -> "lineitem",
    "q177_delta_agg_retract"     -> "events",
    "q183_frequency_chunk_filter" -> "documents",
    "q190_sorted_neighbor_pairs" -> "part",
    "q191_modularity"            -> "lineitem",
    "q204_label_propagation"     -> "lineitem",
    "q206_domain_reputation"     -> "documents",
    "q224_extract_curate_pipeline" -> "documents",
    // web/media decode family (VERDICT r15 item 4 / r14 item 6): the
    // gunzip and pixel/byte-walk kernels are the CPU-bound map-side
    // stages whose 100× behavior matters — all claim linear in the
    // driving corpus
    "q210_jpeg_dhash"            -> "documents",
    "q216_warc_ingest"           -> "documents",
    "q220_web_pipeline"          -> "documents",
    "q221_warcgz_ingest"         -> "documents",
    "q225_warcgz_cdx_index"      -> "documents",
    "q226_mixed_corpus_unify"    -> "documents",
    "q233_docx_tables"           -> "documents",
    // CDC chunking: pure map-side per-document pass (the md5 boundary
    // rule is the oracle-replayability price) — linear by construction
    "q238_cdc_chunks"            -> "documents",
    "q246_cdc_bounded"           -> "documents",
    "q247_chunk_store"           -> "documents")

  /** Documented super-linear-BY-INTENT queries: q27 materializes exact
    * all-pairs Jaccard evidence and q47 exact winnowing-fingerprint
    * pair evidence — both are the small-corpus EXACT siblings whose
    * at-scale replacements (q28 banded LSH, df caps) are separately
    * recall-pinned. q160 computes the SAME exact pair set as q27 (its
    * prefix filter bounds the CANDIDATE join, not the output): on the
    * replica-amplified corpus, whose cross-replica near-dup groups grow
    * the true pair count ~K², its OUTPUT is super-linear by the same
    * intent even though its candidate generation is the at-scale path.
    * Everything else in [[targets]] claims ~linear.
    */
  val superLinearByIntent: Set[String] =
    Set("q27_jaccard_pairs", "q47_winnow_pairs", "q160_prefix_jaccard_pairs")

  /** Gate for linear-claimed queries. Intrinsic ~1.0 plus: sort/shuffle
    * log factors (≤ ~0.1 over a 10× step), and bench noise on multi-
    * second queries (±20% per endpoint ≈ ±0.17 exponent over a 10×
    * step, more over embeddings' 4× step). 1.45 clears all of that
    * while still failing hard on accidental quadratics (an all-pairs
    * regression measures e ≈ 1.8–2 even with the overhead bias).
    */
  val linearExponentCap: Double = 1.45

  final case class Point(sfDir: String, rows: Long, seconds: Double)
  final case class Trend(name: String, table: String, points: Seq[Point]) {
    /** Exponent over the largest adjacent SF pair; NaN when fewer than
      * two tiers were measured (a single-dir run has no pair — NaN
      * degrades the report instead of a MatchError losing the run
      * after all measurement work is done). */
    def exponent: Double = points.takeRight(2) match {
      case Seq(a, b) =>
        math.log(b.seconds / a.seconds) / math.log(b.rows.toDouble / a.rows)
      case _ => Double.NaN
    }
    def linearClaimed: Boolean = !superLinearByIntent.contains(name)
  }

  private def drivingRows(spark: SparkSession, dir: String,
                          table: String): Long = {
    val t = new Tables(spark, dir)
    val df = table match {
      case "lineitem"   => t.lineitem
      case "orders"     => t.orders
      case "documents"  => t.documents
      case "embeddings" => t.embeddings
      case "events"     => t.events
      case "part"       => t.part
      case other => sys.error(s"unknown driving table $other")
    }
    df.count()
  }

  /** Warm-up once then time `runs` executions per (query, sfDir); min.
    * `amplifiedDir`, when present, is appended as a fourth point for
    * LINEAR-CLAIMED queries only — the by-intent super-linear pair
    * queries would cost K²× there and prove nothing new.
    */
  def measure(spark: SparkSession, sfDirs: Seq[String],
              runs: Int, names: Seq[String] = targets.map(_._1),
              amplifiedDir: Option[String] = None): Seq[Trend] = {
    val byName = targets.toMap
    val allDirs = sfDirs ++ amplifiedDir
    val rowsOf = (for (d <- allDirs; t <- byName.values.toSeq.distinct)
      yield (d, t) -> drivingRows(spark, d, t)).toMap
    names.map { name =>
      val table = byName(name)
      val fn = SparkEntry.queries(name)
      val dirs = sfDirs ++
        (if (superLinearByIntent(name)) None else amplifiedDir)
      val points = dirs.map { dir =>
        def once(): Double = {
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once() // untimed warm-up: codegen/JIT/file-index
        val best = (1 to runs).map(_ => once()).min
        Point(dir, rowsOf((dir, table)), best)
      }
      Trend(name, table, points)
    }
  }

  /** Deterministically AMPLIFY a corpus K× into `dst` — the weak-scaling
    * probe the shipped SFs can't provide: at sf0.1 every expensive query
    * still carries a 0.1–0.5 s session/planning/codegen floor that biases
    * measured exponents toward 0, so a "would it survive 100×?" claim
    * rests on plan-shape argument alone. An 8× replica corpus puts the
    * biggest tier squarely in compute-dominated territory.
    *
    * Replica r offsets every entity id by r·10⁹ (foreign keys offset
    * together, so each replica is a self-consistent world: joins never
    * cross replicas, graph components stay replica-local — classic weak
    * scaling). Dimension tables (nation/region) are copied once.
    * Document text gets a per-replica suffix token — replicas of one doc
    * are ~0.95-Jaccard NEAR-duplicates, so dedup at the amplified tier
    * does real cross-replica work (exactly what a 100 TB corpus full of
    * boilerplate looks like) without the degenerate all-identical case.
    * Embedding vectors are copied unchanged except a r·10⁻³ nudge on the
    * last component (cells, which read leading-dim signs, are
    * preserved; exact-duplicate degeneracy is not).
    *
    * Idempotent per (src, k): a marker file records the build and
    * subsequent calls return immediately.
    */
  def amplifyCorpus(spark: SparkSession, src: String, dst: String,
                    k: Int): Unit = {
    import org.apache.spark.sql.functions._
    val marker = new java.io.File(s"$dst/_AMPLIFIED_${k}x")
    if (marker.exists()) return
    val off = 1000000000L
    val reps = spark.range(0, k).select(col("id").as("__rep"))
    def rep(table: String, idCols: Seq[String],
            extra: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.Column)
              => org.apache.spark.sql.DataFrame = (df, _) => df): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      val amped0 = base.crossJoin(reps)
      val amped1 = idCols.foldLeft(amped0) { (df, c) =>
        df.withColumn(c, col(c) + col("__rep") * off)
      }
      extra(amped1, col("__rep")).drop("__rep")
        .write.mode("overwrite").parquet(s"$dst/$table.parquet")
    }
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("events", Seq("event_id", "user_id"))
    rep("documents", Seq("doc_id"), (df, r) =>
      df.withColumn("text",
        concat(col("text"), lit(" rep"), r.cast("string"))))
    rep("embeddings", Seq("vec_id"), (df, r) =>
      df.withColumn("embedding",
        concat(slice(col("embedding"), lit(1), size(col("embedding")) - 1),
          array((element_at(col("embedding"), -1) +
            r.cast("float") * lit(0.001f)).cast("float")))))
    for (dim <- Seq("nation", "region"))
      spark.read.parquet(s"$src/$dim.parquet")
        .write.mode("overwrite").parquet(s"$dst/$dim.parquet")
    marker.createNewFile()
    ()
  }

  def main(args: Array[String]): Unit = {
    val sfDirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALING_RUNS", "3").toInt
    val spark = Harness.session()

    // SPARK_GRAFT_SCALING_AMPLIFY=8 adds a K×-sf0.1 weak-scaling tier
    // (see [[amplifyCorpus]]) for the linear-claimed queries — the
    // compute-dominated fourth point the shipped SFs cannot provide
    val ampK = sys.env.get("SPARK_GRAFT_SCALING_AMPLIFY").map(_.toInt)
    val ampDir = ampK.map { k =>
      val dst = s"${sys.props("java.io.tmpdir")}/graft-sf-amp-$k"
      println(s"[scaling] amplifying ${sfDirs.last} ${k}x -> $dst")
      amplifyCorpus(spark, sfDirs.last, dst, k)
      dst
    }

    val trends = measure(spark, sfDirs, runs, amplifiedDir = ampDir)

    import Harness.{arr, obj, str}
    def fmt(d: Double) = Harness.num(d, 3)
    val json = obj(trends.map { tr =>
      tr.name -> obj("table" -> str(tr.table),
        "points" -> arr(tr.points.map(p => obj("sf" -> str(p.sfDir),
          "rows" -> p.rows, "sec" -> fmt(p.seconds)))),
        "exponent" -> fmt(tr.exponent), "linear_claimed" -> tr.linearClaimed)
    }: _*)
    java.nio.file.Files.write(java.nio.file.Paths.get("scaling.json"),
      (json + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= "# SCALING — measured time-vs-rows growth\n\n"
    md ++= s"Protocol: `graft.Scaling` main, local[${Harness.cpus}], min-of-$runs after an\n"
    md ++= "untimed warm-up run, per scale factor. Exponent e = ln(t2/t1)/ln(n2/n1)\n"
    md ++= "over the LARGEST SF pair, n = driving-table rows (tables scale\n"
    md ++= "unevenly — see `graft.Scaling` scaladoc). e≈1 linear, e≈2 quadratic;\n"
    md ++= "small-SF fixed overhead biases e LOW, so the gate direction is safe.\n"
    md ++= s"Gate (ScalingSpec): linear-claimed queries must stay under e=${linearExponentCap}.\n"
    ampK.foreach { k =>
      md ++= s"\nThe amp$k tier is the ${k}x id-offset replica corpus of " +
        "sf0.1 (weak scaling:\nself-consistent replica worlds, near-dup " +
        "text across replicas — see\n`graft.Scaling.amplifyCorpus`). It " +
        "is compute-dominated, so its exponent\n(the one reported for " +
        "linear-claimed queries) is the meaningful answer to\nthe " +
        "100x question; by-intent super-linear queries are not run " +
        "there.\nReading the exponents: graph/dedup/profile land at " +
        "0.4-0.9 (sub-linear to\nlinear with log factors); the mild " +
        "outlier is BFS (broadcast-frontier cost\ngrows with frontier " +
        "size on top of the edge scan — the documented trade;\n" +
        "graph operators have one broadcast plan and assume a " +
        "broadcastable\nnode set, see `graft.ext.Graph`).\n"
    }
    md ++= "\n"
    val tierNames = sfDirs.map(_.split('/').last) ++
      ampK.map(k => s"amp$k")
    md ++= "| query | driving table | " +
      tierNames.map(t => s"t($t) s").mkString(" | ") +
      " | exponent | claim |\n"
    md ++= "|---|---|" + tierNames.map(_ => "---|").mkString + "---|---|\n"
    trends.foreach { tr =>
      val claim =
        if (tr.linearClaimed) "~linear" else "super-linear BY INTENT (exact all-pairs evidence; LSH sibling is the scale path)"
      val cells = tierNames.indices.map(i =>
        if (i < tr.points.size) fmt(tr.points(i).seconds) else "—")
      md ++= s"| ${tr.name} | ${tr.table} | " + cells.mkString(" | ") +
        s" | ${fmt(tr.exponent)} | $claim |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("SCALING.md"),
      (md.toString + "\n").getBytes("UTF-8"))
    println(s"[scaling] wrote SCALING.md + scaling.json (${trends.size} queries)")
    trends.foreach(tr => println(
      s"[scaling] ${tr.name} e=${fmt(tr.exponent)} " +
        tr.points.map(p => fmt(p.seconds)).mkString("[", ", ", "]")))
    spark.stop()
  }
}
