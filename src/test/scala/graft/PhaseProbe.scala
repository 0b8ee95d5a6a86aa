package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only phase-timing probe (test scope; never on the Bench/Verify
  * path): breaks a hot query into its internal phases and times each,
  * so optimization targets the measured cost instead of the guessed
  * one. Run: `sbt "Test/runMain graft.PhaseProbe <phase-set>"`.
  * Data dir from SPARK_GRAFT_SF_DIR, cores from SPARK_GRAFT_CPUS —
  * no hardcoded paths/masters (the TmpProbe lesson, VERDICT r17).
  */
object PhaseProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session()

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[phase] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    args.headOption.getOrElse("q204") match {
      case "amplify" =>
        // build the K× weak-scaling replica corpus (idempotent)
        val k = sys.env.getOrElse("SPARK_GRAFT_AMPLIFY_K", "8").toInt
        val dst = s"${sys.props("java.io.tmpdir")}/graft-sf-amp-$k"
        Scaling.amplifyCorpus(spark, sfDir, dst, k)
        println(s"[amplify] $dst ready")
      case "storage" =>
        // §5 evidence for the eager-materialization (localCheckpoint)
        // family: run each query once on the given corpus, then report
        // the PEAK block-store footprint its checkpoints reached
        // (memSize/diskSize over live RDD storage after the run — disk
        // bytes > 0 is the spill signal).
        val qs = sys.env.getOrElse("SPARK_GRAFT_STORAGE_QS",
          "q88_dup_spans,q224_extract_curate_pipeline," +
          "q204_label_propagation,q80_pagerank").split(",").toSeq
        for (q <- qs) {
          noop(SparkEntry.queries(q)(spark, sfDir))
          val infos = spark.sparkContext.getRDDStorageInfo
          val mem = infos.map(_.memSize).sum
          val dsk = infos.map(_.diskSize).sum
          println(f"[storage] $q%-30s blocks=${infos.length}%3d " +
            f"mem=${mem / 1048576.0}%9.1f MiB disk=${dsk / 1048576.0}%9.1f MiB")
          // sever references so the next query's reading is its own
          System.gc(); Thread.sleep(500)
        }
      case "q52" =>
        val t = new Tables(spark, sfDir)
        for (_ <- 1 to 1)
          noop(SparkEntry.queries("q52_dedup_clusters_bigstar")(spark, sfDir))
        for (pass <- 1 to 3) {
          println(s"-- pass $pass")
          val pairs = time("minhashPairs (ckpt)") {
            graft.ext.Dedup.minhashPairs(t.documents, col("doc_id"),
                col("text"), n = 3, threshold = 0.8)
              .select(col("id_a"), col("id_b"))
              .localCheckpoint(true)
          }
          time("clustersBigStar (noop)") {
            noop(graft.ext.Dedup.clustersBigStar(pairs)
              .orderBy(col("doc_id")))
          }
          time("clusters-LP (noop)") {
            noop(graft.ext.Dedup.clusters(pairs)
              .orderBy(col("doc_id")))
          }
        }
      case other =>
        // generic: warm twice, then 3 timed full runs
        val fn = SparkEntry.queries.getOrElse(other,
          SparkEntry.queries.keys.find(_.startsWith(other + "_")).map(SparkEntry.queries).getOrElse(
            sys.error(s"unknown query $other")))
        for (_ <- 1 to 2) noop(fn(spark, sfDir))
        for (pass <- 1 to 3)
          time(s"$other full (noop) pass $pass") { noop(fn(spark, sfDir)) }
    }
    spark.stop()
  }
}
