package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The co-purchase pair census, materialized ONCE per (session, corpus,
  * partition regime) — the [[ExtQueries.SharedClusterPass]] factoring
  * applied to the graph family: five queries (q122 triangles, q154 BFS,
  * q156 k-core, q161 weighted paths, q191 modularity) analyze the same
  * part co-purchase graph, and a production deployment derives them all
  * from one materialized edge table instead of re-running the
  * order-grouping + pair-kernel build per query. Every consumer's
  * RESULT is unchanged (each consumed either the distinct pair set or
  * the multiplicity census — both projections of this frame), so the
  * oracle hashes are untouched; only the repeated build cost is
  * factored out.
  *
  * Shape: one row per UNDIRECTED pair (a < b) with its co-order count
  * `c` — Θ(distinct pairs) rows (~1.2M at sf0.1 over ~20k parts), the
  * smallest frame every consumer can be derived from. Built with one
  * per-order groupBy + the codegen'd pair kernel + one pair-keyed
  * count, then `localCheckpoint` so lineage is cut and consumers scan
  * instead of recompute.
  */
private[analytics] object SharedGraph {
  /** Cached per session, corpus and partition regime ([[FixtureCache]]):
    * InvarianceSpec's re-partitioned runs get their own build. */
  def coPurchasePairs(spark: SparkSession, dir: String): DataFrame =
    FixtureCache.materialized(spark, "coPurchasePairs", dir) {
      new graft.Tables(spark, dir).lineitem
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .select(explode(
          graft.functions.SketchFns.pair_structs(col("ps"))).as("p"))
        .groupBy(col("p.id_a").as("a"), col("p.id_b").as("b"))
        .agg(count(lit(1)).as("c"))
    }

  /** The distinct undirected pair set (src < dst). */
  def undirected(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(spark, dir)
      .select(col("a").as("src"), col("b").as("dst"))

  /** Both directions of the distinct pair set. */
  def mirrored(spark: SparkSession, dir: String): DataFrame =
    coPurchasePairs(spark, dir)
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
}

