package graft.ext

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def undirected(pairs: (Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")

  test("star graph: the hub outranks every leaf; ranks are deterministic longs") {
    // hub 0 connected to leaves 1..8
    val edges = undirected((1L to 8L).map(i => (0L, i)): _*)
    val ranks = Graph.pageRank(edges, iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hub = ranks(0L)
    assert((1L to 8L).forall(l => ranks(l) < hub),
      s"a leaf outranks the hub: $ranks")
    // all leaves are symmetric -> identical integer ranks, no float jitter
    assert((1L to 8L).map(ranks).distinct.size == 1)
  }

  test("rank mass is conserved up to integer floor loss") {
    val edges = undirected((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 2L))
    val total = Graph.pageRank(edges, iterations = 4)
      .agg(sum(col("rank_pico"))).head().getLong(0)
    val mass = 1000000000000L
    // floor losses: bounded by (nodes + edges) picos per iteration
    assert(total <= mass && total > mass - 1000L,
      s"mass leak beyond floor losses: $total vs $mass")
  }

  test("directed graph with a dangling (dst-only) node is rejected loudly") {
    // node 2 never appears as src: its incoming mass would silently leak
    val edges = Seq((0L, 1L), (1L, 0L), (1L, 2L)).toDF("src", "dst")
    val e = intercept[IllegalArgumentException] {
      Graph.pageRank(edges, iterations = 2)
    }
    assert(e.getMessage.contains("dangling"))
  }

  test("results are invariant to input partitioning (integer arithmetic only)") {
    val edges = undirected((0L until 50L).map(i => (i, (i * 7 + 1) % 50)): _*)
    def ranksWith(parts: Int) =
      Graph.pageRank(edges.repartition(parts), iterations = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksWith(2) == ranksWith(13))
  }

  // ------------------------------------------------------- triangleCounts

  test("triangleCounts: K4, pendant path, and a triangle-free star") {
    // K4 on {0,1,2,3}: every vertex is in C(3,2)=3 triangles; vertex 4
    // hangs off 0 (no triangle); star 10-(11,12,13) is triangle-free
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val edges = undirected(k4 ++ Seq((0L, 4L), (10L, 11L), (10L, 12L),
      (10L, 13L)): _*)
    val got = Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"unexpected counts: $got")
  }

  test("triangleCounts: assumeCanonical on a canonical edge set is exact") {
    // distinct u < v input (the SharedGraph census contract): the
    // canonicalization-skipping fast path must match the general one
    // triangle-for-triangle
    val k4 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val canon = (k4 ++ Seq((0L, 4L), (10L, 11L), (10L, 12L), (10L, 13L)))
      .toDF("src", "dst")
    def m(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = m(Graph.triangleCounts(canon))
    assert(m(Graph.triangleCounts(canon, assumeCanonical = true)) == base)
  }

  test("triangleCounts: duplicate edges, self-loops, and one-directional input") {
    // one-directional edges with duplicates and a self-loop must count
    // the single triangle {1,2,3} exactly once per vertex
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (2L, 3L), (1L, 3L),
      (3L, 3L)).toDF("src", "dst")
    val got = Graph.triangleCounts(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("triangleCounts: hub-heavy graph is exact and partition-invariant") {
    // wheel graph: hub 0 + cycle 1..12 — the degree-ordered orientation
    // must not miscount at the hub: every one of the 12 triangles runs
    // through it, and each rim vertex sits in exactly the 2 triangles
    // formed with its two cycle neighbours (12 + 12*2 = 3*12 incidences)
    val rim = (1L to 12L).map(i => (i, if (i == 12L) 1L else i + 1))
    val spokes = (1L to 12L).map(i => (0L, i))
    def run(parts: Int) =
      Graph.triangleCounts(undirected((rim ++ spokes): _*).repartition(parts))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = run(1)
    assert(got(0L) == 12L)
    assert((1L to 12L).forall(i => got(i) == 2L), s"rim counts off: $got")
    assert(got == run(7))
  }

  // -------------------------------------------------------------- kCore

  test("ssspRelax: a longer-but-lighter path wins once the round budget allows it") {
    // 1 →(10) 2,  1 →(1) 3 →(2) 2: the two-edge path costs 3
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def dists(rounds: Int) = Graph.ssspRelax(edges, seeds, rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // one round: only the direct (heavy) edge is reachable
    assert(dists(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // two rounds: node 2 IMPROVES from 10 to 3 — the re-aggregation BFS
    // labeling cannot express
    assert(dists(2) == Map(1L -> 0L, 2L -> 3L, 3L -> 1L))
    // rounds beyond the diameter change nothing
    assert(dists(4) == dists(2))
  }

  test("ssspRelax: multi-seed minimum and zero rounds") {
    val edges = Seq((1L, 2L, 5L), (9L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(1L, 9L).toDF("node")
    val d = Graph.ssspRelax(edges, seeds, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 2 takes the cheaper seed's edge
    assert(d == Map(1L -> 0L, 9L -> 0L, 2L -> 1L))
    val d0 = Graph.ssspRelax(edges, seeds, rounds = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d0 == Map(1L -> 0L, 9L -> 0L))
  }

  test("kCore: K5 plus a pendant chain keeps exactly the clique at k=3") {
    val k5 = for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)
    val edges = undirected(k5 ++ Seq((0L, 10L), (10L, 11L)): _*)
    val got = Graph.kCore(edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 4L).map(_ -> 4L).toMap, s"unexpected core: $got")
  }

  test("kCore: peeling cascades down a tail, cycle survives at k=2") {
    // cycle 1-2-3-4 with tail 4-5-6: 6 peels first (deg 1), THEN 5
    // (its count drops to 1), the cycle is untouched
    val edges = undirected((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (4L, 5L), (5L, 6L))
    val got = Graph.kCore(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L),
      s"unexpected core: $got")
  }

  test("kCore: a tree has an empty 2-core; result is empty, not an error") {
    val edges = undirected((1L, 2L), (1L, 3L), (3L, 4L), (3L, 5L))
    assert(Graph.kCore(edges, k = 2).isEmpty)
  }

  test("kCore: partition-invariant and broadcast/shuffle-agnostic") {
    val k5 = for (a <- 0L to 4L; b <- 0L to 4L if a < b) yield (a, b)
    val edges = undirected(k5 ++ Seq((0L, 10L), (10L, 11L), (11L, 0L)): _*)
    def run(parts: Int) =
      Graph.kCore(edges.repartition(parts), k = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = run(1)
    assert(expect.keySet == (0L to 4L).toSet + 10L + 11L)
    assert(run(5) == expect)
  }

  private def weighted(pairs: (Long, Long, Long)*) =
    (pairs ++ pairs.map(p => (p._2, p._1, p._3)))
      .toDF("src", "dst", "w")

  test("labelPropagation: two cliques over a weak bridge become two communities") {
    // triangles {1,2,3} and {4,5,6}, intra weight 3, bridge (3,4) weight 1
    // — the canonical two-community fixture (VERDICT r13 item 2). The
    // expected labels are the hand-traced 3-round synchronous fixpoint
    // (min-label tie-break), not just "two groups":
    //   r1: 1→2 2→1 3→1 4→5 5→4 6→4 (all-singleton ties resolve min)
    //   r2: 1→1 2→1 3→1 4→4 5→4 6→4
    //   r3: stable — {1,2,3}→1, {4,5,6}→4
    val edges = weighted((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L),
      (4L, 5L, 3L), (4L, 6L, 3L), (5L, 6L, 3L), (3L, 4L, 1L))
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 4L, 5L -> 4L, 6L -> 4L), s"unexpected labels: $got")
    // the produced partition is BETTER than no partition: Q > 0 (and a
    // fortiori above the all-singletons baseline the q204 gate pins)
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = got.toSeq.toDF("node", "community")
    val q = Graph.modularity(und, comm)
      .agg(sum(col("q_contrib"))).head().getDouble(0)
    assert(q > 0.3, s"expected strongly positive modularity, got $q")
  }

  test("labelPropagation: weight beats count; ties resolve to the min label") {
    // node 1 has TWO light-weight neighbors voting label 2 (after r1
    // they hold their own ids 2,3... keep it one round to stay exact):
    // nbrs of 1 = {2 (w=1), 3 (w=1), 4 (w=3)} — round 1 votes are the
    // neighbors' own ids, so label 4 wins on weight despite 2+3 being
    // two voters; nbrs of 5 = {6 (w=2), 7 (w=2)} tie on weight → min 6
    val edges = weighted((1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 3L),
      (5L, 6L, 2L), (5L, 7L, 2L))
    val got = Graph.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == 4L, s"weighted argmax broken: $got")
    assert(got(5L) == 6L, s"min-label tie-break broken: $got")
  }

  test("labelPropagation: partition-invariant and broadcast/shuffle-agnostic") {
    val ring = (0L until 30L).map(i => (i, (i + 1) % 30, 1L + i % 3))
    val edges = weighted(ring: _*)
    def run(parts: Int) =
      Graph.labelPropagation(edges.repartition(parts), rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expect = run(1)
    assert(expect.keySet == (0L until 30L).toSet)
    assert(run(7) == expect)
    assert(run(13) == expect)
  }

  test("labelPropagation: mirroredInput round-1 specialization is exact") {
    // mirroredInput = true replaces round 1's join against the identity
    // labeling with a direct (src, dst) weight sum — must be label-for-
    // label identical on any MIRRORED edge list, across round counts.
    // Fixtures: the two-clique bridge graph (asymmetric weights,
    // tie-breaks) and a ring (long propagation chains).
    val cliques = weighted((1L, 2L, 3L), (1L, 3L, 3L), (2L, 3L, 3L),
      (4L, 5L, 3L), (4L, 6L, 3L), (5L, 6L, 3L), (3L, 4L, 1L))
    val ring = weighted((0L until 17L).map(i => (i, (i + 1) % 17, 1L + i % 3)): _*)
    for (edges <- Seq(cliques, ring); rounds <- Seq(1, 2, 3)) {
      val base = Graph.labelPropagation(edges, rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fast = Graph.labelPropagation(edges, rounds, mirroredInput = true)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(fast == base, s"divergence at rounds=$rounds: " +
        s"fast=$fast base=$base")
    }
  }

  test("modularity: shared degrees change nothing") {
    val und = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val comm = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("node", "community")
    val deg = und.select(col("src").as("node"))
      .unionAll(und.select(col("dst").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("deg"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("community")).collect().map(_.toSeq).toSeq
    val base = rows(Graph.modularity(und, comm))
    assert(rows(Graph.modularity(und, comm, degrees = Some(deg))) == base)
  }
}
