package graft.ext

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** Reference-implementation cross-checks for the graph operators on a
  * generated pseudo-random graph: a straightforward in-memory BFS /
  * peeling / wedge count / PageRank / label propagation is trivially
  * auditable, so agreement on a few-thousand-edge instance pins the
  * distributed formulations (orientation, frontier expansion, monotone
  * peel, lineage truncation) far beyond the hand-sized fixtures in
  * GraphSpec. The graph is a deterministic LCG draw — no RNG seed
  * plumbing, identical across runs and partitions.
  */
class GraphRandomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // deterministic multiplicative LCG over 400 nodes / 3000 edge draws
  private val n = 400
  private val rawEdges: Seq[(Long, Long)] = {
    var s = 12345L
    def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s }
    (1 to 3000).map { _ =>
      val a = Math.floorMod(next(), n).toLong
      val b = Math.floorMod(next(), n).toLong
      (a, b)
    }.filter { case (a, b) => a != b }
  }
  private val und: Set[(Long, Long)] =
    rawEdges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
  private val adj: Map[Long, Set[Long]] = {
    val m = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    und.foreach { case (a, b) => m(a) += b; m(b) += a }
    m.toMap.withDefaultValue(Set.empty)
  }

  private def edgesDf = {
    val dirs = und.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    dirs.toDF("src", "dst")
  }

  // deterministic weight per undirected edge — small enough that
  // longer-but-lighter paths and label-vote ties genuinely occur
  private def w(a: Long, b: Long): Long =
    1L + Math.floorMod(math.min(a, b) * 31 + math.max(a, b), 7)

  private def weightedDf = und.toSeq.flatMap { case (a, b) =>
    Seq((a, b, w(a, b)), (b, a, w(a, b))) }.toDF("src", "dst", "w")

  test("triangleCounts agrees with the in-memory wedge count") {
    val expect = adj.keys.map { v =>
      val nb = adj(v).toSeq
      val cnt = (for {
        i <- nb.indices.iterator; j <- (i + 1) until nb.size
        if adj(nb(i)).contains(nb(j))
      } yield 1).size
      v -> cnt.toLong
    }.filter(_._2 > 0).toMap
    val got = Graph.triangleCounts(edgesDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect,
      s"diff: ${(got.toSet diff expect.toSet).take(5)} / ${(expect.toSet diff got.toSet).take(5)}")
  }

  test("bfsHops agrees with the in-memory BFS from a seed set") {
    val seeds = (0L until n.toLong).filter(_ % 97 == 0).filter(adj(_).nonEmpty)
    val expect = {
      val dist = scala.collection.mutable.Map(seeds.map(_ -> 0): _*)
      var frontier = seeds.toSet
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        frontier.foreach(dist(_) = d)
      }
      dist.map { case (k, v) => k -> v }.toMap
    }
    val got = Graph.bfsHops(edgesDf, seeds.toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expect,
      s"diff: ${(got.toSet diff expect.toSet).take(5)} / ${(expect.toSet diff got.toSet).take(5)}")
  }

  test("ssspRelax agrees with the in-memory Bellman-Ford at each round bound") {
    val seeds = (0L until n.toLong).filter(_ % 97 == 0).filter(adj(_).nonEmpty)
    def expect(rounds: Int): Map[Long, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      for (_ <- 1 to rounds) {
        val relaxed = dist.toSeq.flatMap { case (u, d) =>
          adj(u).map(v => v -> (d + w(u, v))) }
        dist = (dist.toSeq ++ relaxed).groupBy(_._1)
          .map { case (k, vs) => k -> vs.map(_._2).min }
      }
      dist
    }
    for (rounds <- Seq(1, 3)) {
      val got = Graph.ssspRelax(weightedDf, seeds.toDF("node"), rounds)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = expect(rounds)
      assert(got == exp, s"rounds=$rounds diff: " +
        s"${(got.toSet diff exp.toSet).take(5)} / ${(exp.toSet diff got.toSet).take(5)}")
    }
  }

  test("kCore agrees with the in-memory peel at several k") {
    for (k <- Seq(2, 5, 8)) {
      val expect = {
        var alive = adj.keySet
        var stable = false
        while (!stable) {
          val next = alive.filter(v => (adj(v) & alive).size >= k)
          stable = next == alive
          alive = next
        }
        alive.map(v => v -> (adj(v) & alive).size.toLong).toMap
      }
      val got = Graph.kCore(edgesDf, k = k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"k=$k mismatch: got ${got.size} " +
        s"expect ${expect.size}")
    }
  }

  test("pageRank agrees with the in-memory pico-unit iteration past a checkpoint") {
    // the operator's integer arithmetic, replayed: uniform start
    // TotalMass div n, per-edge r div outdeg, then
    // (15% of TotalMass) div n + (85 · Σ) div 100. Six iterations run
    // through the lineage checkpoint taken after the fifth.
    val total = 1000000000000L
    val nodes = adj.keySet
    val nn = nodes.size.toLong
    var rank = nodes.map(_ -> total / nn).toMap
    for (_ <- 1 to 6) {
      val summed = nodes.toSeq.flatMap { u =>
          adj(u).toSeq.map(v => v -> rank(u) / adj(u).size) }
        .groupBy(_._1).map { case (v, cs) => v -> cs.map(_._2).sum }
      rank = nodes.map(v =>
        v -> (15 * total / 100 / nn + 85 * summed.getOrElse(v, 0L) / 100)).toMap
    }
    val got = Graph.pageRank(edgesDf, iterations = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == rank,
      s"diff: ${(got.toSet diff rank.toSet).take(5)} / ${(rank.toSet diff got.toSet).take(5)}")
  }

  test("labelPropagation agrees with the in-memory synchronous LPA past a checkpoint") {
    // every node starts as its own label; each round adopts the label
    // with the largest incident weight sum, ties to the smallest label.
    // Nine rounds run through the lineage checkpoint taken after the
    // eighth, with and without the mirrored-input round-1 shortcut.
    var labels = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to 9) {
      labels = adj.keySet.map { u =>
        val votes = adj(u).toSeq.groupBy(labels).map { case (l, vs) =>
          l -> vs.map(w(u, _)).sum }
        u -> votes.maxBy { case (l, ws) => (ws, -l) }._1
      }.toMap
    }
    for (mirrored <- Seq(false, true)) {
      val got = Graph.labelPropagation(weightedDf, rounds = 9,
          mirroredInput = mirrored)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == labels, s"mirroredInput=$mirrored diff: " +
        s"${(got.toSet diff labels.toSet).take(5)} / ${(labels.toSet diff got.toSet).take(5)}")
    }
  }
}
