package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Iterative graph scoring beyond the connected-component operators in
  * [[Dedup]]: PageRank under the integer micro-unit discipline that
  * makes every other scoring operator in this engine oracle-exact.
  *
  * All rank mass lives in BIGINT "pico-units" (1e12 = total mass 1.0):
  * per-edge contributions are integer divisions (`r div outdeg`), the
  * damping step is `(85 · Σ) div 100` — no floating point anywhere, so
  * results are independent of aggregation fold order, partitioning, and
  * engine libm. The deliberate cost is the floor at each division
  * (≤ outdeg pico-units of mass per node per iteration — at 1e12 scale,
  * noise in the 12th decimal).
  *
  * One plan per operator. The edge list is fact-sized; an iterative
  * operator materializes it once (`localCheckpoint`), since every
  * iteration re-scans it. Every NODE-sized table rides BROADCAST joins
  * against it: the rank, label and distance vectors, the BFS
  * frontier, the k-core removed set, the degree and adjacency tables
  * and the community map. So an iteration is one map-side edge scan
  * plus a node-sized aggregation, never an edge-list shuffle. Lineage is
  * truncated at fixed constants: every [[RankCheckpointEvery]]
  * PageRank iterations and every [[LabelCheckpointEvery]] label
  * propagation rounds.
  *
  * Scale assumption: the node set fits a broadcast (catalog entities,
  * hosts, users: node counts in the tens of thousands against
  * fact-sized edge lists). Graphs whose node set cannot be broadcast
  * (web graphs) are outside what any query, test or benchmark here
  * runs. Should such a caller arrive, the operator should pick its
  * join plan from a node count it measures, with a benchmark workload
  * on each side of the choice, not from a caller-set flag.
  */
object Graph {

  private val TotalMass = 1000000000000L // 1e12 pico-units = rank mass 1.0

  /** Lineage truncation of [[pageRank]]'s rank vector, in iterations:
    * shallow runs stay ONE composed plan, deep runs stay bounded. */
  private val RankCheckpointEvery = 5

  /** Lineage truncation of [[labelPropagation]]'s label vector, in
    * rounds (round-17: per-round checkpoints were ~40% of q204's LP
    * cost at rounds=3, since each splits the plan and re-runs the edge
    * repartition exchange). */
  private val LabelCheckpointEvery = 8

  /** PageRank over an edge list `(src, dst)` (directed; pass both
    * directions for an undirected graph). Every node must appear as a
    * `src` at least once (true for undirected graphs by construction) —
    * VALIDATED by default, not assumed: a dangling (dst-only) node would
    * silently drop from the rank vector and leak its incoming mass every
    * iteration, so the precondition is checked with one node-sized
    * anti-join up front and violations fail loudly. A caller whose edge
    * list is two-directional by construction may pass `validate = false`
    * to skip that pass. Damping 0.85, `iterations` full steps from the
    * uniform vector.
    * Returns (node, rank_pico) with rank in pico-units (1e12 = mass 1.0).
    */
  def pageRank(edges: DataFrame, iterations: Int = 3,
               validate: Boolean = true): DataFrame = {
    require(iterations >= 1)
    // Every iteration re-scans the edge SUBTREE (a broadcast join leaves
    // no shuffle whose exchange Catalyst could reuse), so derivation work
    // upstream of the edge list (distinct, unions) would be re-paid
    // per iteration; one lineage-truncating materialization amortizes it.
    // The in-plan repartition by `dst` (round-17 optimization) feeds the
    // per-iteration contribution aggregation: HashPartitioning(dst)
    // satisfies groupBy(dst)'s clustering, so no iteration shuffles the
    // contribution stream, and the ONE repartition exchange is reused
    // across all iterations of the composed plan (ReusedExchange). It
    // must sit AFTER the checkpoint (in the lazy plan): a checkpointed
    // RDD reports UnknownPartitioning, which would hide the layout from
    // the planner.
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
      .repartition(col("dst"))
    // deg is referenced ~2× per iteration (broadcast build + probe side
    // of the rank assembly); each reference would re-scan the edge list
    // and re-aggregate — one NODE-sized eager materialization removes
    // all of it (round-17: q80 2.6 → 1.5 s at sf0.1 together with the
    // repartition above)
    val deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("outdeg")).localCheckpoint(true)
    if (validate) {
      // one extra job (node-sized distinct + anti join, early-out via
      // isEmpty's limit-1) — the price of never returning a subtly
      // smaller, mass-leaking result on a directed graph. A caller whose
      // edges are two-directional BY CONSTRUCTION (so every dst is also
      // a src) may pass validate = false and skip the pass; the default
      // stays safe.
      val dangling = e.select(col("dst").as("node")).distinct()
        .join(deg.select(col("node")), Seq("node"), "left_anti")
      require(dangling.isEmpty,
        "pageRank: edge list has dst-only (dangling) node(s); every node " +
          "must appear as src at least once — pass both directions for " +
          "undirected graphs, or add self-loops / drop dangling edges")
    }
    val n = deg.agg(count(lit(1)).as("n"))
    // (Round-18 measured an iteration-1 specialization — the uniform
    // start vector folded into the edge scan as a crossJoin(n) constant
    // instead of a rank₀ join: q80 went 0.78×. The 1-row nested-loop
    // join on the EDGE-sized stream cost more than the node-sized rank₀
    // hash join it replaced, so the uniform vector stays explicit.)
    var rank = deg.crossJoin(broadcast(n))
      .select(col("node"), expr(s"${TotalMass}L div n").as("r"))
    // e is checkpointed + dst-repartitioned and deg eagerly materialized
    // above, so each iteration is a pure map-side scan + in-partition
    // aggregation
    for (i <- 1 to iterations) {
      val contrib = e
        .join(broadcast(deg.withColumnRenamed("node", "src")), "src")
        .join(broadcast(rank.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"), expr("r div outdeg").as("c"))
      val summed = contrib.groupBy(col("node")).agg(sum(col("c")).as("s"))
      rank = deg.select(col("node"))
        .join(broadcast(summed), Seq("node"), "left")
        .crossJoin(broadcast(n))
        .select(col("node"),
          expr(s"(${15 * TotalMass / 100}L div n) + (85 * coalesce(s, 0L)) div 100")
            .as("r"))
      if (i % RankCheckpointEvery == 0 && i < iterations)
        rank = rank.localCheckpoint()
    }
    rank.select(col("node"), col("r").as("rank_pico"))
  }

  /** Multi-source BFS hop distance: the minimum number of edges from any
    * seed to each reachable node, cut off at `maxHops` — reachability
    * labeling, blast-radius analysis, and the hop-bounded half of
    * shortest paths (unit weights). The fourth graph primitive next to
    * PageRank, triangle counting, and the [[Dedup]] components.
    *
    * Level-synchronous frontier expansion: each level joins the CURRENT
    * FRONTIER (nodes first reached last level) against the edge list,
    * then anti-joins the visited set so a node is labeled exactly once,
    * at its first (minimal) level — no per-node min aggregation is ever
    * needed. The frontier and visited set are node-sized while the edge
    * list is fact-sized, so the frontier rides a BROADCAST hash join
    * against the edges (map-side, never shuffling the edge list) and
    * the level's lineage is truncated with one `localCheckpoint`.
    *
    * Input: directed edges (src, dst) — pass both directions for an
    * undirected graph — and seeds (node). Output: (node, dist) for every
    * node within `maxHops` of a seed; seeds themselves are dist 0.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    // each level's checkpoint is its own job, so an unmaterialized edge
    // list would re-run its whole derivation (self-joins, distinct)
    // once per level
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    val seeded = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0).as("dist")).localCheckpoint()
    // the visited set is the UNION of the per-level checkpointed
    // frontiers, never re-materialized: folding `visited.unionAll(next)
    // .localCheckpoint()` per level would rewrite the whole visited set
    // every level — an O(levels × |visited|) term that turns
    // measurably super-linear on large graphs (the round-9 amp8
    // scaling run read e≈1.15 for exactly this reason). A union of
    // already-materialized blocks costs nothing to build and scans at
    // anti-join time only.
    var frontiers = List(seeded)
    var frontier = seeded
    def visited() = frontiers.reduceLeft(_ unionAll _)
    // while, not a guarded for: once the frontier drains, a for-loop
    // guard would still fire one isEmpty Spark job per remaining level
    var h = 1
    while (h <= maxHops && !frontier.isEmpty) {
      val next = e
        .join(broadcast(frontier.select(col("node").as("src"))), "src")
        .select(col("dst").as("node")).distinct()
        .join(broadcast(visited().select(col("node"))), Seq("node"),
          "left_anti")
        .select(col("node"), lit(h).as("dist"))
        .localCheckpoint()
      frontiers = frontiers :+ next
      frontier = next
      h += 1
    }
    visited()
  }

  /** Hop-bounded multi-source shortest paths over a WEIGHTED edge list
    * (src, dst, w) — min-plus Bellman-Ford relaxation, the sixth graph
    * primitive next to PageRank, triangles, BFS, k-core, and the
    * [[Dedup]] components.
    *
    * Semantics: dist(v) = the minimum total weight over all walks of at
    * most `rounds` edges from any seed to v; nodes not reachable within
    * `rounds` edges are absent. The bound is part of the CONTRACT (like
    * [[bfsHops]]'s maxHops), not a convergence heuristic — so no
    * fixpoint detection is needed and the result matches an oracle that
    * unrolls the same `rounds` relaxation steps. Negative weights are
    * tolerated (a bounded-walk minimum is well-defined without
    * nonnegativity); for the classic SSSP reading use w ≥ 0.
    *
    * Distinct from [[bfsHops]] by more than weights: BFS labels each
    * node ONCE, at its first level, with a visited-set anti-join —
    * sound only because hop count and arrival level coincide. Under
    * weights a later round can improve a node via a longer-but-lighter
    * path, so each round must RE-AGGREGATE a per-node min over
    * {current dist} ∪ {relaxed candidates}. That min is a monotone
    * semilattice fold — exactly what map-side partial aggregation
    * absorbs, so the per-round shuffle carries node-sized partials.
    *
    * Scale shape: each round is one BROADCAST join of the edge list
    * against the node-sized distance vector plus one min aggregation;
    * the edge list is localCheckpointed once (each round re-scans it),
    * and each round's vector is checkpointed — it is executed by the
    * next round's broadcast anyway, and the truncation keeps plans flat.
    *
    * Input: directed weighted edges (src, dst, w) — pass both
    * directions for an undirected graph — and seeds (node). Output:
    * (node, dist); seeds themselves are dist 0 (or less if a negative
    * cycle through a seed exists within the bound).
    */
  def ssspRelax(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0)
    // integral-weight contract, enforced: the relax step accumulates in
    // LONG (exactness discipline — long min-folds are fold-order-free
    // where double sums are not), so a double weight would be silently
    // TRUNCATED per relaxation (0.6+0.6 → 0, compounding per round)
    // rather than rounded once. Callers with fractional weights must
    // quantize to integer units (cents, micros) first.
    edges.schema("w").dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"ssspRelax requires an integral weight column, got $other — " +
          "quantize fractional weights to integer units first")
    }
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint()
    var dist = seeds.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist")).localCheckpoint()
    for (_ <- 1 to rounds) {
      val relaxed = e
        .join(broadcast(dist.withColumnRenamed("node", "src")), "src")
        .select(col("dst").as("node"),
          (col("dist") + col("w")).cast("long").as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** k-core decomposition (fixed k): the maximal subgraph in which
    * every vertex has ≥ k neighbors — the standard dense-community /
    * spam-cluster extractor, and the graph-shaped sibling of the
    * quality-band filters. The fifth graph primitive next to PageRank,
    * triangles, BFS, and the [[Dedup]] components.
    *
    * Iterated peeling BY DECREMENT: the degree table is built once
    * (the single O(m)-shuffle aggregation), then each wave removes
    * every node currently below k and SUBTRACTS the removed nodes'
    * edge contributions from their surviving neighbors — never
    * recomputing degrees from the full edge list. Waves are monotone
    * (a removed vertex never resurrects: decrements only shrink
    * degrees), each edge decrements its survivor endpoint exactly once
    * (when its other endpoint's wave removes it — waves are disjoint),
    * so the degree table stays exactly deg-within-alive throughout and
    * the fixpoint — an empty removal wave, checked, not assumed — is
    * exactly the k-core regardless of peel order. Per-wave cost: one
    * edge-list scan joined against the broadcast REMOVED set, so the
    * work per wave is O(edges incident to the wave), not O(alive
    * edges) — the late small cascades that dominate
    * the wave count on dense graphs cost almost nothing (measured
    * ~2× on the amp8 weak-scaling tier vs full recompute). The edge
    * list is localCheckpointed once since every wave re-scans it.
    *
    * Input: directed edges (src, dst) — pass both directions for an
    * undirected graph; duplicate edges must be pre-deduplicated (they
    * would inflate neighbor counts). Output: (node, deg_core) for
    * every k-core member — deg_core ≥ k is its degree WITHIN the
    * core, which is precisely the maintained table at the fixpoint
    * (every decrement for a removed neighbor has been applied).
    */
  def kCore(edges: DataFrame, k: Int, maxIters: Int = 100): DataFrame = {
    require(k >= 1)
    val e = edges.select(col("src"), col("dst")).localCheckpoint()
    // the one full-width aggregation: deg(u) = out-degree over e
    var deg = e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg_core")).localCheckpoint()
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val removed = deg.where(col("deg_core") < k)
        .select(col("node")).localCheckpoint()
      if (removed.isEmpty) converged = true
      else {
        val dec = e
          .join(broadcast(removed.withColumnRenamed("node", "dst")), "dst")
          .groupBy(col("src").as("node"))
          .agg(count(lit(1)).as("__dec"))
        deg = deg.where(col("deg_core") >= k)
          .join(broadcast(dec), Seq("node"), "left")
          .select(col("node"),
            (col("deg_core") - coalesce(col("__dec"), lit(0L)))
              .as("deg_core"))
          .localCheckpoint()
        it += 1
      }
    }
    require(converged,
      s"kCore(k=$k) did not converge within $maxIters iterations")
    deg
  }

  /** Per-vertex triangle counts over an undirected edge list — the
    * clustering-coefficient numerator, and the third graph primitive
    * next to PageRank and the [[Dedup]] connected components.
    *
    * Skew is the whole problem in distributed triangle counting: the
    * naive wedge join fans out quadratically in the HOTTEST vertex's
    * degree (a celebrity hub with degree 10^6 yields 10^12 wedges).
    * This uses the degree-ordered orientation (the Suri &
    * Vassilvitskii MapReduce formulation, also Latapy's compact-
    * forward): orient every edge from its lower (degree, id) endpoint
    * to the higher, enumerate wedges only at each triangle's
    * minimum-ordered vertex, and close them with one semi-check
    * against the oriented edge set. Oriented out-degree is bounded by
    * O(√m) REGARDLESS of the degree distribution, so wedge fan-out is
    * O(m^1.5) worst-case with no hot key — each shuffle key's load is
    * capped by construction, which is exactly the property a 100 TB
    * graph needs. Joins are all on single vertex keys; nothing is
    * ever materialized per-pair beyond the wedge stream.
    *
    * The orientation changes only the ENUMERATION, not the answer:
    * the triangle set (and so every per-vertex count) is identical to
    * the unordered u<v formulation an oracle computes.
    *
    * Input: (src, dst) in either or both directions; self-loops and
    * duplicate edges are removed. Output: (node, n_triangles) for
    * every vertex in at least one triangle.
    *
    * The wedge set itself is NEVER materialized as rows: after
    * orientation, out-neighborhoods are packed into per-node ARRAYS
    * (compact-forward's adjacency form) and each oriented edge (t, h)
    * closes its triangles with one in-row `array_intersect(adj(t),
    * adj(h))` — the members are exactly the third vertices. A wedge
    * JOIN would shuffle O(m^1.5) rows through an exchange; the
    * intersection does the same asymptotic work as pure in-memory
    * hash probes over arrays whose length the orientation already
    * bounds at O(√m) (measured 3× total-query speedup at sf0.1).
    *
    * The node-sized degree table rides BROADCAST joins into the
    * adjacency build, and the packed ADJACENCY table is broadcast to
    * the per-edge intersection joins — node-count rows carrying
    * Σoutdeg = m longs in total (an order of magnitude smaller than
    * the edge stream with per-row overheads), so the edge scan never
    * shuffles at all.
    */
  def triangleCounts(edges: DataFrame,
                     assumeCanonical: Boolean = false): DataFrame = {
    val isLongIdIn = edges.schema("src").dataType ==
      org.apache.spark.sql.types.LongType
    // canonical undirected edge set (u < v), self-loops dropped.
    // assumeCanonical (round-18, the pageRank validate=false
    // convention): a caller whose edge list is distinct u < v BY
    // CONSTRUCTION (the SharedGraph census is a groupBy over a < b
    // pairs) skips the canonicalization projection and — the real
    // cost — the full-edge-set distinct shuffle that would only
    // re-prove the construction.
    val und =
      if (assumeCanonical) edges.select(col("src").as("u"),
        col("dst").as("v"))
      else edges
        .select(least(col("src"), col("dst")).as("u"),
                greatest(col("src"), col("dst")).as("v"))
        .where(col("u") < col("v"))
        .distinct()
    // both directions in one stream: each edge contributes a (node,
    // nbr) row per endpoint — feeds the degree census and (filtered by
    // orientation) the adjacency census, so no oriented EDGE SET is
    // ever built as its own materialized table
    val dirs = und.select(explode(array(
        struct(col("u").as("node"), col("v").as("nbr")),
        struct(col("v").as("node"), col("u").as("nbr")))).as("e"))
      .select(col("e.node").as("node"), col("e.nbr").as("nbr"))
    val deg = dirs.groupBy(col("node")).agg(count(lit(1)).as("d"))
    // keep only orientation-forward neighbors — (d, id) of the nbr
    // strictly above the node's — then pack them into one SORTED array
    // per node. Oriented out-degree is O(√m) by construction, so the
    // arrays are bounded regardless of the degree distribution. The
    // adjacency feeds both the wedge-tail scan and the head-side
    // lookup; one node-sized materialization truncates the shared
    // derivation.
    val adj = dirs
      .join(broadcast(deg.withColumnRenamed("node", "nbr")
        .withColumnRenamed("d", "dn")), "nbr")
      .join(broadcast(deg), "node")
      .where(col("dn") > col("d") ||
             (col("dn") === col("d") && col("nbr") > col("node")))
      .groupBy(col("node"))
      .agg(sort_array(collect_list(col("nbr"))).as("nbrs"))
      .localCheckpoint()
    // each triangle a→b, a→c, b→c is found EXACTLY once: at its (a, b)
    // edge, as c ∈ adj(a) ∩ adj(b). The inner head join is lossless: a
    // head with no out-edges closes no triangle at this edge. On BIGINT
    // node ids the intersection is the codegen'd merge kernel
    // ([[graft.functions.SketchKernels.sortedIntersect]] — no per-row
    // hash set); other id types fall back to array_intersect.
    val headAdj = broadcast(adj.select(col("node").as("head"),
      col("nbrs").as("nh")))
    def intersect(a: Column, b: Column): Column =
      if (isLongIdIn) graft.functions.SketchFns.sorted_intersect(a, b)
      else array_intersect(a, b)
    val tri = adj
      .select(col("node").as("tail"), col("nbrs").as("nt"),
        explode(col("nbrs")).as("head"))
      .join(headAdj, "head")
      .select(col("tail"), col("head"),
        intersect(col("nt"), col("nh")).as("ws"))
      .where(size(col("ws")) > 0)
    // per-vertex attribution in ONE pass over the intersections (a
    // unionAll of three projections of `tri` would recompute them
    // three times — there is no common-subtree reuse across union
    // branches): first explode to one row per TRIANGLE, then to its
    // three members, then count
    tri.select(col("tail"), col("head"), explode(col("ws")).as("w"))
      .select(explode(array(col("tail"), col("head"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Synchronous weighted label propagation — the ASSIGN half of
    * community detection ([[modularity]] is the evaluation half;
    * VERDICT r12 item 6 / r13 item 2): every node starts as its own
    * label (its id) and each round adopts the label with the LARGEST
    * incident weight sum among its neighbors, ties broken by the
    * SMALLEST label — Raghavan et al. 2007's LPA made deterministic.
    *
    * Determinism is the whole design: a FIXED round count (no
    * convergence check), synchronous updates (round N+1 reads only
    * round N's labels), and a total tie-break order make the output an
    * exact function of the graph — so the q204 oracle can replay the
    * rounds as unrolled SQL and the gate is an exact hash, the frozen-
    * model discipline applied to an algorithm instead of a model.
    * (Asynchronous LPA converges faster but is schedule-dependent —
    * unusable under an exactness gate; oscillation, synchronous LPA's
    * known failure mode on bipartite-ish structure, is harmless here
    * because the round count is part of the contract.)
    *
    * Scale shape: each round is one join of the (mirrored, weighted)
    * edge list against the node-sized label vector, one (node, label)
    * weight-sum aggregation — map-side partials absorb the fan-in — and
    * one per-node argmax as a single `max(struct(weight, -label))`
    * (no window, no second sort). The label vector rides BROADCAST
    * joins and is `localCheckpoint`ed every [[LabelCheckpointEvery]]
    * rounds: shallow runs stay ONE composed plan, deep runs truncate
    * lineage before plans grow unboundedly.
    *
    * Input: weighted directed edges (src, dst, w) — pass BOTH
    * directions for an undirected graph (the census shape
    * [[graft.analytics.SharedGraph]] mirrors to). Node ids must be
    * non-negative integrals (the argmax negates labels for the min
    * tie-break). Output: (node, community) for every node with ≥ 1
    * edge; `community` is a node id, canonical only per round count.
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
                       mirroredInput: Boolean = false): DataFrame = {
    require(rounds >= 1)
    // every round re-scans the edge subtree (no reusable exchange) —
    // one lineage-truncating materialization amortizes the upstream
    // derivation, same policy as [[pageRank]]. The in-plan repartition
    // by `src` (round-17 optimization) makes BOTH per-round
    // aggregations exchange-free — HashPartitioning(src) satisfies
    // groupBy(src, nl) and groupBy(node) alike (subset clustering) —
    // and the one repartition exchange is reused across rounds of the
    // composed plan; it must sit AFTER the checkpoint, which reports
    // UnknownPartitioning (q204: 2.5 → 1.2 s at sf0.1 together with
    // the 8-round checkpoint interval).
    val e = edges.select(col("src"), col("dst"), col("w")).localCheckpoint()
      .repartition(col("src"))
    // argmax with min-label tie-break as ONE lexicographic struct max:
    // (ws, -nl) — larger weight wins, then larger -nl = smaller label
    def argmax(votes: DataFrame): DataFrame = votes
      .groupBy(col("node"))
      .agg(max(struct(col("ws").as("w"), (-col("nl")).as("gn"))).as("m"))
      .select(col("node"), (-col("m.gn")).as("community"))
    // Round 1 against the IDENTITY labeling (community(dst) = dst) needs
    // no label table at all when the caller certifies the input is
    // MIRRORED (every dst also occurs as src — the undirected contract):
    // the join against labels0 = distinct(src) is then a no-op filter,
    // so votes1 = Σw by (src, dst) directly. Exact equivalence, round
    // for round; drops one distinct (shuffle), one broadcast build and
    // one join from the composed plan. A general DIRECTED edge list
    // (some dst never a src) must keep the join — labels0 coverage is
    // what drops votes for unlabeled neighbors.
    var labels: DataFrame =
      if (mirroredInput)
        argmax(e.groupBy(col("src").as("node"), col("dst").as("nl"))
          .agg(sum(col("w")).as("ws")))
      else null
    val startRound = if (mirroredInput) 2 else 1
    if (!mirroredInput)
      labels = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("community"))
    for (i <- startRound to rounds) {
      val votes = e
        .join(broadcast(labels.select(col("node").as("dst"),
          col("community").as("nl"))), "dst")
        .groupBy(col("src").as("node"), col("nl"))
        .agg(sum(col("w")).as("ws"))
      labels = argmax(votes)
      if (i % LabelCheckpointEvery == 0 && i < rounds)
        labels = labels.localCheckpoint()
    }
    labels
  }

  /** Newman modularity of a GIVEN community assignment (Newman & Girvan
    * 2004): Q = Σ_c [e_c/m − (d_c/2m)²] — how much denser inside the
    * communities than a degree-preserving random graph. The evaluation
    * half of community detection: detection is iterative optimization
    * (the k-core/CC regime), but SCORING a candidate partition — a
    * brand taxonomy, a dedup clustering, yesterday's Louvain output —
    * is one pass, and it is what a pipeline actually gates on.
    *
    * Exactness: the denominator is cleared — each community's
    * contribution is Q_c·4m² = 4m·e_c − d_c², an exact integer in
    * decimal(38,0) (1e9-edge graphs peak ~4e18; decimal keeps the
    * identity exact to 1e18 edges), emitted as the digit string (the
    * q170 presentation discipline) next to ONE mirrored double
    * division for readability. Σ of the scaled contributions over
    * communities recovers Q·4m² exactly.
    *
    * Scale shape: degrees from one union-and-count over edge
    * endpoints; the node-sized community map is broadcast to tag them;
    * e_c tags each edge's two ends and counts the agreeing ones — the
    * edge list streams through two map-side equi-joins and one
    * aggregation, nothing quadratic, no iteration, no edge shuffle.
    *
    * Input: `edges` one row per UNDIRECTED edge (src < dst, no
    * duplicates — [[triangleCounts]]' input contract), `communities`
    * (node, community) total over the edge endpoints. Output: one row
    * per community — (community, n_nodes, degree_sum, intra_edges,
    * m_edges, q_contrib_scaled, q_contrib).
    */
  def modularity(edges: DataFrame, communities: DataFrame,
                 degrees: Option[DataFrame] = None): DataFrame = {
    val e = edges.toDF("src", "dst")
    val comm = broadcast(communities.toDF("node", "community"))
    // degrees: callers that need the per-node degree table themselves
    // (q204's all-singletons baseline) pass it in so the endpoint
    // union+count runs once, not once per consumer.
    val deg = degrees.map(_.toDF("node", "deg")).getOrElse(
      e.select(col("src").as("node"))
        .unionAll(e.select(col("dst").as("node")))
        .groupBy(col("node")).agg(count(lit(1)).as("deg")))
    val dC = deg.join(comm, "node")
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val eC = e
      .join(comm.select(col("node").as("src"),
        col("community").as("c_src")), "src")
      .join(comm.select(col("node").as("dst"),
        col("community").as("c_dst")), "dst")
      .where(col("c_src") === col("c_dst"))
      .groupBy(col("c_src").as("community"))
      .agg(count(lit(1)).as("intra_edges"))
    val mRow = e.agg(count(lit(1)).as("m_edges"))
    dC.join(eC, Seq("community"), "left")
      .withColumn("intra_edges", coalesce(col("intra_edges"), lit(0L)))
      .crossJoin(broadcast(mRow))
      .withColumn("q_contrib_scaled", expr(
        "cast(4 as decimal(38,0)) * m_edges * intra_edges" +
          " - cast(degree_sum as decimal(38,0)) * degree_sum"))
      .withColumn("q_contrib",
        col("q_contrib_scaled").cast("double") /
          expr("cast(cast(4 as decimal(38,0)) * m_edges * m_edges as double)"))
      .select(col("community"), col("n_nodes"), col("degree_sum"),
        col("intra_edges"), col("m_edges"),
        col("q_contrib_scaled").cast("string").as("q_contrib_scaled"),
        col("q_contrib"))
  }
}
