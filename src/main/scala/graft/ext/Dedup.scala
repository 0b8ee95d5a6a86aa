package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.SketchFns

/** Deduplication operators for large-scale corpus curation: exact,
  * n-gram-Jaccard exact near-dup, MinHash+LSH approximate near-dup, and
  * SimHash. All are pure DataFrame programs (codegen'd array/higher-order
  * functions; no UDFs), designed so the only shuffles are the unavoidable
  * keyed ones:
  *
  *  - signatures/shingles/simhash are computed MAP-SIDE per row (no
  *    shuffle, no explode-regroup round trip);
  *  - pair generation shuffles on shingle / LSH-bucket / simhash-chunk
  *    keys, whose fan-out is bounded (bands, chunks) or frequency-bounded
  *    (shingles), never on raw document text;
  *  - verification joins carry only (id, shingle-array) — document bodies
  *    never cross an exchange.
  */
object Dedup {

  /** Release the block store behind a frame, whether it was `persist`ed
    * or eagerly `localCheckpoint`ed. `Dataset.unpersist` alone is a no-op
    * on a checkpointed frame: its blocks belong to the checkpointed
    * internal RDD, which is NOT registered with the cache manager — left
    * alone they are reclaimed only when the RDD is GC'd (ContextCleaner),
    * which in a long iterative job means rounds of dead blocks pinning
    * executor storage memory. Unpersisting the underlying RDD directly
    * (via the public LogicalRDD leaf the checkpoint plan is made of)
    * frees them deterministically. Only call this once nothing lazily
    * derives from the frame — a locally-checkpointed RDD cannot
    * recompute after its blocks are dropped.
    *
    * Only the plan ROOT is matched: a LogicalRDD found deeper in the tree
    * belongs to some upstream frame (possibly a caller-supplied checkpoint
    * we must not free); the frame "is" a checkpoint only when the
    * checkpointed RDD is the whole plan.
    */
  private def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Exact dedup: keep the first row per key (deterministic order), with
    * group size. `dropDuplicates` is deliberately avoided — it keeps an
    * arbitrary row per key, which is not replayable.
    */
  def exact(df: DataFrame, keys: Seq[Column], order: Seq[Column],
            keep: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__group_size", count(lit(1)).over(Window.partitionBy(keys: _*)))
      .filter(col("__rn") === 1)
      .select(keep :+ col("__group_size").as("group_size"): _*)
  }

  /** Distinct word n-gram shingles of a text column, as an array column
    * (map-side only).
    */
  def shingles(text: Column, n: Int): Column = {
    val words = split(text, " ")
    // short-doc guard: ANSI mode makes out-of-bounds element_at throw,
    // so a doc with < n words gets its whole text as one shingle
    when(size(words) >= n,
      array_distinct(
        transform(sequence(lit(0), size(words) - n),
          i => concat_ws(" ", (0 until n).map(j => element_at(words, i + j + 1)): _*))))
      .otherwise(array(concat_ws(" ", words)))
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via a shingle inverted
    * index: explode shingles → self-join on shingle → count = |A∩B| →
    * join sizes → filter.
    *
    * ==WARNING: the DEFAULT is unbounded==
    * With no `maxDocFreq` the candidate fan-out is QUADRATIC in the
    * hottest shingle's document frequency — one boilerplate header
    * shared by 10^6 docs contributes 10^12 join rows. Do not run the
    * default on a corpus whose shingle df distribution you have not
    * checked: set `maxDocFreq` (bounded, slightly conservative
    * jaccard), or use [[minhashPairs]] (the LSH-bounded scale path).
    * The unbounded default exists only to preserve the exactness
    * contract for small or known-clean corpora.
    *
    * The join key is the shingle, so the self-join
    * is QUADRATIC in the hottest shingle's document frequency — one
    * boilerplate shingle shared by f docs contributes f² candidate rows.
    * `maxDocFreq` caps that (the same MOSS move as [[winnowPairs]]): a
    * shingle present in more docs is dropped from the index before the
    * self-join, which bounds the fan-out at f·maxDocFreq. The cap trades
    * exactness on boilerplate-only overlap for boundedness — a pair whose
    * ONLY shared shingles are capped ones is missed, and a pair sharing
    * some capped shingles has its intersection undercounted (so the
    * reported jaccard is a lower bound). Because of that trade the cap is
    * strictly OPT-IN: the default (Int.MaxValue) preserves the exactness
    * contract — no census, no anti join, no silently-dropped shingles.
    * Callers at corpus scale pick a cap above the largest legitimate
    * duplicate-group size; for exhaustive exactness at corpus scale
    * switch to [[minhashPairs]], which bounds candidates by LSH bucket
    * instead of shingle frequency.
    * Output: (id_a, id_b, intersection, size_a, size_b, jaccard).
    */
  def jaccardPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                   threshold: Double,
                   maxDocFreq: Int = Int.MaxValue): DataFrame = {
    // hashed shingles (native kernel): the inverted index joins on 8-byte
    // keys, never on shingle strings (collision odds across a pair of
    // docs are ~|A||B|/2^64 — vanishing)
    val sh = docs.select(id.as("id"),
        SketchFns.hashed_shingles(text, n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
    // derive-once (round-18, the q88 gram-stream precedent): the
    // 24 B/row (id, n_sh, s) index feeds BOTH self-join sides — and,
    // under a cap, the df census too — so without a materialization the
    // text scan + shingle kernel re-ran once per reference (q27's
    // before plan: 4 parquet scans, 2 census builds). One eager
    // localCheckpoint makes every downstream consumer a block scan;
    // the stored rows are hashes+ids, a fraction of the raw text they
    // replace re-scanning.
    val inv0 = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      .localCheckpoint(true)
    // df census via groupBy (map-side partial agg absorbs hot-shingle
    // skew, which a window count-over-partition would concentrate into
    // one task), then an ANTI join against the hot set. Join strategy is
    // left to the optimizer on purpose: the hot set is usually tiny
    // (auto-broadcast), but a template-heavy corpus can push millions of
    // distinct shingles over the cap — a forced broadcast would collect
    // exactly that to the driver; the fallback shuffle partitions inv0
    // on s, the same key the self-join below exchanges on anyway.
    // Uncapped callers skip the census entirely — df > Int.MaxValue is
    // unsatisfiable, so the extra shuffle would buy nothing.
    val inv =
      if (maxDocFreq == Int.MaxValue) inv0
      else {
        val hot = inv0.groupBy(col("s"))
          .agg(count(lit(1)).as("df"))
          .filter(col("df") > maxDocFreq)
          .select(col("s"))
        inv0.join(hot, Seq("s"), "left_anti")
      }
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
               col("a.n_sh").as("size_a"), col("b.n_sh").as("size_b"))
      .agg(count(lit(1)).as("intersection"))
    pairs
      .withColumn("jaccard",
        col("intersection").cast("double")
          / (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
              col("size_a"), col("size_b"), col("jaccard"))
  }

  /** Exact all-pairs n-gram Jaccard ≥ threshold via PREFIX FILTERING —
    * the All-Pairs / PPJoin candidate scheme (Bayardo, Ma &
    * Srikant, WWW'07; Xiao, Wang, Lin & Yu, WWW'08). IDENTICAL output to
    * an uncapped [[jaccardPairs]] — every pair, exact intersection, no
    * df-cap undercount — from a fundamentally smaller join.
    *
    * Theorem (prefix filter): fix any total order over shingles and sort
    * each doc's shingle set by it. If J(A,B) ≥ t then, because
    * J ≤ |min|/|max|, the intersection has ≥ ⌈t·|x|⌉ elements for each
    * side x — so A and B must share at least one shingle inside their
    * first |x| − ⌈t·|x|⌉ + 1 elements. Self-joining only those PREFIXES
    * is therefore lossless, and at t = 0.8 the joined index is ~20% of
    * the full one. The order is the All-Pairs heuristic's (document
    * frequency ASC, hash) — prefixes hold each doc's RAREST shingles,
    * so the boilerplate header that makes the full inverted index
    * quadratic ([[jaccardPairs]]'s WARNING) lands in the un-joined
    * suffix of every doc that has ≥ ~20% rarer content;
    * the length filter t·|max| ≤ |min| prunes cross-size candidates on
    * top. The ⌈·⌉ and the length filter carry a 1e-9 slack so a double
    * rounding error can only ENLARGE a prefix, never drop a true pair.
    *
    * Verification never re-aggregates the index: candidate pairs (one
    * row each, deduplicated) join the (id, sorted-shingle-array) table
    * twice and the exact intersection is computed IN-ROW by the codegen'd
    * merge kernel ([[graft.functions.SketchKernels.sortedIntersect]]) —
    * so the per-pair cost is O(|A|+|B|) with no shuffle row per shared
    * shingle, where [[jaccardPairs]]'s groupBy carries one.
    *
    * Scale shape: one shuffle for the df census, one keyed regroup to
    * sort each doc's shingles by df, the PREFIX-only self-join, and two
    * hash joins of candidates against the array table. The
    * shingle-array table is localCheckpointed once (it feeds the prefix
    * build and both verification sides).
    *
    * Output: (id_a, id_b, intersection, size_a, size_b, jaccard) —
    * the [[jaccardPairs]] schema.
    */
  def prefixJaccardPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                         threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs: threshold must be in (0, 1], got $threshold")
    val sh = docs.select(id.as("id"),
        sort_array(SketchFns.hashed_shingles(text, n)).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .localCheckpoint()
    // p = m − ⌈t·m⌉ + 1, the slack making the ceil conservative when
    // t·m rounds a hair above an integer (t = 0.8 is not a binary
    // fraction: 0.8·25 evaluates to 20.000000000000004)
    val p = (col("n_sh").cast("long")
      - ceil(col("n_sh") * lit(threshold) - lit(1e-9)) + lit(1L)).cast("int")
    val census = sh.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      .join(census, "s")
      .groupBy(col("id"), col("n_sh"))
      .agg(array_sort(collect_list(struct(col("df"), col("s")))).as("ord"))
      .select(col("id"), col("n_sh"),
        explode(slice(col("ord"), lit(1), p)).as("e"))
      .select(col("id"), col("n_sh"), col("e.s").as("s"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          least(col("a.n_sh"), col("b.n_sh")).cast("double") >=
            greatest(col("a.n_sh"), col("b.n_sh")) * lit(threshold) - lit(1e-9))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    cand
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
        col("n_sh").as("size_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
        col("n_sh").as("size_b")), "id_b")
      .withColumn("intersection",
        size(SketchFns.sorted_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("jaccard",
        col("intersection").cast("double")
          / (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
              col("size_a"), col("size_b"), col("jaccard"))
  }

  /** Connected components over near-dup pairs → dedup clusters with a
    * canonical (minimum-id) representative: min-label propagation to a
    * fixpoint. Labels only decrease, so the sum of labels is a monotone
    * convergence witness (one cheap aggregate per round, no diff join).
    * Iteration count is bounded by the cluster diameter — near-dup
    * clusters are shallow (pairs/triples), so this converges in 1–3
    * rounds; a web-scale graph would switch to the large-star/small-star
    * formulation, same DataFrame skeleton.
    *
    * Input: (id_a, id_b) pairs. Output: (doc_id, cluster_id,
    * cluster_size, is_canonical) for every clustered doc.
    */
  def clusters(pairs: DataFrame, maxIterations: Int = 20): DataFrame = {
    // single-read two-direction edge expansion: exploding each pair into
    // both orientations map-side reads the (possibly expensive) pair
    // pipeline ONCE — the union-of-two-selects alternative races two
    // scans of the uncached plan before the cache lands
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("s"), col("id_b").as("d")),
        struct(col("id_b").as("s"), col("id_a").as("d")))).as("e"))
      .select(col("e.s"), col("e.d"))
      .persist()
    // seed labels with min over {self} ∪ neighbors: one aggregation —
    // the same shuffle the plain distinct-node scan would cost — that
    // also IS the first propagation round, so shallow clusters (pairs,
    // triangles, stars around their min node: the shape near-dup groups
    // overwhelmingly take) start at their fixpoint and converge on the
    // first check
    var labels = edges.groupBy(col("s").as("id"))
      .agg(min(col("d")).as("min_d"))
      .select(col("id"), least(col("id"), col("min_d")).as("label"))
      .persist()
    // decimal(38,0) witness: a long sum would overflow under ANSI for
    // 63-bit hash ids; null (empty input) compares equal -> instant
    // convergence instead of an NPE
    def labelSum(df: DataFrame): Any =
      df.agg(sum(col("label").cast("decimal(38,0)"))).head().get(0)
    var prevSum = labelSum(labels)
    var iter = 0
    var converged = prevSum == null
    // one persisted propagation round per convergence check: composing
    // unpersisted rounds re-evaluates the inner round once per reference
    // (the label frame feeds both the join and the union) and costs more
    // than the saved action
    def propagate(l: DataFrame): DataFrame = edges
      .join(l.select(col("id").as("d"), col("label")), "d")
      .select(col("s").as("id"), col("label"))
      .union(l)
      .groupBy("id").agg(min(col("label")).as("label"))
    while (!converged && iter < maxIterations) {
      // eager localCheckpoint, not persist: propagate references the
      // label frame twice, so persisted-but-unlinearized rounds grow the
      // logical plan ~3× per iteration — harmless for the 1–2 rounds a
      // shallow graph needs, an exponential analysis blow-up on deep
      // ones. Checkpointing truncates lineage to the materialized blocks.
      val next = propagate(labels).localCheckpoint(true)
      val nextSum = labelSum(next)
      release(labels)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      iter += 1
    }
    edges.unpersist()
    // a partially-propagated labeling splits components silently — wrong
    // dedup groups with several is_canonical rows per true cluster; fail
    // loudly instead (deep chains should use clustersBigStar, or raise
    // maxIterations). Release the last round's blocks first — a caller
    // that catches and retries would otherwise accumulate them.
    if (!converged) { release(labels); throw new IllegalStateException(
      s"label propagation did not converge in $maxIterations rounds; " +
        "the pair graph has deeper chains than maxIterations — use " +
        "clustersBigStar (O(log²) rounds) or raise maxIterations") }
    val w = Window.partitionBy(col("label"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
              col("cluster_size"),
              (col("id") === col("label")).as("is_canonical"))
  }

  /** Connected components via alternating large-star / small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — the deep-graph alternative to [[clusters]]'
    * min-label propagation: O(log²) rounds regardless of component
    * DIAMETER, where label propagation pays one round per hop. Near-dup
    * clusters are usually shallow (propagation wins on constants); chains
    * of drifting near-duplicates or transitive fuzzy matches build long
    * paths, and this is the formulation that survives them at scale.
    *
    * Each round is two groupBy-join passes over the edge set:
    *   - large-star: every node links its LARGER neighbors to the
    *     minimum of its neighborhood (incl. itself);
    *   - small-star: every node links its smaller neighbors AND itself
    *     to that minimum.
    * Both strictly shrink Σ(u+v) over edges until the set is a union of
    * stars centered on component minima; (count, Σ) is the convergence
    * witness. Same output contract as [[clusters]].
    */
  def clustersBigStar(pairs: DataFrame, maxIterations: Int = 30): DataFrame = {
    var e = pairs
      .filter(col("id_a") =!= col("id_b"))
      .select(greatest(col("id_a"), col("id_b")).as("u"),
              least(col("id_a"), col("id_b")).as("v"))
      .dropDuplicates("u", "v")
      .persist()
    def adjacency(edges: DataFrame): DataFrame =
      edges.select(explode(array(
          struct(col("u").as("x"), col("v").as("y")),
          struct(col("v").as("x"), col("u").as("y")))).as("e"))
        .select(col("e.x"), col("e.y"))
    // m(x) = min(N(x) ∪ {x}); for any neighbor y of x, m(x) <= y
    def withMin(adj: DataFrame): DataFrame = adj.join(
      adj.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m")),
      "x")
    def largeStar(edges: DataFrame): DataFrame = {
      val a = withMin(adjacency(edges))
      a.filter(col("y") > col("x"))
        .select(col("y").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
    }
    def smallStar(edges: DataFrame): DataFrame = {
      val a = withMin(adjacency(edges))
      val nbr = a.filter(col("y") < col("x"))
        .select(col("y").as("u"), col("m").as("v"))
      val self = a.select(col("x").as("u"), col("m").as("v"))
      nbr.union(self)
        .filter(col("u") =!= col("v"))
        .dropDuplicates("u", "v")
    }
    // (edge count, Σ(u+v)) as the fixpoint witness; decimal vs ANSI
    // overflow on 63-bit ids, and both stars only ever shrink the sum
    def witness(edges: DataFrame): (Any, Any) = {
      val r = edges.agg(count(lit(1)),
        sum((col("u") + col("v")).cast("decimal(38,0)"))).head()
      (r.get(0), r.get(1))
    }
    var prev = witness(e)
    var iter = 0
    var converged = prev._1 == 0L
    while (!converged && iter < maxIterations) {
      // eager localCheckpoint, NOT persist: each star references its
      // input several times, so the logical plan grows ~6× per round —
      // persist caches data but keeps the whole lineage, and ten rounds
      // of that is an exponential plan that OOMs the driver during
      // analysis. Checkpointing truncates the plan to the materialized
      // blocks each round. (Round-18 measured the one-checkpoint-per-
      // round alternative — smallStar(largeStar(e)) composed, counting
      // on ReusedExchange to dedup smallStar's references to the
      // large-star subtree: q52 went 0.85×; the reuse does not cover
      // the whole star subtree, so the recompute outweighed the saved
      // materialization. Two checkpoints per round stays.)
      val afterLarge = largeStar(e).localCheckpoint(true)
      val next = smallStar(afterLarge).localCheckpoint(true)
      val w = witness(next)
      // next is eagerly materialized, so both the previous round's edge
      // set AND the intermediate large-star checkpoint can be freed —
      // leaving them to GC would accumulate two block sets per round
      release(afterLarge)
      release(e)
      e = next
      converged = w == prev
      prev = w
      iter += 1
    }
    // a non-fixpoint edge set is not a union of stars: the label
    // extraction below would emit conflicting cluster ids per doc (free
    // the checkpointed edge blocks before failing)
    if (!converged) { release(e); throw new IllegalStateException(
      s"large-star/small-star did not converge in $maxIterations rounds " +
        "(needs ~log² of the largest component; raise maxIterations)") }
    // fixpoint = disjoint stars: every non-root u carries exactly one
    // (u, root) edge; roots appear only on the v side. The final edge
    // set's blocks must OUTLIVE this function — the returned frame
    // lazily derives from them and a freed local checkpoint cannot
    // recompute — so they are deliberately left for GC-based cleanup.
    val labels = e.select(col("u").as("id"), col("v").as("label"))
      .union(e.select(col("v").as("id"), col("v").as("label")))
      .dropDuplicates("id", "label")
    val w = Window.partitionBy(col("label"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
              col("cluster_size"),
              (col("id") === col("label")).as("is_canonical"))
  }

  /** MinHash+LSH near-dup pairs with exact-Jaccard verification:
    * signature (map-side) → banded bucket keys (map-side) → shuffle on
    * (band, bucket) → candidate pairs (distinct) → verify with exact
    * Jaccard on the shingle arrays → filter ≥ threshold.
    *
    * With numHashes=128 / bands=64 (r=2), P[miss | j=0.8] = (1-0.64)^64
    * ≈ 4e-29 — the LSH prunes the candidate space; the verification step
    * keeps the result exact. Candidates carry only ids + band keys; the
    * shingle arrays are joined back only for the (few) candidates.
    */
  /** CONTENT-DEFINED chunking — the shift-robust sibling of the
    * fixed-window [[chunksOf]]: a chunk boundary falls after any
    * position whose trailing `w`-gram hashes into the target band
    * (md5 leading nibble '0', p = 1/16 → expected chunk ~16 chars in
    * this educational profile; production CDC adds FastCDC's min/max
    * bounds). Because the boundary rule is HASH-LOCAL (a function of
    * the w bytes ending at the position, nothing else), inserting a
    * prefix shifts every byte but reproduces the same boundaries once
    * the window re-synchronizes — fixed windows lose every chunk
    * after an insertion, CDC loses only the chunk containing it. The
    * storage/training-data dedup move (LBFS/FastCDC lineage).
    *
    * md5 (not a cheaper rolling hash) is deliberate: the DuckDB
    * oracle replays the exact boundary rule, so the gate pins chunk
    * placement byte-for-byte. Texts shorter than `w` become one
    * chunk; an EMPTY text becomes exactly one empty chunk (md5("")),
    * so the function is total — every input doc yields ≥1 row, and
    * two empty docs dedup against each other. Scale shape: pure
    * map-side expression work (one codegen'd pass per document), no
    * shuffle.
    *
    * Output: one row per chunk — `id, chunk_idx, chunk_len,
    * chunk_md5`.
    */
  def cdcChunks(docs: DataFrame, id: Column, text: Column,
                w: Int = 16): DataFrame =
    docs
      .select(id.as("id"),
        posexplode(cdcChunkArray(text, w)).as(Seq("chunk_idx", "c")))
      .select(col("id"), col("chunk_idx"),
        length(col("c")).as("chunk_len"), md5(col("c")).as("chunk_md5"))

  /** The chunk TEXT array of the content-defined boundary rule — the
    * expression core shared by [[cdcChunks]] and its streaming twin
    * ([[graft.streaming.StreamingCdcChunkDedup]]), so batch and
    * stream chunk the SAME units.
    */
  def cdcChunkArray(text: Column, w: Int = 16): Column =
    // Native codegen kernel ([[graft.functions.CdcKernels.cdcChunks]],
    // round-17 optimization): the higher-order-function fold this rule
    // was first written as had no codegen path (interpreted lambdas)
    // and paid an O(chars) `UTF8String.substringSQL` scan per candidate
    // boundary — O(chars²) per document. The kernel computes the
    // char→byte offset table once and runs one MD5 per window over raw
    // byte ranges; chunk placement is byte-identical (oracle-pinned by
    // q238/q247 at 3 SFs, parity-pinned in ExtSpec). Totality contract
    // unchanged: empty text is one empty chunk (ADVICE r16).
    graft.functions.CdcFns.cdc_chunk_array(text, w)

  /** BOUNDED content-defined chunking — the FastCDC-lineage
    * production profile the unbounded [[cdcChunkArray]] documents as
    * its gap: a banded boundary closer than `minLen` to the previous
    * cut is SKIPPED (tiny chunks amplify index size), and a gap
    * longer than `maxLen` FORCES cuts at exact `maxLen` strides
    * (pathological band-free runs — low-entropy text — can no longer
    * produce arbitrarily large chunks, the property a chunk STORE
    * sizes its pages by). The final chunk may be shorter than
    * `minLen` (the text simply ends); forced chunks are exactly
    * `maxLen`; every other chunk is in [minLen, maxLen]. Shift
    * robustness degrades only at the forced/skipped cuts — banded
    * cuts re-synchronize exactly as in the unbounded rule. Totality:
    * empty text is one empty chunk. Same single-pass fold shape as
    * [[cdcChunkArray]] (the CollapseProject lesson): the boundary
    * FILTER runs once; all per-end arithmetic is cheap and inline.
    */
  def cdcChunkArrayBounded(text: Column, w: Int = 16, minLen: Int = 8,
                           maxLen: Int = 32): Column =
    // Native codegen kernel ([[graft.functions.CdcKernels
    // .cdcChunksBounded]], round-17 optimization) replaying the
    // original fold branch-for-branch — skipped sub-minLen banded cuts,
    // exact-maxLen forced strides, final-chunk exception — over the
    // same banded ends; see [[cdcChunkArray]] for why native (the HOF
    // fold was interpreted and O(chars²)). Oracle-pinned by q246 at
    // 3 SFs, parity-pinned in ExtSpec.
    graft.functions.CdcFns.cdc_chunk_array_bounded(text, w, minLen, maxLen)

  /** The (id, band, bucket) LSH index both [[minhashPairs]] and
    * [[minhashBucketAudit]] hang off — map-side signature + banding,
    * 8-byte keys only.
    */
  private def bandedKeys(docs: DataFrame, id: Column, text: Column,
                         n: Int, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = docs.select(id.as("id"),
      SketchFns.minhash_signature(
        SketchFns.hashed_shingles(text, n), numHashes).as("sig"))
    sigs.select(col("id"),
      posexplode(SketchFns.band_buckets(col("sig"), bands))
        .as(Seq("band", "bucket")))
  }

  /** LSH operating-point PRE-FLIGHT: the candidate-pair census
    * [[minhashPairs]] would generate, estimated from bucket sizes
    * alone (Σ C(|bucket|, 2)) — one shuffle over 8-byte keys, BEFORE
    * any pairing work. Productizes the q231 lesson (VERDICT r15 item
    * 6): a corpus whose BASELINE cross-doc similarity approaches the
    * threshold makes nearly every pair an LSH candidate (at b=64, r=2
    * a 0.6-similar pair collides with P ≈ 1), so the candidate set
    * goes quadratic — a 65× blowup in the q231 fixture's first cut.
    * Strip boilerplate (q209) or re-tune banding when the guard
    * fires; same discipline as [[Retrieval.postingJoinAudit]] /
    * [[Skew.joinCardinalityAudit]], whose conventions this follows
    * (top-K hot buckets, exact decimal census carried as strings).
    *
    * Output: one row per top-K hot bucket — `skew_rank, band, bucket,
    * n_docs, contrib, total_candidates, n_hot_buckets, n_docs_total,
    * candidates_per_doc, explosive` — where `explosive` is the guard
    * verdict (`candidates_per_doc > maxCandidatesPerDoc`). An empty
    * result means no bucket holds two docs: nothing to pair at all.
    */
  def minhashBucketAudit(docs: DataFrame, id: Column, text: Column,
                         n: Int, numHashes: Int = 128, bands: Int = 64,
                         topK: Int = 20,
                         maxCandidatesPerDoc: Double = 8.0): DataFrame = {
    val banded = bandedKeys(docs, id, text, n, numHashes, bands)
    val hot = banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      // decimal(38,0): explosion is exactly the regime where Long n²
      // wraps (the joinCardinalityAudit rationale)
      .withColumn("contrib",
        (col("n_docs").cast("decimal(38,0)")
          * (col("n_docs") - 1).cast("decimal(38,0)") / lit(2))
          .cast("decimal(38,0)"))
    val totals = hot.agg(
      sum(col("contrib")).as("total_candidates"),
      count(lit(1)).as("n_hot_buckets"))
    val corpus = docs.agg(count(lit(1)).as("n_docs_total"))
    hot.orderBy(col("contrib").desc, col("band"), col("bucket"))
      .limit(topK)
      .withColumn("skew_rank", row_number().over(
        graft.functions.BoundedWindow.orderBy(
          col("contrib").desc, col("band"), col("bucket"))))
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(corpus))
      .withColumn("candidates_per_doc",
        col("total_candidates").cast("double")
          / col("n_docs_total").cast("double"))
      .select(col("skew_rank").cast("int").as("skew_rank"),
        col("band"), col("bucket"), col("n_docs"),
        col("contrib").cast("string").as("contrib"),
        col("total_candidates").cast("string").as("total_candidates"),
        col("n_hot_buckets"), col("n_docs_total"),
        col("candidates_per_doc"),
        (col("candidates_per_doc") > maxCandidatesPerDoc).as("explosive"))
  }

  /** LSH operating-point CHOOSER (VERDICT r16 item 7 — the audit
    * detected the q231-style candidate blowup, but the fix was
    * manual): given the measured bucket census of THIS corpus, pick
    * the banding of `numHashes` that keeps candidates/doc under the
    * guard while still detecting `targetJaccard` near-dups with
    * probability ≥ `minRecall`. One row per CANDIDATE banding (every
    * divisor of numHashes as the band count), with the analytic
    * recall `1-(1-j^r)^b` at the target, the measured candidate
    * census, both gate verdicts, and `chosen` marking the
    * recommendation: among recall-passing bandings the one with the
    * fewest candidates/doc (ties → fewer bands, i.e. the higher
    * effective threshold). A corpus whose baseline similarity sits AT
    * the target has no good point — then no row is chosen and the
    * caller must strip boilerplate first (q209), exactly the audit's
    * original advice.
    *
    * Scale shape: ONE signature pass over the corpus (the per-banding
    * bucket keys all derive from the same signature row — an
    * explode over banding structs, not one scan per banding), one
    * shuffle on (bands, band, bucket) 12-byte keys, then a
    * bandings-sized (≤ log₂ numHashes + 1 rows) rollup — the final
    * window is bounded by construction.
    */
  def lshOperatingPoint(docs: DataFrame, id: Column, text: Column,
                        n: Int, numHashes: Int = 128,
                        targetJaccard: Double = 0.9,
                        minRecall: Double = 0.9,
                        maxCandidatesPerDoc: Double = 8.0): DataFrame = {
    require(numHashes > 0 && targetJaccard > 0 && targetJaccard <= 1,
      "numHashes and targetJaccard must be positive (j ≤ 1)")
    val spark = docs.sparkSession
    import spark.implicits._
    val bandings = (1 to numHashes).filter(numHashes % _ == 0)
    val sigs = docs.select(id.as("id"),
      SketchFns.minhash_signature(
        SketchFns.hashed_shingles(text, n), numHashes).as("sig"))
    val combos = array(bandings.map(b =>
      struct(lit(b).as("bands"),
        SketchFns.band_buckets(col("sig"), b).as("buckets"))): _*)
    val keyed = sigs
      .select(col("id"), explode(combos).as("c"))
      .select(col("id"), col("c.bands").as("bands"),
        posexplode(col("c.buckets")).as(Seq("band", "bucket")))
    val census = keyed.groupBy(col("bands"), col("band"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .groupBy(col("bands"))
      .agg(
        sum((col("n_docs").cast("decimal(38,0)")
          * (col("n_docs") - 1).cast("decimal(38,0)") / lit(2))
          .cast("decimal(38,0)")).as("total_candidates"),
        count(lit(1)).as("n_hot_buckets"))
    val corpus = docs.agg(count(lit(1)).as("n_docs_total"))
    // analytic recall of each banding at the target similarity — pure
    // math, no data
    val recallOf = bandings.map { b =>
      val r = numHashes / b
      b -> (1.0 - math.pow(1.0 - math.pow(targetJaccard, r), b))
    }.toMap
    val base = bandings.toDF("bands")
      .join(census, Seq("bands"), "left")
      .crossJoin(broadcast(corpus))
      .withColumn("rows_per_band", lit(numHashes) / col("bands"))
      .withColumn("recall_at_target",
        element_at(
          map(recallOf.toSeq.flatMap { case (b, p) =>
            Seq(lit(b), lit(p)) }: _*),
          col("bands")))
      .withColumn("candidates_per_doc",
        coalesce(col("total_candidates").cast("double"), lit(0.0))
          / col("n_docs_total").cast("double"))
      .withColumn("passes_recall", col("recall_at_target") >= minRecall)
      .withColumn("passes_guard",
        col("candidates_per_doc") <= maxCandidatesPerDoc)
    base
      .withColumn("__rk", row_number().over(
        graft.functions.BoundedWindow.orderBy(
          col("passes_recall").desc, col("passes_guard").desc,
          col("candidates_per_doc").asc, col("bands").asc)))
      .select(col("bands"),
        col("rows_per_band").cast("int").as("rows_per_band"),
        col("recall_at_target"),
        coalesce(col("n_hot_buckets"), lit(0L)).as("n_hot_buckets"),
        coalesce(col("total_candidates").cast("string"), lit("0"))
          .as("total_candidates"),
        col("n_docs_total"), col("candidates_per_doc"),
        col("passes_recall"), col("passes_guard"),
        (col("__rk") === 1 && col("passes_recall") &&
          col("passes_guard")).as("chosen"))
      .orderBy(col("bands"))
  }

  def minhashPairs(docs: DataFrame, id: Column, text: Column, n: Int,
                   threshold: Double, numHashes: Int = 128,
                   bands: Int = 64): DataFrame = {
    // No persist anywhere: the shingle+signature kernels are codegen'd
    // map-side work over the text scan (measured at well under a second
    // per corpus pass at sf0.1), so recomputing them for the two verify
    // joins is cheaper — and leak-free — compared to caching multi-KB
    // shingle arrays for the session lifetime. At real corpus scale the
    // signature table would be written out once (columnar, partitioned)
    // and every stage below would read that — same plan shape.
    // (Round-18 re-measured the eager-materialization alternative: an
    // in-session localCheckpoint of (id, shingles) made q28 0.74× —
    // the block write + non-codegen RDD re-scan cost more than the two
    // saved kernel passes at sf0.1 — so the lazy shape stays.)
    // banded index carries ONLY (id, band, bucket): nothing below this
    // point ever shuffles a shingle array or the signature itself —
    // band_buckets collapses the signature to `bands` 8-byte keys in one
    // native pass
    val banded = bandedKeys(docs, id, text, n, numHashes, bands)
    // candidate generation via the shared one-shuffle groupBy+expand core
    // (see [[Lsh.bucketPairs]]); pathological mega-buckets come from
    // exact-identical docs — run [[exact]] dedup upstream, where they
    // belong
    val candidateIds = Lsh.bucketPairs(banded)
    // shingle arrays enter only for the candidate set: each verify join
    // recomputes the (cheap) shingle kernel over a fresh pruned scan
    val shOf = (idAlias: String, shAlias: String) => docs.select(
      id.as(idAlias), SketchFns.hashed_shingles(text, n).as(shAlias))
    val candidates = candidateIds
      .join(shOf("id_a", "sh_a"), "id_a")
      .join(shOf("id_b", "sh_b"), "id_b")
    candidates
      .withColumn("intersection",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("size_a", size(col("sh_a")))
      .withColumn("size_b", size(col("sh_b")))
      .withColumn("jaccard",
        col("intersection").cast("double")
          / (col("size_a") + col("size_b") - col("intersection")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("intersection"),
              col("size_a"), col("size_b"), col("jaccard"))
  }

  /** Winnowing-fingerprint near-dup pairs: inverted index over the
    * selected k-gram window minima (graft.functions.Winnow — the MOSS
    * scheme), pairing docs that share ≥ minShared fingerprints. Character-
    * level (robust to word-boundary edits, unlike word shingles); the
    * fingerprint set is ~|text|/w hashes, so the index is a fraction of
    * the full k-gram index. Same shuffle discipline as jaccardPairs:
    * 8-byte keys only.
    */
  def winnowPairs(docs: DataFrame, id: Column, text: Column,
                  k: Int = 8, w: Int = 4,
                  minOverlap: Double = 0.5,
                  maxDocFreq: Int = 64): DataFrame = {
    // derive-once (round-18): the winnow kernel is the expensive part
    // (char k-gram hashing + window minima per doc) and this exploded
    // (id, h) stream feeds the df census, the retained index, the
    // per-doc size census AND both self-join sides — composed lazily
    // that re-ran the kernel once per reference (q47's before plan:
    // 16 parquet scans / 8 winnow Generates). One eager checkpoint of
    // the 16 B/row stream = exactly one winnow pass per corpus.
    val inv0 = docs
      .select(id.as("id"),
        explode(array_distinct(
          graft.functions.ColumnFns.winnow(text, k, w))).as("h"))
      .localCheckpoint(true)
    // boilerplate cap (the MOSS move): a fingerprint present in more than
    // maxDocFreq docs is uninformative for pairing AND quadratic in the
    // self-join (one fp shared by f docs contributes f² candidate rows) —
    // repetitive corpora would otherwise blow the index up
    val kept = inv0.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDocFreq)
      .select(col("h"))
    val inv = inv0.join(kept, "h")
    val sizes = inv.groupBy(col("id")).agg(count(lit(1)).as("n_fp"))
    val invSized = inv.join(sizes, "id")
    invSized.as("a").join(invSized.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
               col("a.n_fp").as("n_fp_a"), col("b.n_fp").as("n_fp_b"))
      .agg(count(lit(1)).as("shared_fp"))
      // overlap normalized by the smaller retained set: an absolute
      // threshold can't serve short and long docs at once
      .withColumn("overlap",
        col("shared_fp").cast("double") / least(col("n_fp_a"), col("n_fp_b")))
      .filter(col("overlap") >= minOverlap)
      .select(col("id_a"), col("id_b"), col("shared_fp"), col("overlap"))
  }

  /** 64-bit SimHash over the word multiset (map-side): bit j of the
    * signature is the sign of Σ_words (2*bit_j(xxhash64(w)) - 1). Built as
    * a static 64-term expression tree (shift amounts must be Scala
    * literals), all inside whole-stage codegen.
    */
  def simhash64(text: Column): Column = SketchFns.simhash64(text)

  /** SimHash near-dup pairs with Hamming distance ≤ maxDistance, using
    * the pigeonhole trick for candidate generation: split the 64-bit
    * signature into (maxDistance+1) chunks — any pair within distance d
    * must agree on ≥1 chunk — shuffle on (chunk index, chunk value), then
    * verify the true Hamming distance. Exact w.r.t. the simhash.
    */
  def simhashPairs(docs: DataFrame, id: Column, text: Column,
                   maxDistance: Int = 3): DataFrame = {
    val sigs = docs.select(id.as("id"), simhash64(text).as("sig"))
    // shared pigeonhole decomposition (SketchFns.simhash_chunks) — the
    // streaming twin keys its state by the same chunks
    val chunked = sigs.select(col("id"), col("sig"),
      explode(SketchFns.simhash_chunks(col("sig"), maxDistance)).as("cc"))
      .select(col("id"), col("sig"), col("cc.chunk"), col("cc.v"))
    val candidates = chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.v") === col("b.v") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
              col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Consecutive non-overlapping `chunkWords`-word chunks of a text
    * column, as an array (map-side only; shared by the batch
    * [[chunkDedup]] and the streaming twin
    * [[graft.streaming.StreamingChunkDedup]] so both dedup the SAME
    * units).
    */
  def chunksOf(text: Column, chunkWords: Int): Column = {
    require(chunkWords >= 1, s"chunkWords must be >= 1, got $chunkWords")
    val words = split(text, " ")
    // ceil(nWords / chunkWords) chunks; split("") yields [""], so every
    // non-null doc has >= 1 word and the sequence is never empty
    val nChunks = ceil(size(words).cast("double") / chunkWords).cast("int")
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(words, i * chunkWords + 1, lit(chunkWords))))
  }

  /** Chunk-level (passage-level) exact dedup — the sub-document variant
    * of [[exact]] that corpus-curation pipelines run between document
    * dedup and near-dup removal (the CCNet/RefinedWeb "drop repeated
    * paragraphs" pass, adapted to whitespace corpora: documents here
    * have no newlines, so the passage unit is a fixed run of
    * `chunkWords` consecutive words).
    *
    * Each document is split into consecutive non-overlapping chunks;
    * across the whole corpus, only the FIRST occurrence of each distinct
    * chunk is retained, "first" meaning smallest (doc_id, chunk_idx) —
    * fully deterministic and replay-stable, like every keep-first in this
    * module. Output is one row per document: chunk counts, retained
    * ratio, and the md5 of the text rebuilt from the surviving chunks in
    * original order (the rebuilt body itself stays executor-side; only
    * the 32-byte digest comes back — at 100 TB the full rebuilt corpus
    * would be written to parquet by the caller, not returned).
    *
    * Shuffle profile: one exchange keyed on the chunk string (the
    * keep-first window — chunk groups are tiny, bounded by the corpus'
    * true duplication factor, so no skew mitigation is needed), one on
    * doc id for the group-back. Document bodies cross the wire chunked
    * exactly once each; nothing is quadratic.
    */
  def chunkDedup(docs: DataFrame, id: Column, text: Column,
                 chunkWords: Int = 8): DataFrame = {
    val exploded = docs.select(id.as("doc_id"),
        posexplode(chunksOf(text, chunkWords)).as(Seq("idx", "chunk")))
    val w = Window.partitionBy(col("chunk"))
      .orderBy(col("doc_id"), col("idx"))
    val flagged = exploded
      .withColumn("kept", row_number().over(w) === 1)
    val perDoc = flagged.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n_chunks"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      // collect_list drops nulls, so non-kept chunks vanish; the struct
      // sort restores original order before the rebuild
      sort_array(collect_list(when(col("kept"),
        struct(col("idx"), col("chunk"))))).as("kept_chunks"))
    perDoc
      .withColumn("retained_ratio",
        col("n_kept").cast("double") / col("n_chunks"))
      .withColumn("retained_md5",
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(md5(encode(
            concat_ws(" ", transform(col("kept_chunks"), c => c("chunk"))),
            "UTF-8"))))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"),
              col("retained_ratio"), col("retained_md5"))
  }

  /** Benchmark-contamination report: for every corpus document, how many
    * of its distinct word `n`-grams also appear in a (small) benchmark
    * set — the standard decontamination check run before pretraining
    * (n-gram overlap against eval suites).
    *
    * Scale shape: the benchmark side is eval data — megabytes against a
    * 100 TB corpus — so its distinct n-gram set is aggregated and then
    * BROADCAST; the corpus side streams through a map-side hash join and
    * the only corpus-keyed shuffle is the per-document count-up of the
    * (rare) matches. The corpus is never re-partitioned and never
    * self-joined. N-grams cross the broadcast as 8-byte hashes
    * ([[SketchFns.hashed_shingles]]), not strings.
    *
    * Output: (doc_id, n_shingles, n_shared, contamination_ratio), one
    * row per corpus document with at least one shared n-gram.
    */
  def contaminationReport(docs: DataFrame, id: Column, text: Column,
                          benchmark: DataFrame, benchText: Column,
                          n: Int = 5): DataFrame = {
    val docSh = docs.select(id.as("doc_id"),
      SketchFns.hashed_shingles(text, n).as("sh"))
    val ex = docSh.select(col("doc_id"), size(col("sh")).as("n_shingles"),
      explode(col("sh")).as("s"))
    val benchSet = benchmark
      .select(explode(SketchFns.hashed_shingles(benchText, n)).as("s"))
      .distinct()
    ex.join(broadcast(benchSet), "s")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_shared"))
      .withColumn("contamination_ratio",
        col("n_shared").cast("double") / col("n_shingles"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
              col("contamination_ratio"))
  }

  /** Incremental-ingest dedup: rows of `incoming` whose `fingerprint`
    * does not occur in `historical` — semantically an exact left-anti
    * join, executed through a broadcast Bloom pre-filter so that at
    * 100 TB the anti-join shuffle carries only the (small) fraction of
    * incoming rows the filter cannot rule out.
    *
    * Plan shape: (1) the historical side folds xxhash64(fingerprint)
    * into one `numBits`-bit Bloom filter via a mergeable Aggregator —
    * map-side partials, one bit-array per task crosses the exchange,
    * never the keys; (2) the single filter row is broadcast and probed
    * map-side over `incoming` (codegen'd [[graft.functions.BloomMightContain]]);
    * (3) rows with `might_contain = false` are DEFINITELY new (Bloom has
    * no false negatives) and bypass the join; (4) only might-contain
    * candidates — true duplicates plus ~fpp false positives — take the
    * exact anti-join against the historical fingerprints. The union of
    * (3) and (4) is exactly the anti-join result: approximation changes
    * the cost, never the answer.
    *
    * `numBits` is caller-sized (8–10 bits per expected historical key),
    * deliberately not derived from a `count()` — an extra pass over the
    * build side costs more than an over-provisioned filter, and a
    * data-independent size keeps the plan replay-stable.
    */
  def incrementalNew(incoming: DataFrame, historical: DataFrame,
                     fingerprint: Column, numBits: Int,
                     numHashes: Int = 6): DataFrame = {
    import graft.functions.BloomAgg
    val histFp = historical.select(fingerprint.as("__fp"))
    val bloom = histFp
      .agg(BloomAgg.build(numBits, numHashes,
        xxhash64(col("__fp"))).as("__bloom"))
    val tagged = incoming
      .withColumn("__fp", fingerprint)
      .crossJoin(broadcast(bloom))
      // null fingerprints: the anti-join contract KEEPS them (a null key
      // matches nothing on the build side), so the probe must coalesce
      // its null result onto the definitely-new path — not silently drop
      // the row from both branches
      .withColumn("__maybe",
        coalesce(SketchFns.bloom_might_contain(col("__bloom"),
          xxhash64(col("__fp")), numHashes), lit(false)))
      .drop("__bloom")
    val definitelyNew = tagged.filter(!col("__maybe"))
    val checkedNew = tagged.filter(col("__maybe"))
      .join(histFp.distinct(), Seq("__fp"), "left_anti")
    definitelyNew.unionByName(checkedNew).drop("__maybe", "__fp")
  }

  /** Leakage-safe train/eval split: every member of a near-dup cluster
    * lands in the SAME split, so no eval document has a near-duplicate in
    * the training set (the classic contamination mode a per-document
    * random split invites). Docs outside any pair are their own
    * singleton cluster (cluster_id = doc_id).
    *
    * The assignment is content-free and replay-stable: split =
    * md5(cluster_id as string) first hex digit ≤ 'd' → train (14/16 =
    * 87.5%), else eval — the same rule is one expression in any engine,
    * so the whole operator stays under the oracle gate. Per-cluster (not
    * per-doc) hashing is the entire point: the unit of randomization is
    * the deduplication equivalence class.
    *
    * Scale shape: one left join of the corpus against the (much smaller)
    * clustered-doc table; the cluster computation itself is
    * [[clusters]]' O(diameter) propagation over the pair list.
    */
  def leakageSplit(docs: DataFrame, id: Column, pairs: DataFrame): DataFrame =
    leakageSplitFromClusters(docs, id,
      clusters(pairs).select(col("doc_id"), col("cluster_id")))

  /** [[leakageSplit]] consuming an ALREADY-COMPUTED cluster table
    * (doc_id, cluster_id) — the production factoring: one cluster pass
    * feeds the split, the canonical selection, and the curation
    * pipeline, instead of each recomputing it.
    */
  def leakageSplitFromClusters(docs: DataFrame, id: Column,
                               clusterTable: DataFrame): DataFrame = {
    val cl = clusterTable.select(col("doc_id"), col("cluster_id"))
    docs.select(id.as("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("split",
        when(substring(md5(col("cluster_id").cast("string")), 1, 1) <= "d",
          "train").otherwise("eval"))
  }

  /** Deterministic hash-bucket train/val/test split — the OTHER split
    * operator next to [[leakageSplit]]: where that one randomizes at
    * near-dup-cluster granularity (leakage safety), this one assigns
    * each row independently by a salted md5 bucket, the standard
    * at-scale stratified split. Purely map-side: no shuffle, no
    * per-stratum ranking, no driver state — fractions hold in
    * expectation per stratum because the hash is uniform and
    * independent of every stratum variable. (An EXACT-count per-stratum
    * split needs a per-stratum rank — a window sort concentrating each
    * stratum on one task, the wrong default at 100 TB; this is why
    * hash-threshold is the production norm.)
    *
    * The salt makes splits independent across experiments: a different
    * `seed` re-deals every row. Buckets are the first 4 hex digits of
    * md5(seed ":" id) — 65536 cells, thresholds at
    * floor(trainFrac·65536) and floor((trainFrac+valFrac)·65536).
    *
    * Output: input columns + (bucket INT, split STRING).
    */
  def hashSplit(docs: DataFrame, id: Column, seed: String = "split1",
                trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      "fractions must satisfy 0 < train, 0 <= val, train + val < 1")
    val cells = 65536L
    val trainCut = (trainFrac * cells).toLong
    val valCut = ((trainFrac + valFrac) * cells).toLong
    val bucket =
      conv(substring(md5(concat(lit(seed + ":"), id.cast("string"))), 1, 4),
        16, 10).cast("int")
    docs.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainCut, "train")
          .when(col("bucket") < valCut, "val")
          .otherwise("test"))
  }

  /** Substring-level duplication signal (the regime document-level dedup
    * misses — boilerplate headers, license blocks, templated spans): for
    * each document, how many of its word 8-grams occur in at least one
    * OTHER document, and the longest CONSECUTIVE run of such duplicated
    * 8-grams (≈ the longest copied span, in the spirit of
    * Lee et al. 2021's duplicated-substring removal).
    *
    * Plan shape at scale: positional 8-grams explode map-side (~one row
    * per word), the document-frequency census is one hash aggregation on
    * the gram, and the run-length step is a per-document window — keyed
    * by doc_id, so no global sort and no single-partition window. The
    * gram census is the natural hot spot; it aggregates (gram → df)
    * with map-side partial aggregation, so a boilerplate gram appearing
    * everywhere still arrives at one reducer as partial counts, not raw
    * rows.
    *
    * Output: (doc_id, n_grams, n_dup, max_dup_run) for every doc with
    * ≥ 8 words. Duplication is counted across DISTINCT documents —
    * a gram repeated only within one doc is not "duplicated" here
    * (within-doc repetition is [[TextAnalysis]]'s repetition metrics).
    */
  def dupSpans(docs: DataFrame, id: Column, text: Column): DataFrame = {
    // grams are carried as xxhash64 LONGS, never strings: the census
    // shuffle and the flag-join move 8 bytes per gram instead of the
    // ~50-byte text (measured ~2× on this operator), the same
    // hashed-shingle discipline as [[jaccardPairs]]. A 64-bit collision
    // merging two distinct grams (and so over-counting a df by one) is
    // ~n²/2⁶⁵ — at 1e10 corpus grams still ≪1, and the signal is a
    // per-doc duplication STATISTIC, not an exact-match key.
    val grams = docs
      .select(id.as("doc_id"), split(text, " ").as("w"))
      .filter(size(col("w")) >= 8)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, size(w) - 8), i -> xxhash64(array_join(slice(w, i + 1, 8), ' ')))"))
          .as(Seq("pos", "gram")))
      // the gram stream feeds BOTH the df census and the flag join —
      // one materialization (24 B/row: two ids + a hash, smaller than
      // the text it derives from) instead of tokenizing + slicing +
      // hashing the corpus twice (round-17 optimization: 1.42 → 1.05 s
      // at sf0.1; at scale this trades one narrow block-store write
      // against a full second tokenize+hash pass over the corpus)
      .localCheckpoint(true)
    val df = grams.groupBy(col("gram"))
      .agg(count_distinct(col("doc_id")).as("__df"))
    val flagged = grams.join(df, "gram")
      .select(col("doc_id"), col("pos"), (col("__df") >= 2).as("dup"))
    val perDoc = flagged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup"))
    // gaps-and-islands: consecutive duplicated positions share
    // (pos - row_number) within the doc
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val runs = flagged.filter(col("dup"))
      .withColumn("__grp", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("__grp"))
      .agg(count(lit(1)).as("__rlen"))
      .groupBy(col("doc_id"))
      .agg(max(col("__rlen")).as("max_dup_run"))
    perDoc.join(runs, Seq("doc_id"), "left")
      .withColumn("max_dup_run", coalesce(col("max_dup_run"), lit(0L)))
  }

  /** Sorted-neighborhood record-linkage blocking (Hernández & Stolfo
    * 1995): sort all records by a blocking key, pair each record with
    * its `w` successors in sort order, verify each candidate with the
    * expensive similarity (here Levenshtein). The complementary
    * blocking to q104's equality blocks: block-join pair counts grow
    * with Σ|block|² and explode on skewed blocks, sorted-neighborhood
    * emits EXACTLY ≤ w pairs per record no matter how keys cluster —
    * the skew-proof choice when a "block" (one surname, one brand) can
    * hold millions.
    *
    * The global sort rank is NOT one task: ranks are computed with the
    * bucketed two-phase prefix decomposition ([[graft.ext.Stats]]'s
    * ECDF argument) — records bucket by the key's first character
    * (consistent with full-key order, so cross-bucket ties are
    * impossible), rank locally per bucket, and add broadcast bucket
    * offsets (one tiny #buckets-row window). Pair generation explodes
    * each record to its `w` successor ranks and equi-joins on rank —
    * a co-partitioned bounded-fanout join, never a range scan.
    *
    * Output: one row per (record, j≤w successor) — `rank_a, id_a,
    * id_b, key_a, key_b, rank_dist, dist` (Levenshtein). Null keys are
    * excluded (no sort position). Callers filter `dist` to taste.
    */
  def sortedNeighborPairs(df: DataFrame, id: Column, key: Column,
                          w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1, got $w")
    val keyed = df.select(id.as("id"), key.as("k"))
      .where(col("k").isNotNull)
      .withColumn("blk", substring(col("k"), 1, 1))
    val local = keyed.withColumn("lr", row_number().over(
      Window.partitionBy(col("blk")).orderBy(col("k"), col("id"))))
    val offs = keyed.groupBy(col("blk")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        graft.functions.BoundedWindow.orderBy(col("blk"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("blk"), col("off"))
    val ranked = local.join(broadcast(offs), "blk")
      .select(col("id"), col("k"), (col("off") + col("lr")).as("rank"))
    val probes = ranked.select(col("id").as("id_a"), col("k").as("key_a"),
        col("rank").as("rank_a"),
        explode(sequence(col("rank") + 1, col("rank") + w)).as("rank"))
    probes.join(ranked.select(col("id").as("id_b"), col("k").as("key_b"),
        col("rank")), "rank")
      .select(col("rank_a"), col("id_a"), col("id_b"),
        col("key_a"), col("key_b"),
        (col("rank") - col("rank_a")).cast("int").as("rank_dist"),
        levenshtein(col("key_a"), col("key_b")).as("dist"))
  }

  /** Frequency-capped passage removal — the CCNet sentence-dedup
    * discipline (Wenzek et al. 2020, arXiv:1911.00359 §3.1) adapted to
    * this corpus' whitespace passages: any passage whose corpus-wide
    * occurrence count EXCEEDS `maxFreq` is removed from EVERY document
    * that contains it, including the first. The policy differs from
    * [[chunkDedup]]'s keep-first on purpose: boilerplate (headers,
    * cookie banners, license blocks) is noise in all its occurrences,
    * so curation pipelines run BOTH passes — keep-first for honest
    * content that happens to repeat, frequency-cap for text whose very
    * frequency marks it as template.
    *
    * Scale shape: passages explode once; the census is a map-side-
    * combined groupBy on the passage STRING (exact semantics — an
    * 8-byte hash census would let a collision delete innocent text;
    * group sizes are the corpus' true duplication factor, so the census
    * reduce side is small); the flag join re-shuffles the exploded rows
    * on the same key the census produced, so AQE/exchange reuse
    * co-partitions the two sides; the group-back to documents is the
    * one doc-keyed exchange. Document bodies cross the wire chunked
    * exactly once each, like [[chunkDedup]].
    *
    * Output: one row per document — `n_chunks`, `n_removed` (passage
    * instances dropped), `removed_ratio`, and `retained_md5` (digest of
    * the text rebuilt from surviving passages in original order; NULL
    * if everything was template). At 100 TB the rebuilt corpus is
    * written by the caller; only the 32-byte digest returns here.
    */
  def frequencyChunkFilter(docs: DataFrame, id: Column, text: Column,
                           chunkWords: Int = 8, maxFreq: Long = 2L)
      : DataFrame = {
    require(maxFreq >= 1, s"maxFreq must be >= 1, got $maxFreq")
    val exploded = docs.select(id.as("doc_id"),
      posexplode(chunksOf(text, chunkWords)).as(Seq("idx", "chunk")))
    val census = exploded.groupBy(col("chunk"))
      .agg(count(lit(1)).as("__freq"))
    val flagged = exploded.join(census, "chunk")
      .select(col("doc_id"), col("idx"), col("chunk"),
        (col("__freq") > maxFreq).as("removed"))
    flagged.groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sort_array(collect_list(when(!col("removed"),
          struct(col("idx"), col("chunk"))))).as("__kept"))
      .withColumn("removed_ratio",
        col("n_removed").cast("double") / col("n_chunks"))
      .withColumn("retained_md5",
        when(col("n_removed") === col("n_chunks"),
            lit(null).cast("string"))
          .otherwise(md5(encode(
            concat_ws(" ", transform(col("__kept"), c => c("chunk"))),
            "UTF-8"))))
      .select(col("doc_id"), col("n_chunks"), col("n_removed"),
              col("removed_ratio"), col("retained_md5"))
  }
}
