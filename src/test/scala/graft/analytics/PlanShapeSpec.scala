package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, TestSpark}

/** Physical-plan shape assertions: the properties that make these queries
  * scale are load-bearing, so they are pinned here — filter pushdown and
  * column pruning reaching the parquet scan, dimension joins broadcasting
  * instead of shuffling, top-k planning as TakeOrderedAndProject, and the
  * native kernels staying inside whole-stage codegen. A refactor that
  * silently degrades any of these still passes value-level tests; this
  * suite is what catches it.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q01 scan: filter pushed to parquet, untouched columns pruned") {
    val plan = executedPlan("q01_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"shipdate filter not pushed:\n$plan")
    // projection pruning: the scan schema must not include columns the
    // query never touches
    assert(!plan.contains("l_comment"), "scan reads an untouched column")
    assert(!plan.contains("l_partkey"), "scan reads an untouched column")
  }

  test("dimension joins broadcast; no sort-merge on the dim side") {
    // q03 joins lineitem (fact) to part (dim): the dim must broadcast
    val plan = executedPlan("q03_brand_revenue")
    assert(plan.contains("BroadcastHashJoin"),
      s"dimension join did not broadcast:\n$plan")
    // q02's 5-way star: region/nation/customer/supplier are all dims
    val star = executedPlan("q02_region_revenue")
    assert(star.contains("BroadcastHashJoin"))
  }

  test("top-k plans as TakeOrderedAndProject, not global sort") {
    val plan = executedPlan("q08_top10_parts_by_revenue")
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit+orderBy did not fuse into top-k:\n$plan")
  }

  test("semi/anti join queries plan as semi/anti, not join+distinct") {
    assert(executedPlan("q04_priority_with_returns").contains("LeftSemi"))
    assert(executedPlan("q05_customers_without_orders").contains("LeftAnti"))
  }

  test("q94 PQ: query set broadcasts; no cartesian product anywhere") {
    val plan = executedPlan("q94_knn_pq")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"PQ scoring join did not broadcast the query set:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product leaked into the PQ plan:\n$plan")
  }

  test("q97 inverted index: bounded ObjectHashAggregate with a partial phase") {
    // the structural cap only holds if postings aggregate map-side
    // (partial_topkbyscore) before the exchange — a plan that shuffles
    // raw (term, doc_id) rows into one big sort/collect has lost it
    val plan = executedPlan("q97_inverted_index")
    assert(plan.contains("ObjectHashAggregate"),
      s"no object aggregation in:\n$plan")
    assert(plan.toLowerCase.contains("partial_topkbyscore"),
      s"no partial (map-side) posting aggregation in:\n$plan")
  }

  test("q88 dup spans: census aggregates partially map-side before its exchange") {
    val plan = executedPlan("q88_dup_spans")
    assert(plan.toLowerCase.contains("partial_count"),
      s"gram census does not partial-aggregate:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product leaked into q88:\n$plan")
  }

  test("q51 scans events exactly once (no double synthesize→parse)") {
    // the JSON build + from_json chain is the expensive part of q51;
    // the former two-branch (docs ⋈ tabs) form executed it twice. One
    // file scan in the physical plan pins the single-pass rewrite.
    val plan = executedPlan("q51_nested_json_tables")
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected exactly 1 events scan, found $scans:\n$plan")
  }

  test("native kernels run inside whole-stage codegen") {
    // q53's repetition kernel and q34's poly_hash are UnaryExpressions
    // with doGenCode — they must not break the codegen span around them.
    // AQE only materializes WholeStageCodegen nodes in the FINAL plan, so
    // execute first and inspect the finalized plan.
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // "*(n)" prefixes mark whole-stage-codegen'd operators in the
    // simple plan string; the kernel projection must carry one
    val rep = finalPlan("q53_repetition_metrics")
    assert(rep.linesIterator.exists(l =>
      l.contains("*(") && l.contains("repetition_stats")),
      s"repetition kernel outside codegen:\n$rep")
    val fp = finalPlan("q34_fingerprints")
    assert(fp.linesIterator.exists(l =>
      l.contains("*(") && l.contains("poly_hash")),
      s"poly_hash outside codegen:\n$fp")
  }

  test("q58 heavy hitters: top-k fuses into TakeOrderedAndProject") {
    val plan = executedPlan("q58_heavy_hitters")
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocabulary top-k fell back to a global sort:\n$plan")
  }

  test("q59 contamination: benchmark n-gram set broadcasts") {
    val plan = executedPlan("q59_contamination")
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark set did not broadcast — corpus would shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"unexpected sort-merge join in the contamination path:\n$plan")
  }

  test("q60 quality band: threshold joins back as broadcast, no window sort") {
    val plan = executedPlan("q60_quality_band")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-lang threshold did not broadcast:\n$plan")
    assert(!plan.contains("Window"),
      s"quality band must use an aggregate threshold, not a corpus window:\n$plan")
  }

  test("q65 unigram model: scoring join is broadcast, corpus side unshuffled") {
    val plan = executedPlan("q65_unigram_log_ppl")
    assert(plan.contains("BroadcastHashJoin"),
      s"unigram model did not broadcast into the scoring pass:\n$plan")
  }

  test("q74 incremental dedup: Bloom probe in plan, anti-join only on candidates") {
    val plan = executedPlan("q74_incremental_dedup")
    assert(plan.contains("bloom_might_contain"),
      s"Bloom pre-filter missing — anti-join would carry every row:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"exact anti-join check missing — result would be approximate:\n$plan")
    // the historical build side aggregates partially before its exchange:
    // the shuffle must carry bit-arrays (one per task), never raw keys
    assert(plan.contains("partial_bloomagg") || plan.contains("ObjectHashAggregate"),
      s"bloom build lost its partial (map-side) aggregation:\n$plan")
  }

  test("q76 BM25: query side broadcasts; corpus never sort-merge joins") {
    val plan = executedPlan("q76_bm25_topk")
    assert(plan.contains("BroadcastHashJoin"),
      s"query/term stats did not broadcast into the corpus pass:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-side sort-merge join in the BM25 path:\n$plan")
  }

  test("q77 bigram LM: model build broadcasts its vocab inputs; q78 kernel in codegen") {
    val plan = executedPlan("q77_bigram_log_ppl")
    assert(plan.contains("BroadcastHashJoin"),
      s"unigram context counts did not broadcast into the model build:\n$plan")
    val df = SparkEntry.queries("q78_normalize_text")(spark, sf)
    df.collect()
    val norm = df.queryExecution.executedPlan.toString
    assert(norm.linesIterator.exists(l =>
      l.contains("*(") && l.contains("normalize_text")),
      s"normalize_text outside whole-stage codegen:\n$norm")
  }

  test("q80 PageRank: rank vector rides broadcast joins, never sort-merge") {
    // the one pageRank plan: every per-iteration join (degree table,
    // rank vector, contribution sums) must be a BroadcastHashJoin; a
    // SortMergeJoin means an iteration is shuffling the edge list again
    val plan = executedPlan("q80_pagerank")
    assert(plan.contains("BroadcastHashJoin"),
      s"PageRank iteration joins did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"an edge-list shuffle leaked into the PageRank plan:\n$plan")
  }

  test("q101 stats aggregates: one partial+final pass, no extra exchange") {
    // corr/covar/regr/median over 3 groups must partial-aggregate
    // map-side; a plan without a partial phase ships raw fact rows
    val plan = executedPlan("q101_stats_aggs")
    assert(plan.contains("partial_"),
      s"stats aggregation lost its map-side partial phase:\n$plan")
  }

  test("q102/q106 per-row surfaces stay exchange-free up to the sort") {
    // array HOFs (q102) and media header parsing (q106) are pure map
    // work: the only exchange allowed is the final presentation orderBy
    for (q <- Seq("q102_array_hof", "q106_video_meta")) {
      val plan = executedPlan(q)
      val exchanges = "Exchange".r.findAllIn(plan).length
      val rangeEx = "rangepartitioning".r
        .findAllIn(plan.toLowerCase).length
      assert(exchanges == rangeEx && rangeEx >= 1,
        s"$q grew a non-sort exchange ($exchanges vs $rangeEx):\n$plan")
    }
  }

  test("q104 fuzzy join: deduped name blocks broadcast") {
    val plan = executedPlan("q104_fuzzy_name_pairs")
    assert(plan.contains("BroadcastHashJoin"),
      s"blocked fuzzy self-join did not broadcast:\n$plan")
  }

  test("q107 zorder spans: morton math in codegen, single agg exchange") {
    val df = SparkEntry.queries("q107_zorder_spans")(spark, sf)
    df.collect() // finalize the adaptive plan so codegen spans are visible
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" is the WholeStageCodegen marker in the finalized plan
    assert(plan.contains("*("),
      s"morton expression fell out of codegen:\n$plan")
    assert(plan.contains("partial_"),
      s"span aggregation lost its partial phase:\n$plan")
  }

  test("q131 profile: one Expand-lowered aggregation job, no per-column jobs") {
    val plan = executedPlan("q131_data_profile")
    assert(plan.contains("Expand"),
      s"multi-column COUNT DISTINCT did not lower to Expand:\n$plan")
    // one aggregation exchange (+ the presentational sort's range
    // exchange at most): a per-column-job regression would multiply these
    val exchanges = "Exchange".r.findAllIn(plan).length
    assert(exchanges <= 3, s"profile plan grew $exchanges exchanges:\n$plan")
  }

  test("q132 audit: FK orphan check plans as LeftAnti, no cartesian") {
    val plan = executedPlan("q132_constraint_audit")
    assert(plan.contains("LeftAnti"),
      s"FK check did not plan as anti join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product leaked into the audit plan:\n$plan")
  }

  test("q134 sweep-line: bucket offsets broadcast back, never shuffled") {
    val plan = executedPlan("q134_peak_concurrency")
    assert(plan.contains("BroadcastHashJoin"),
      s"offset table did not broadcast:\n$plan")
  }

  test("q143 KS test: decomposed ECDF carries no cartesian product") {
    // the 1-row range/total sides ride BroadcastNestedLoopJoin; a
    // CartesianProduct would mean a real all-pairs regression
    val plan = executedPlan("q143_ks_test")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product leaked into the KS plan:\n$plan")
  }

  test("q145 PIT lookup: validity range stays a residual on an equi-join") {
    val plan = executedPlan("q145_pit_lookup")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"temporal join lost its user_id equi-key:\n$plan")
  }

  test("q149 contribution: dim join broadcasts, ratios window the aggregate") {
    val plan = executedPlan("q149_contribution")
    assert(plan.contains("BroadcastHashJoin"),
      s"nation dim did not broadcast:\n$plan")
    // the share windows must sit ABOVE the aggregate: their window
    // exchange partitions by regionkey, which only exists post-agg —
    // presence of Window over HashAggregate output is structural here;
    // pin that no window partitions by a fact-table column
    assert(plan.contains("Window"), s"no window in:\n$plan")
    assert(!plan.contains("windowspecdefinition(o_custkey") &&
      !plan.contains("windowspecdefinition(o_orderkey"),
      s"a report window leaked onto the fact table:\n$plan")
  }

  test("q122 triangles: adjacency broadcasts, no sort-merge, kernel in codegen") {
    // the compact-forward plan: both intersection-side lookups ride the
    // broadcast adjacency table, and the merge kernel must not break
    // whole-stage codegen. A SortMergeJoin here means the wedge-scale
    // stream is being shuffled again.
    val df = SparkEntry.queries("q122_triangle_counts")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"adjacency lookups did not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a wedge-scale shuffle leaked into the triangle plan:\n$plan")
    assert(plan.linesIterator.exists(l =>
      l.contains("*(") && l.contains("sorted_intersect")),
      s"sorted_intersect outside whole-stage codegen:\n$plan")
  }

  test("q147 novelty: no gram-keyed join — only the doc-sized join back") {
    // the census join-back is on doc_id (doc-sized both sides); a join
    // whose key is the gram hash means the fact-sized gram stream is
    // being joined again (the shape the rewrite removed). NB: the
    // iterative graph operators (q154/q156) cannot be pinned this way —
    // their joins run inside per-level jobs behind localCheckpoint, so
    // the final plan is an RDD scan; their scale shape is asserted
    // behaviorally in GraphSpec instead.
    val plan = executedPlan("q147_ngram_novelty")
    val joinLines = plan.linesIterator.filter(_.contains("Join")).toSeq
    assert(joinLines.nonEmpty, s"expected the doc-sized join back:\n$plan")
    assert(joinLines.forall(!_.contains("gh#")),
      s"gram-keyed join reappeared:\n$plan")
    assert(plan.contains("hashed_shingles"),
      s"native shingle kernel missing from the plan:\n$plan")
  }

  test("q158 merge: join-free tagged-union plan, one reduce exchange") {
    // Cdc.merge's contract is the ONE-exchange shape: tag + union +
    // hash-aggregate on the key. A Join node would mean it regressed to
    // the textbook full-outer formulation (an exchange per side); more
    // than two exchanges (the source pre-aggregation + the merge
    // reduce) means the union stopped co-flowing into one shuffle.
    val plan = executedPlan("q158_merge_into")
    assert(!plan.contains("Join"),
      s"merge plan regressed to a join:\n$plan")
    // hash exchanges only: the query's own orderBy adds a range
    // exchange that is presentation, not merge machinery
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2,
      s"merge plan hash-shuffles $exchanges times (expected <= 2):\n$plan")
  }

  test("AQE re-plans shuffles at runtime (coalesced partition reads)") {
    // the 100 TB posture leans on adaptive execution (skew splits,
    // partition coalescing); pin that it is actually active in the final
    // plan of a shuffling query rather than configured-but-inert
    val df = graft.SparkEntry.queries("q01_pricing_summary")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead"),
      s"no adaptive shuffle read in the final plan:\n$plan")
  }
}
