package graft.analytics

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.ext.Affinity

/** Round-8 widening, part 3: behavior/telemetry analytics — the
  * deadline-boxed conversion funnel, time-weighted averages over
  * irregular samples, per-group OLS trend fitting, multi-source BFS
  * reachability, and the inter-arrival-time distribution. These are
  * the queries a training-data pipeline's TELEMETRY warehouse runs;
  * the reference's monitoring analytics (SURVEY §2C) are their
  * infrastructure-shaped siblings.
  *
  * Exactness discipline (same as [[StatQueries]]): timestamps
  * differenced in integer MICROSECONDS (`unix_micros` here,
  * `epoch_us` in the oracle), money in integer cents, covariance-style
  * accumulations in decimal(38,0), and a single double division +
  * round at output — no fold-order-sensitive float sums anywhere.
  */
object BehaviorQueries {

  val queries: Seq[GraftQuery] = Seq(

    // q151: DEADLINE-boxed conversion funnel — first view, first click
    // within 1 HOUR of it, first purchase within 24 HOURS of that
    // click. q72 measures unbounded stage PROGRESSION (how far each
    // user ever gets, in sequence order); this is the time-budgeted
    // CONVERSION metric product analytics actually reports ("converted
    // within the window"), and the two disagree by construction (at
    // sf0.01: 150 users reach q72's click stage, 3 click within the
    // hour). Each stage is one per-user aggregate joined back on
    // user_id: user-keyed shuffles only, no window over the full event
    // stream, and each stage's frontier shrinks monotonically, so
    // later stages join dimension-sized frontiers — broadcast
    // candidates by construction at any corpus scale.
    GraftQuery(
      "q151_deadline_funnel",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val e = t.events.select(col("user_id"), col("event_type"), col("ts"))
        val v = e.where(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
        val c = e.where(col("event_type") === "click").join(v, "user_id")
          .where(col("ts") >= col("t_view") &&
            col("ts") <= col("t_view") + expr("INTERVAL 1 HOUR"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
        val p = e.where(col("event_type") === "purchase").join(c, "user_id")
          .where(col("ts") >= col("t_click") &&
            col("ts") <= col("t_click") + expr("INTERVAL 24 HOURS"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
        v.agg(count(lit(1)).as("users"))
          .select(lit(1).as("stage"), lit("view").as("name"), col("users"))
          .unionAll(c.agg(count(lit(1)).as("users"))
            .select(lit(2).as("stage"), lit("click").as("name"), col("users")))
          .unionAll(p.agg(count(lit(1)).as("users"))
            .select(lit(3).as("stage"), lit("purchase").as("name"),
              col("users")))
          .orderBy(col("stage"))
      },
      Some("""
        WITH v AS (
          SELECT user_id, min(ts) AS t_view FROM events
          WHERE event_type = 'view' GROUP BY 1),
        c AS (
          SELECT e.user_id, min(e.ts) AS t_click
          FROM events e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts >= v.t_view
            AND e.ts <= v.t_view + INTERVAL 1 HOUR GROUP BY 1),
        p AS (
          SELECT e.user_id, min(e.ts) AS t_buy
          FROM events e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
            AND e.ts <= c.t_click + INTERVAL 24 HOUR GROUP BY 1)
        SELECT 1 AS stage, 'view' AS name, count(*) AS users FROM v
        UNION ALL SELECT 2, 'click', count(*) FROM c
        UNION ALL SELECT 3, 'purchase', count(*) FROM p
        ORDER BY 1""")),

    // q152: time-weighted average (TWAP) of each user's `value` — the
    // correct mean for IRREGULARLY-sampled telemetry, where the plain
    // AVG over-weights bursts: each observation holds (LOCF) until the
    // next one, and is weighted by that holding duration. The sibling
    // of q133 (EWMA: exponential decay) and q90 (gap-fill: the
    // materialized step function). One user-keyed lead() window, one
    // grouped aggregate. Exactness: cents × integer-microsecond
    // durations accumulated in decimal(38,0); the final
    // numerator/denominator division is the only float op.
    GraftQuery(
      "q152_twap",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t.events
          .select(col("user_id"), col("ts"), col("event_id"),
            floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
          .withColumn("t0", expr("unix_micros(ts)"))
          .withColumn("t1", lead(col("t0"), 1).over(w))
          .where(col("t1").isNotNull)
          .groupBy(col("user_id"))
          .agg(expr("(max(t1) - min(t0)) div 1000000L").as("span_s"),
            round(
              sum(col("cents").cast("decimal(38,0)") * (col("t1") - col("t0")))
                .cast("double") /
              sum(col("t1") - col("t0")).cast("double") / 100.0, 4)
              .as("twap"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH seg AS (
          SELECT user_id,
                 CAST(floor("value" * 100 + 0.5) AS BIGINT) AS cents,
                 epoch_us(ts) AS t0,
                 epoch_us(lead(ts) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id)) AS t1
          FROM events)
        SELECT user_id,
               (max(t1) - min(t0)) // 1000000 AS span_s,
               round(CAST(sum(CAST(cents AS DECIMAL(38,0)) * (t1 - t0))
                          AS DOUBLE)
                     / CAST(sum(t1 - t0) AS DOUBLE) / 100.0, 4) AS twap
        FROM seg WHERE t1 IS NOT NULL
        GROUP BY user_id ORDER BY user_id""")),

    // q153: per-group OLS trend — the least-squares slope of each
    // nation's daily revenue over the day index, i.e. "which markets
    // are growing and how fast", fitted in closed form from four
    // mergeable sums (n, Σx, Σy, Σxy, Σx²). Every sum is map-side
    // partial + exact (x is a small day index, y integer cents,
    // products in decimal(38,0)), so the fit is one aggregation pass
    // with no iteration and no driver math — regression over a 100 TB
    // fact table costs exactly one shuffle of #groups × 5 numbers.
    // slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²), one double division.
    GraftQuery(
      "q153_ols_trend",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val dec = "decimal(38,0)"
        val daily = t.orders
          .join(t.customer, col("o_custkey") === col("c_custkey"))
          .join(t.nation, col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"),
            datediff(to_date(col("o_orderdate")),
              lit("2024-01-01").cast("date")).as("x"))
          // quantize each order to cents BEFORE summing: a long sum is
          // fold-order-free, where floor(sum(double)*100+0.5) could flip
          // on a .005 boundary between engines
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("y"))
        daily.groupBy(col("n_name"))
          .agg(count(lit(1)).as("n_days"),
            round(
              (count(lit(1)).cast(dec) *
                 sum(col("x").cast(dec) * col("y")) -
               sum(col("x")).cast(dec) * sum(col("y")).cast(dec))
                .cast("double") /
              (count(lit(1)).cast(dec) *
                 sum(col("x").cast(dec) * col("x")) -
               sum(col("x")).cast(dec) * sum(col("x")).cast(dec))
                .cast("double") / 100.0, 4).as("slope"))
          .orderBy(col("n_name"))
      },
      Some("""
        WITH daily AS (
          SELECT n.n_name,
                 date_diff('day', DATE '2024-01-01',
                           CAST(o.o_orderdate AS DATE)) AS x,
                 sum(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT)) AS y
          FROM orders o
          JOIN customer c ON o.o_custkey = c.c_custkey
          JOIN nation n ON c.c_nationkey = n.n_nationkey
          GROUP BY 1, 2)
        SELECT n_name, count(*) AS n_days,
               round(CAST(CAST(count(*) AS DECIMAL(38,0))
                            * sum(CAST(x AS DECIMAL(38,0)) * y)
                          - CAST(sum(x) AS DECIMAL(38,0))
                            * CAST(sum(y) AS DECIMAL(38,0)) AS DOUBLE)
                   / CAST(CAST(count(*) AS DECIMAL(38,0))
                            * sum(CAST(x AS DECIMAL(38,0)) * x)
                          - CAST(sum(x) AS DECIMAL(38,0))
                            * CAST(sum(x) AS DECIMAL(38,0)) AS DOUBLE)
                   / 100.0, 4) AS slope
        FROM daily GROUP BY 1 ORDER BY 1""")),

    // q154: multi-source BFS over the part co-purchase graph — hop
    // distance from a seed set (every 199th part) to everything within
    // 3 hops ([[graft.ext.Graph.bfsHops]]: level-synchronous frontier
    // expansion, broadcast frontier, visited-set anti-join). The
    // oracle is a recursive CTE whose UNION-dedup keeps (node, dist)
    // pairs; its per-node min(dist) is exactly the level at which the
    // frontier algorithm first labels the node — enumeration differs,
    // the labeling cannot.
    GraftQuery(
      "q154_bfs_hops",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        // edges from the SHARED co-purchase census, mirrored for the
        // undirected frontier walk (the round-11 factoring: one build
        // serves q122/q154/q156/q161/q191). The census is distinct at
        // the pair level — BFS tolerates duplicate edges, but a
        // checkpointed distinct table shared across five queries beats
        // this query's old rebuild-without-distinct, which was only
        // fastest when each query paid its own build.
        val edges = SharedGraph.mirrored(spark, dir)
        val seeds = t.part.where(col("p_partkey") % 199 === 0)
          .select(col("p_partkey").as("node"))
        graft.ext.Graph.bfsHops(edges, seeds, maxHops = 3)
          .orderBy(col("node"))
      },
      Some("""
        WITH RECURSIVE edges AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey),
        seeds AS (
          SELECT p_partkey FROM part WHERE p_partkey % 199 = 0),
        bfs AS (
          SELECT p_partkey AS node, 0 AS dist FROM seeds
          UNION
          SELECT e.v, b.dist + 1 FROM bfs b
          JOIN edges e ON e.u = b.node WHERE b.dist < 3)
        SELECT node, CAST(min(dist) AS INT) AS dist
        FROM bfs GROUP BY node ORDER BY node""")),

    // q156: k-core decomposition of the co-purchase graph (k = 65) —
    // the dense-community extractor ([[graft.ext.Graph.kCore]]:
    // monotone iterated peeling with a checked fixpoint; every member
    // keeps ≥ 65 in-core neighbors). The oracle is a recursive CTE
    // running the same peel with its iteration index as the recursion
    // level, capped at 50 levels — headroom over the observed fixpoint
    // depth (≤ 6 across the shipped SFs) so a denser regenerated corpus
    // can't silently hand back a non-converged slice — and once the
    // peel stabilizes every further level reproduces the core verbatim,
    // so the level-50 slice IS the fixpoint. Edge build is the q122
    // pair kernel; the distinct matters (duplicate edges would inflate
    // peel degrees).
    GraftQuery(
      "q156_kcore",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        // the peel requires exact degrees — the SHARED census is
        // already distinct at the undirected pair level; mirror into
        // both directions (one build serves q122/q154/q156/q161/q191)
        val edges = SharedGraph.mirrored(spark, dir)
        graft.ext.Graph.kCore(edges, k = 65)
          .orderBy(col("node"))
      },
      Some("""
        WITH RECURSIVE pe AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey
           AND a.l_partkey <> b.l_partkey),
        alive AS (
          SELECT DISTINCT u AS node, 0 AS it FROM pe
          UNION ALL
          SELECT e.u AS node, a.it + 1 AS it
          FROM alive a JOIN pe e ON e.v = a.node
          WHERE a.it < 50
          GROUP BY e.u, a.it + 1
          HAVING count(*) >= 65),
        core AS (SELECT node FROM alive WHERE it = 50)
        SELECT c.node, CAST(count(*) AS BIGINT) AS deg_core
        FROM core c JOIN pe e ON e.u = c.node
        JOIN core c2 ON c2.node = e.v
        GROUP BY c.node ORDER BY c.node""")),

    // q155: inter-arrival ("think time") distribution — per-user gaps
    // between consecutive events, bucketed by decimal ORDER OF
    // MAGNITUDE (digit count of the gap in whole seconds: an exact
    // string-length bucket both engines compute identically, where a
    // float log10 could disagree at power-of-ten boundaries). The gap
    // itself is an integer-microsecond difference floored to seconds.
    // One user-keyed window, one enum-sized aggregate.
    GraftQuery(
      "q155_interarrival_histogram",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))
        t.events
          .select(col("user_id"), col("ts"), col("event_id"))
          .withColumn("prev_us", lag(expr("unix_micros(ts)"), 1).over(w))
          .withColumn("gap_s",
            expr("(unix_micros(ts) - prev_us) div 1000000L"))
          .where(col("gap_s").isNotNull && col("gap_s") > 0)
          .groupBy(length(col("gap_s").cast("string")).as("magnitude"))
          .agg(count(lit(1)).as("n"),
            min(col("gap_s")).as("min_gap"), max(col("gap_s")).as("max_gap"))
          .orderBy(col("magnitude"))
      },
      Some("""
        WITH gaps AS (
          SELECT user_id,
                 (epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id)))
                 // 1000000 AS gap_s
          FROM events)
        SELECT CAST(length(CAST(gap_s AS VARCHAR)) AS INT) AS magnitude,
               count(*) AS n, min(gap_s) AS min_gap, max(gap_s) AS max_gap
        FROM gaps WHERE gap_s IS NOT NULL AND gap_s > 0
        GROUP BY 1 ORDER BY 1""")),

    // q161: hop-bounded WEIGHTED shortest paths over the co-purchase
    // graph ([[graft.ext.Graph.ssspRelax]]: min-plus Bellman-Ford, ≤ 3
    // edges) — affinity DISTANCE, not hop count: an edge between parts
    // co-ordered ≥ 3 times costs 1, twice costs 2, once costs 5, so a
    // chain of two strong ties (cost 2) beats one weak tie (cost 5) —
    // an answer q154's unweighted BFS cannot express (and the reason
    // this is a per-round min RE-AGGREGATION, not a visited anti-join:
    // a later round can improve a node via a longer-but-lighter path).
    // The oracle unrolls the same three relaxation steps as plain CTE
    // stages — min-plus algebra is engine-neutral integer arithmetic.
    GraftQuery(
      "q161_weighted_paths",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        // the SHARED census IS the co-order multiplicity table this
        // query needs (one build serves q122/q154/q156/q161/q191);
        // both directions then carry the affinity weight
        val co = SharedGraph.coPurchasePairs(spark, dir)
          .select(col("a").as("u"), col("b").as("v"), col("c"))
        val wCol = when(col("c") >= 3, 1L).when(col("c") === 2, 2L)
          .otherwise(5L)
        val edges = co.select(col("u"), col("v"), wCol.as("w"))
          .select(explode(array(
            struct(col("u").as("src"), col("v").as("dst"), col("w")),
            struct(col("v").as("src"), col("u").as("dst"), col("w"))))
            .as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.w").as("w"))
        val seeds = t.part.where(col("p_partkey") % 199 === 0)
          .select(col("p_partkey").as("node"))
        graft.ext.Graph.ssspRelax(edges, seeds, rounds = 3)
          .orderBy(col("node"))
      },
      Some("""
        WITH co AS (
          SELECT u, v, count(*) AS c FROM (
            SELECT DISTINCT a.l_orderkey, a.l_partkey AS u, b.l_partkey AS v
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey
             AND a.l_partkey < b.l_partkey)
          GROUP BY u, v),
        edges AS (
          SELECT u AS src, v AS dst,
                 CASE WHEN c >= 3 THEN 1 WHEN c = 2 THEN 2 ELSE 5 END AS w
          FROM co
          UNION ALL
          SELECT v, u, CASE WHEN c >= 3 THEN 1 WHEN c = 2 THEN 2 ELSE 5 END
          FROM co),
        d0 AS (
          SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
          FROM part WHERE p_partkey % 199 = 0),
        d1 AS (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d0
            UNION ALL
            SELECT e.dst, d.dist + e.w FROM d0 d
            JOIN edges e ON e.src = d.node)
          GROUP BY node),
        d2 AS (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d1
            UNION ALL
            SELECT e.dst, d.dist + e.w FROM d1 d
            JOIN edges e ON e.src = d.node)
          GROUP BY node),
        d3 AS (
          SELECT node, min(dist) AS dist FROM (
            SELECT node, dist FROM d2
            UNION ALL
            SELECT e.dst, d.dist + e.w FROM d2 d
            JOIN edges e ON e.src = d.node)
          GROUP BY node)
        SELECT node, dist FROM d3 ORDER BY node""")),

    // ------------------------------------------------------------------
    // q172: pairwise association rules ([[graft.ext.Affinity]]) —
    // support / confidence / lift over per-order brand baskets, the
    // 2-itemset Apriori level a merchandiser/recommender reads. q161
    // builds co-purchase EDGES for traversal; this scores the directed
    // RULES: same co-occurrence counts, different product (lift > 1 =
    // brands bought together beyond chance). Baskets are distinct
    // (order, brand) pairs; candidate pairs come from a basket-keyed
    // self-join with the maxBasket Apriori guard; lift's integer
    // products happen BEFORE its one double division, so all three
    // ratio columns hash-match the oracle. Top-25 by lift.
    GraftQuery(
      "q172_association_rules",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val baskets = t.lineitem
          .join(t.part.select(col("p_partkey"), col("p_brand")),
            col("l_partkey") === col("p_partkey"))
        Affinity.associationRules(baskets, col("l_orderkey"),
            col("p_brand"), minSupportCount = 20, maxBasket = 100)
          .orderBy(col("lift").desc, col("antecedent"), col("consequent"))
          .limit(25)
      },
      Some("""
        WITH items AS (
          SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
          FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
        sized AS (
          SELECT b, i FROM (
            SELECT b, i, count(*) OVER (PARTITION BY b) AS bn FROM items)
          WHERE bn <= 100),
        nb AS (SELECT CAST(COUNT(DISTINCT b) AS BIGINT) AS n_baskets
               FROM sized),
        ic AS (SELECT i, CAST(count(*) AS BIGINT) AS n_item
               FROM sized GROUP BY 1),
        pairs AS (
          SELECT x.i AS antecedent, y.i AS consequent,
                 CAST(count(*) AS BIGINT) AS n_both
          FROM sized x JOIN sized y ON x.b = y.b AND x.i <> y.i
          GROUP BY 1, 2 HAVING count(*) >= 20),
        rules AS (
          SELECT p.antecedent, p.consequent, p.n_both,
                 a.n_item AS n_ant, c.n_item AS n_cons, nb.n_baskets,
                 CAST(p.n_both AS DOUBLE) / CAST(nb.n_baskets AS DOUBLE)
                   AS support,
                 CAST(p.n_both AS DOUBLE) / CAST(a.n_item AS DOUBLE)
                   AS confidence,
                 CAST(p.n_both * nb.n_baskets AS DOUBLE)
                   / CAST(a.n_item * c.n_item AS DOUBLE) AS lift
          FROM pairs p
          JOIN ic a ON p.antecedent = a.i
          JOIN ic c ON p.consequent = c.i
          CROSS JOIN nb)
        SELECT * FROM rules
        ORDER BY lift DESC, antecedent, consequent
        LIMIT 25"""))
  )
}
