package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.ext.{Dedup, Profile, QualityFilter, QuantileSketch, Similarity,
  Stats, TextAnalysis}

/** Round-11 widening: the corpus-recipe and governance surface — the
  * decisions a training-data pipeline makes AFTER cleaning: which
  * template text to cut everywhere (frequency-capped passage removal),
  * how much of each source to read (temperature mixture), which
  * embeddings to distrust (centroid-distance outliers), when a metric
  * drifted rather than spiked (CUSUM), and whether a slice is safe to
  * release (k-anonymity/l-diversity).
  *
  * Float-vs-oracle discipline is inherited from [[CurationQueries]]:
  * integer arithmetic with denominators cleared wherever a comparison
  * or ranking depends on the value (CUSUM prefix sums and alarms,
  * outlier distances, mixture budgets), one decimal→double conversion
  * at output where a readable magnitude is wanted, sqrt-chains instead
  * of libm pow for fractional exponents.
  */
object RecipeQueries {

  val queries: Seq[GraftQuery] = Seq(

    // ------------------------------------------------------------------
    // q183: frequency-capped passage removal
    // ([[graft.ext.Dedup.frequencyChunkFilter]]) — the CCNet
    // sentence-dedup policy: passages occurring more than `maxFreq`
    // times corpus-wide are template/boilerplate and are cut from
    // EVERY document (q56's keep-first is the complementary policy for
    // honest repeated content). Census on the passage string, flag
    // join co-partitioned with the census, one doc-keyed group-back.
    GraftQuery(
      "q183_frequency_chunk_filter",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Dedup.frequencyChunkFilter(t.documents, col("doc_id"), col("text"),
            chunkWords = 8, maxFreq = 2L)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        chunks AS (
          SELECT doc_id, CAST(g AS INT) AS idx,
                 array_to_string(list_slice(w, CAST(g*8+1 AS BIGINT), CAST(g*8+8 AS BIGINT)), ' ') AS chunk
          FROM words, UNNEST(generate_series(0, CAST(ceil(len(w)/8.0) AS BIGINT) - 1)) AS t(g)),
        census AS (SELECT chunk, count(*) AS freq FROM chunks GROUP BY chunk),
        flagged AS (
          SELECT c.doc_id, c.idx, c.chunk, census.freq > 2 AS removed
          FROM chunks c JOIN census USING (chunk)),
        agg AS (
          SELECT doc_id,
                 CAST(COUNT(*) AS BIGINT) AS n_chunks,
                 CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_removed,
                 string_agg(chunk, ' ' ORDER BY idx)
                   FILTER (WHERE NOT removed) AS retained
          FROM flagged GROUP BY doc_id)
        SELECT doc_id, n_chunks, n_removed,
               CAST(n_removed AS DOUBLE) / n_chunks AS removed_ratio,
               CASE WHEN n_removed = n_chunks THEN NULL
                    ELSE md5(retained) END AS retained_md5
        FROM agg
        ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q184: temperature-scaled source mixture plan
    // ([[graft.ext.TextAnalysis.temperatureMixture]]) — p_s ∝ n_s^0.5
    // sampling weights derived from the corpus' own token counts, a
    // 1M-token target budget priced per source. τ=2^-1 rides a single
    // IEEE sqrt (engine-identical); shares/budgets/epochs are integral
    // div products in decimal(38,0).
    GraftQuery(
      "q184_temperature_mixture",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        TextAnalysis.temperatureMixture(
            t.documents.where(col("text").isNotNull), col("source"),
            col("text"), targetTokens = 1000000L, halfSqrts = 1)
          .orderBy(col("source"))
      },
      Some("""
        WITH per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
                   AS n_tokens
          FROM documents WHERE text IS NOT NULL GROUP BY source),
        wt AS (
          SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000000)
                     AS BIGINT) AS weight_micro
          FROM per),
        tot AS (SELECT SUM(weight_micro) AS w_total FROM wt)
        SELECT source, n_docs, n_tokens, weight_micro,
               CAST(CAST(weight_micro AS HUGEINT) * 1000000000 // w_total
                 AS BIGINT) AS share_ppb,
               CAST(CAST(weight_micro AS HUGEINT) * 1000000 // w_total
                 AS BIGINT) AS planned_tokens,
               CAST(CAST(CAST(weight_micro AS HUGEINT) * 1000000 // w_total
                      AS HUGEINT) * 1000000 // n_tokens
                 AS BIGINT) AS epochs_micro
        FROM wt, tot
        ORDER BY source""")),

    // ------------------------------------------------------------------
    // q185: embedding outlier audit
    // ([[graft.ext.Similarity.outlierAudit]]) — per label, the 10
    // vectors farthest from their own label centroid (exact rational
    // centroid, denominator-cleared integer distances in
    // decimal(38,0)); the mislabeled/noise pruning pass before
    // contrastive training.
    GraftQuery(
      "q185_embedding_outliers",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Similarity.outlierAudit(t.embeddings, k = 10)
          .orderBy(col("label"), col("out_rank"))
      },
      Some("""
        WITH q AS (
          SELECT vec_id, label, g.i AS pos,
                 CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 10000 + 0.5)
                   AS BIGINT) AS qv
          FROM embeddings CROSS JOIN generate_series(1, 64) g(i)),
        sums AS (
          SELECT label, pos, CAST(SUM(qv) AS BIGINT) AS s
          FROM q GROUP BY label, pos),
        cnt AS (SELECT label, CAST(count(*) AS BIGINT) AS n_label
                FROM embeddings GROUP BY label),
        d AS (
          SELECT q.vec_id, q.label,
                 SUM(CAST(q.qv * cnt.n_label - sums.s AS HUGEINT)
                     * (q.qv * cnt.n_label - sums.s)) AS d2
          FROM q JOIN sums ON q.label = sums.label AND q.pos = sums.pos
          JOIN cnt ON cnt.label = q.label
          GROUP BY q.vec_id, q.label),
        r AS (
          SELECT label, vec_id, d2,
                 ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY d2 DESC, vec_id) AS out_rank
          FROM d)
        SELECT r.label, r.vec_id, CAST(out_rank AS INT) AS out_rank,
               cnt.n_label, CAST(d2 AS DOUBLE) AS dist2_scaled
        FROM r JOIN cnt USING (label)
        WHERE out_rank <= 10
        ORDER BY label, out_rank""")),

    // ------------------------------------------------------------------
    // q186: CUSUM changepoint detection ([[graft.ext.Stats.cusum]]) —
    // two-sided Page CUSUM over per-priority daily revenue, slack 200‰
    // and alarm threshold 2000‰ of each series' own mean, all in
    // denominator-cleared decimal(38,0) integers (prefix-sum closed
    // form; the recurrence is not a window function, its solution is).
    GraftQuery(
      "q186_cusum_changepoint",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Stats.cusum(t.orders, col("o_orderpriority"),
            to_date(col("o_orderdate")),
            floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"),
            slackPermille = 200L, threshPermille = 2000L)
          .orderBy(col("key"), col("day"))
      },
      Some("""
        WITH series AS (
          SELECT o_orderpriority AS key,
                 CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
                 CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS x
          FROM orders GROUP BY 1, 2),
        tot AS (SELECT key, SUM(x) AS t_sum, CAST(COUNT(*) AS BIGINT)
                  AS n_days FROM series GROUP BY key),
        s AS (SELECT series.*, t_sum, n_days,
                CAST(1000 AS HUGEINT)*n_days*x - CAST(1000 AS HUGEINT)*t_sum
                  AS base
              FROM series JOIN tot USING (key)),
        p AS (SELECT *,
                SUM(base - 200*t_sum) OVER
                  (PARTITION BY key ORDER BY day) AS pup,
                SUM(base + 200*t_sum) OVER
                  (PARTITION BY key ORDER BY day) AS pdn
              FROM s),
        c AS (SELECT *,
                pup - LEAST(CAST(0 AS HUGEINT),
                  MIN(pup) OVER (PARTITION BY key ORDER BY day)) AS spos,
                GREATEST(CAST(0 AS HUGEINT),
                  MAX(pdn) OVER (PARTITION BY key ORDER BY day)) - pdn
                  AS sneg
              FROM p)
        SELECT key, day, x AS x_cents,
               CAST(spos AS DOUBLE) AS s_pos,
               CAST(sneg AS DOUBLE) AS s_neg,
               spos > 2000*t_sum AS alarm_up,
               sneg > 2000*t_sum AS alarm_down
        FROM c
        ORDER BY key, day""")),

    // ------------------------------------------------------------------
    // q187: k-anonymity / l-diversity audit
    // ([[graft.ext.Profile.kAnonymityAudit]]) — every equivalence
    // class of (nation, segment, balance band) must hold ≥3 customers
    // and ≥2 distinct sensitive balances before the slice is
    // releasable; one aggregation keyed by the quasi tuple.
    GraftQuery(
      "q187_k_anonymity",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Profile.kAnonymityAudit(t.customer,
            Seq(
              "c_nationkey" -> col("c_nationkey"),
              "c_mktsegment" -> col("c_mktsegment"),
              "acct_band" -> floor(col("c_acctbal") / 2000).cast("long")),
            floor(col("c_acctbal")).cast("long"),
            kMin = 3L, lMin = 2L)
          .orderBy(col("c_nationkey"), col("c_mktsegment"), col("acct_band"))
      },
      Some("""
        SELECT c_nationkey, c_mktsegment,
               CAST(floor(c_acctbal / 2000) AS BIGINT) AS acct_band,
               CAST(count(*) AS BIGINT) AS class_size,
               CAST(count(DISTINCT CAST(floor(c_acctbal) AS BIGINT))
                 AS BIGINT) AS l_distinct,
               count(*) >= 3 AS k_ok,
               count(DISTINCT CAST(floor(c_acctbal) AS BIGINT)) >= 2 AS l_ok
        FROM customer
        GROUP BY 1, 2, 3
        ORDER BY c_nationkey, c_mktsegment, acct_band""")),

    // ------------------------------------------------------------------
    // q188: Spearman rank correlation ([[graft.ext.Stats.spearman]]) —
    // per market segment, does account balance order customers the way
    // realized spend does? Deterministic-tiebreak ranks (exact-integer
    // d² sums), one double division per group at output.
    GraftQuery(
      "q188_spearman_rank",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val spend = t.orders
          .groupBy(col("o_custkey").as("c_custkey"))
          .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long"))
            .as("spend_cents"))
        val base = t.customer.join(spend, Seq("c_custkey"), "left")
          .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
            coalesce(col("spend_cents"), lit(0L)).as("spend_cents"))
        Stats.spearman(base, col("c_mktsegment"), col("c_custkey"),
            col("c_acctbal"), col("spend_cents"))
          .withColumnRenamed("grp", "c_mktsegment")
          .orderBy(col("c_mktsegment"))
      },
      Some("""
        WITH spend AS (
          SELECT o_custkey AS c_custkey,
                 CAST(SUM(CAST(floor(o_totalprice*100 + 0.5) AS BIGINT))
                   AS BIGINT) AS spend_cents
          FROM orders GROUP BY 1),
        base AS (
          SELECT c_mktsegment, c_custkey, c_acctbal,
                 coalesce(spend_cents, 0) AS spend_cents
          FROM customer LEFT JOIN spend USING (c_custkey)),
        r AS (
          SELECT c_mktsegment,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY c_acctbal, c_custkey) AS ra,
                 ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                   ORDER BY spend_cents, c_custkey) AS rb
          FROM base),
        agg AS (
          SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CAST((ra - rb) AS BIGINT) * (ra - rb)) AS BIGINT)
                   AS d2_sum
          FROM r GROUP BY 1)
        SELECT c_mktsegment, n, d2_sum,
               CASE WHEN n < 2 THEN NULL
                 ELSE 1.0 - 6.0 * CAST(d2_sum AS DOUBLE)
                      / CAST(n*(n*n - 1) AS DOUBLE) END AS rho
        FROM agg ORDER BY c_mktsegment""")),

    // ------------------------------------------------------------------
    // q189: right-to-erasure propagation audit
    // ([[graft.ext.Profile.erasureAudit]]) — residual references to an
    // erasure queue (custkey % 97 = 13 stands in) across the subject
    // master and every fact table that carries the id; deletion set
    // broadcast, audited tables never shuffled.
    GraftQuery(
      "q189_erasure_audit",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val del = t.customer.where(col("c_custkey") % 97 === 13)
        Profile.erasureAudit(del, col("c_custkey"), Seq(
            ("customer", t.customer, col("c_custkey")),
            ("orders", t.orders, col("o_custkey")),
            ("events", t.events, col("user_id")),
            ("lineitem_supp", t.lineitem, col("l_suppkey"))))
          .orderBy(col("table_name"))
      },
      Some("""
        WITH del AS (
          SELECT DISTINCT c_custkey AS id FROM customer
          WHERE c_custkey % 97 = 13),
        a AS (
          SELECT 'customer' AS table_name,
                 CAST(count(*) AS BIGINT) AS n_refs,
                 CAST(count(DISTINCT c.c_custkey) AS BIGINT)
                   AS n_subjects_referenced
          FROM customer c JOIN del ON c.c_custkey = del.id
          UNION ALL
          SELECT 'orders', CAST(count(*) AS BIGINT),
                 CAST(count(DISTINCT o.o_custkey) AS BIGINT)
          FROM orders o JOIN del ON o.o_custkey = del.id
          UNION ALL
          SELECT 'events', CAST(count(*) AS BIGINT),
                 CAST(count(DISTINCT e.user_id) AS BIGINT)
          FROM events e JOIN del ON e.user_id = del.id
          UNION ALL
          SELECT 'lineitem_supp', CAST(count(*) AS BIGINT),
                 CAST(count(DISTINCT l.l_suppkey) AS BIGINT)
          FROM lineitem l JOIN del ON l.l_suppkey = del.id)
        SELECT table_name, n_refs, n_subjects_referenced,
               n_refs = 0 AS clean
        FROM a ORDER BY table_name""")),

    // ------------------------------------------------------------------
    // q190: sorted-neighborhood blocking
    // ([[graft.ext.Dedup.sortedNeighborPairs]]) — the skew-proof
    // record-linkage complement to q104's equality blocks: ≤ w
    // candidate pairs per record by rank adjacency, global ranks via
    // the bucketed two-phase prefix decomposition (the oracle's single
    // global ROW_NUMBER pins the decomposition on real data).
    GraftQuery(
      "q190_sorted_neighbor_pairs",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Dedup.sortedNeighborPairs(
            t.part.select(col("p_partkey"), col("p_name")).distinct(),
            col("p_partkey"), col("p_name"), w = 3)
          .orderBy(col("rank_a"), col("rank_dist"))
      },
      Some("""
        WITH ranked AS (
          SELECT p_partkey AS id, p_name AS k,
                 CAST(ROW_NUMBER() OVER (ORDER BY p_name, p_partkey)
                   AS BIGINT) AS rank
          FROM (SELECT DISTINCT p_partkey, p_name FROM part)
          WHERE p_name IS NOT NULL)
        SELECT a.rank AS rank_a, a.id AS id_a, b.id AS id_b,
               a.k AS key_a, b.k AS key_b,
               CAST(b.rank - a.rank AS INT) AS rank_dist,
               CAST(levenshtein(a.k, b.k) AS INT) AS dist
        FROM ranked a JOIN ranked b
          ON b.rank BETWEEN a.rank + 1 AND a.rank + 3
        ORDER BY rank_a, rank_dist""")),

    // ------------------------------------------------------------------
    // q191: modularity of a given partition
    // ([[graft.ext.Graph.modularity]]) — Newman Q of the brand taxonomy
    // over the part co-purchase graph: the one-pass EVALUATION half of
    // community detection (contributions exact as Q_c·4m² integers in
    // decimal(38,0), emitted as digit strings — the q170 discipline —
    // beside one mirrored double division).
    GraftQuery(
      "q191_modularity",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        // distinct undirected edges from the SHARED co-purchase census
        // (one build serves q122/q154/q156/q161/q191)
        val edges = SharedGraph.undirected(spark, dir)
        val communities = t.part
          .select(col("p_partkey").as("node"), col("p_brand").as("community"))
        graft.ext.Graph.modularity(edges, communities)
          .orderBy(col("community"))
      },
      Some("""
        WITH edges AS (
          SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        deg AS (
          SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT src AS node FROM edges
            UNION ALL SELECT dst FROM edges)
          GROUP BY 1),
        dc AS (
          SELECT p.p_brand AS community, CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(SUM(deg) AS BIGINT) AS degree_sum
          FROM deg JOIN part p ON p.p_partkey = deg.node GROUP BY 1),
        ec AS (
          SELECT pa.p_brand AS community, CAST(count(*) AS BIGINT)
                   AS intra_edges
          FROM edges e JOIN part pa ON pa.p_partkey = e.src
          JOIN part pb ON pb.p_partkey = e.dst
          WHERE pa.p_brand = pb.p_brand GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM edges)
        SELECT dc.community, n_nodes, degree_sum,
               coalesce(intra_edges, 0) AS intra_edges, m_edges,
               CAST(CAST(4 AS HUGEINT)*m_edges*coalesce(intra_edges, 0)
                    - CAST(degree_sum AS HUGEINT)*degree_sum AS VARCHAR)
                 AS q_contrib_scaled,
               CAST(CAST(4 AS HUGEINT)*m_edges*coalesce(intra_edges, 0)
                    - CAST(degree_sum AS HUGEINT)*degree_sum AS DOUBLE)
                 / CAST(CAST(4 AS HUGEINT)*m_edges*m_edges AS DOUBLE)
                 AS q_contrib
        FROM dc LEFT JOIN ec USING (community), m
        ORDER BY community""")),

    // ------------------------------------------------------------------
    // q192: Cohen's kappa ([[graft.ext.Stats.cohenKappa]]) — the
    // chance-corrected agreement between the q32 lang-ID heuristic and
    // the corpus' recorded language: the label-quality summary a
    // weak-supervision pipeline gates annotators (and models posing as
    // annotators) on. Exact-integer κ terms, one double division.
    GraftQuery(
      "q192_cohen_kappa",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Stats.cohenKappa(
          TextAnalysis.withLangId(t.documents, col("text")),
          col("lang"), col("predicted_lang"))
      },
      Some("""
        WITH scored AS (
          SELECT lang,
            len(list_filter(string_split(text,' '), x -> x = 'the'))
              + len(list_filter(string_split(text,' '), x -> x = 'fast'))
              + len(list_filter(string_split(text,' '), x -> x = 'slow')) AS s_en,
            len(list_filter(string_split(text,' '), x -> x = 'data'))
              + len(list_filter(string_split(text,' '), x -> x = 'batch'))
              + len(list_filter(string_split(text,' '), x -> x = 'hash')) AS s_de,
            len(list_filter(string_split(text,' '), x -> x = 'table'))
              + len(list_filter(string_split(text,' '), x -> x = 'row'))
              + len(list_filter(string_split(text,' '), x -> x = 'line')) AS s_es,
            len(list_filter(string_split(text,' '), x -> x = 'merge'))
              + len(list_filter(string_split(text,' '), x -> x = 'sort'))
              + len(list_filter(string_split(text,' '), x -> x = 'filter')) AS s_fr,
            len(list_filter(string_split(text,' '), x -> x = 'spark'))
              + len(list_filter(string_split(text,' '), x -> x = 'query'))
              + len(list_filter(string_split(text,' '), x -> x = 'scan')) AS s_zh
          FROM documents),
        pred AS (
          SELECT lang AS g,
            CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                 WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                 WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                 WHEN s_fr >= s_zh THEN 'fr'
                 ELSE 'zh' END AS p
          FROM scored),
        tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN g = p THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_agree
          FROM pred),
        ga AS (SELECT g, CAST(count(*) AS BIGINT) AS na FROM pred GROUP BY g),
        pb AS (SELECT p, CAST(count(*) AS BIGINT) AS nb FROM pred GROUP BY p),
        pe AS (
          SELECT coalesce(SUM(CAST(na AS HUGEINT) * nb), 0) AS pe_num
          FROM ga JOIN pb ON ga.g = pb.p)
        SELECT n, n_agree, CAST(pe_num AS VARCHAR) AS pe_num,
               CASE WHEN CAST(n AS HUGEINT) * n - pe_num = 0 THEN NULL
                 ELSE CAST(CAST(n AS HUGEINT) * n_agree - pe_num AS DOUBLE)
                      / CAST(CAST(n AS HUGEINT) * n - pe_num AS DOUBLE)
                 END AS kappa
        FROM tot, pe""")),

    // ------------------------------------------------------------------
    // q193: WebP metadata ([[graft.ext.Multimodal.HeaderDecoder]] webp
    // branch) — the modern crawled-web image container, all three
    // variants (VP8X extended / VP8 lossy / VP8L lossless), parsed
    // from REAL RIFF bytes the query synthesizes (q35's fixture
    // discipline: the oracle predicts the parser's output analytically
    // from the same id-derived dimensions; MultimodalSpec pins the
    // byte-level parse on hand-built files incl. truncation).
    GraftQuery(
      "q193_webp_meta",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        import spark.implicits._
        def leN(c: org.apache.spark.sql.Column, n: Int) = {
          val hx = lpad(hex(c.cast("bigint")), 2 * n, "0")
          unhex(concat(((n - 1) to 0 by -1)
            .map(i => substring(hx, i * 2 + 1, 2)): _*))
        }
        val w = (col("event_id") % 4000 + 16).cast("int")
        val h = ((col("event_id") * 13) % 3000 + 16).cast("int")
        val variant = col("event_id") % 3
        val riff = (sz: Int) => concat(unhex(lit("52494646")),
          leN(lit(sz), 4), unhex(lit("57454250")))
        val media = when(variant === 0, concat(riff(22), // VP8X
            unhex(lit("56503858")), leN(lit(10), 4),
            unhex(lit("00000000")), leN(w - 1, 3), leN(h - 1, 3)))
          .when(variant === 1, concat(riff(22), // VP8 lossy keyframe
            unhex(lit("56503820")), leN(lit(10), 4),
            unhex(lit("0000009D012A")), leN(w, 2), leN(h, 2)))
          .otherwise(concat(riff(17), // VP8L lossless
            unhex(lit("5650384C")), leN(lit(5), 4), unhex(lit("2F")),
            leN((w - 1) + (h - 1) * 16384, 4)))
        val src = t.events.select(
            col("event_id").as("media_id"),
            lit("image/webp").as("mime"), media.as("media"))
          .as[graft.ext.Multimodal.MediaRecord]
        graft.ext.Multimodal.extractMeta(src,
            new graft.ext.Multimodal.HeaderDecoder()).toDF()
          .select(col("media_id"),
            when(col("media_id") % 3 === 0, "vp8x")
              .when(col("media_id") % 3 === 1, "vp8")
              .otherwise("vp8l").as("variant"),
            col("byteLen"), col("width"), col("height"), col("nFrames"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT event_id AS media_id,
               CASE WHEN event_id % 3 = 0 THEN 'vp8x'
                    WHEN event_id % 3 = 1 THEN 'vp8'
                    ELSE 'vp8l' END AS variant,
               CAST(CASE WHEN event_id % 3 = 2 THEN 25 ELSE 30 END
                 AS BIGINT) AS byteLen,
               CAST(event_id % 4000 + 16 AS INT) AS width,
               CAST((event_id * 13) % 3000 + 16 AS INT) AS height,
               CAST(1 AS INT) AS nFrames
        FROM events
        ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // q194: quality-filter disparity audit
    // ([[graft.ext.QualityFilter.disparityAudit]]) — per-language
    // keep rates of the q180 frozen model plus the disparate-impact
    // ratio vs the corpus-wide rate in exact ppm, with the
    // four-fifths verdict. Heuristic filters demonstrably disfavor
    // low-resource languages; this is the pre-ship bias check.
    GraftQuery(
      "q194_filter_disparity",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        QualityFilter.disparityAudit(t.documents, col("lang"), col("text"),
            QualityFilter.LinearModel(wChars = -300L, wWords = -4000L,
              wDistinct = 22000L, wWordChars = 900L, wStop = -25000L,
              biasMicro = -380000L))
          .withColumnRenamed("grp", "lang")
          .orderBy(col("lang"))
      },
      Some("""
        WITH f AS (
          SELECT lang,
                 CAST(length(coalesce(text, '')) AS BIGINT) AS f_chars,
                 CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                   x -> x <> '')) AS BIGINT) AS f_words,
                 CAST(len(list_distinct(list_filter(
                   string_split(coalesce(text, ''), ' '),
                   x -> x <> ''))) AS BIGINT) AS f_distinct,
                 CAST(coalesce(list_sum(list_transform(
                   list_filter(string_split(coalesce(text, ''), ' '),
                   x -> x <> ''), x -> length(x))), 0) AS BIGINT)
                   AS f_word_chars,
                 CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                   x -> x = 'the')) AS BIGINT) AS f_stop
          FROM documents),
        k AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(SUM(CASE WHEN -380000 - 300*f_chars - 4000*f_words
                        + 22000*f_distinct + 900*f_word_chars
                        - 25000*f_stop >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_keep
          FROM f GROUP BY lang),
        tot AS (SELECT SUM(n_docs) AS n_total, SUM(n_keep) AS k_total
                FROM k)
        SELECT lang, n_docs, n_keep,
               CAST(n_keep AS DOUBLE) / n_docs AS keep_rate,
               CAST(CAST(n_keep AS HUGEINT) * n_total * 1000000
                    // (CAST(n_docs AS HUGEINT) * k_total) AS BIGINT)
                 AS ratio_ppm,
               CAST(CAST(n_keep AS HUGEINT) * n_total * 1000000
                    // (CAST(n_docs AS HUGEINT) * k_total) AS BIGINT)
                 >= 800000 AS four_fifths_ok
        FROM k, tot
        ORDER BY lang""")),

    // ------------------------------------------------------------------
    // q195: cross-source duplication matrix — the q28 near-dup pair set
    // rolled up to (source, source) cells: "how much of source X is
    // copied from source Y", the provenance summary a mixture designer
    // reads before weighting sources (a source that is largely a
    // mirror of another should not be double-counted). Pure
    // composition: the LSH pair stream joins the doc→source map twice
    // (node-keyed; dimension-sized maps broadcast at scale) and
    // aggregates per canonical source pair.
    GraftQuery(
      "q195_cross_source_dups",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val pairs = Dedup.minhashPairs(t.documents, col("doc_id"),
            col("text"), n = 3, threshold = 0.8)
          .select(col("id_a"), col("id_b"))
        val srcs = t.documents.select(col("doc_id"), col("source"))
        pairs
          .join(srcs.select(col("doc_id").as("id_a"),
            col("source").as("s_a")), "id_a")
          .join(srcs.select(col("doc_id").as("id_b"),
            col("source").as("s_b")), "id_b")
          .select(least(col("s_a"), col("s_b")).as("src_a"),
            greatest(col("s_a"), col("s_b")).as("src_b"),
            col("id_a"), col("id_b"))
          .groupBy(col("src_a"), col("src_b"))
          .agg(count(lit(1)).as("n_pairs"),
            count_distinct(col("id_a")).as("n_docs_a"),
            count_distinct(col("id_b")).as("n_docs_b"))
          .orderBy(col("src_a"), col("src_b"))
      },
      Some("""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        shingles AS (SELECT doc_id, CASE WHEN len(w) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(w)-2),
                 i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))
               ELSE [array_to_string(w, ' ')] END AS sh FROM words),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shingles),
        sizes AS (SELECT doc_id, len(sh) AS n FROM shingles),
        cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT ia AS id_a, ib AS id_b
          FROM cand JOIN sizes sa ON ia = sa.doc_id
          JOIN sizes sb ON ib = sb.doc_id
          WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.8),
        tagged AS (
          SELECT least(da.source, db.source) AS src_a,
                 greatest(da.source, db.source) AS src_b,
                 p.id_a, p.id_b
          FROM pairs p
          JOIN documents da ON da.doc_id = p.id_a
          JOIN documents db ON db.doc_id = p.id_b)
        SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(count(DISTINCT id_a) AS BIGINT) AS n_docs_a,
               CAST(count(DISTINCT id_b) AS BIGINT) AS n_docs_b
        FROM tagged
        GROUP BY src_a, src_b
        ORDER BY src_a, src_b""")),

    // ------------------------------------------------------------------
    // q196: benchmark-taint propagation through near-dup clusters —
    // the Lee et al. decontamination recommendation taken to its
    // conclusion: removing exact benchmark matches (q59) is not
    // enough; every NEAR-DUPLICATE of a benchmark member must go too,
    // so the tag propagates to the whole connected component. Pure
    // composition over the SHARED cluster pass (one clustering serves
    // q75/q85/q100/q196): tag → cluster rollup → broadcast back.
    GraftQuery(
      "q196_taint_propagation",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val comp = ExtQueries.SharedClusterPass.clusterTable(spark, dir)
          .select(col("doc_id"), col("cluster_id"))
        val full = t.documents.select(col("doc_id"))
          .join(comp, Seq("doc_id"), "left")
          .withColumn("cluster_id",
            coalesce(col("cluster_id"), col("doc_id")))
          .withColumn("direct", col("doc_id") % 97 === 0)
        val tags = full.groupBy(col("cluster_id"))
          .agg(sum(when(col("direct"), 1L).otherwise(0L))
            .as("n_tagged_in_cluster"))
        // tags is CLUSTER-sized (grows with the corpus) — unhinted,
        // cluster-keyed both sides
        full.join(tags, "cluster_id")
          .select(col("doc_id"), col("cluster_id"), col("direct"),
            (col("n_tagged_in_cluster") > 0).as("tainted"),
            col("n_tagged_in_cluster"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH RECURSIVE words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        shingles AS (SELECT doc_id, CASE WHEN len(w) >= 3
               THEN list_distinct(list_transform(generate_series(1, len(w)-2),
                 i -> concat(w[i], ' ', w[i+1], ' ', w[i+2])))
               ELSE [array_to_string(w, ' ')] END AS sh FROM words),
        ex AS (SELECT doc_id, unnest(sh) AS s FROM shingles),
        sizes AS (SELECT doc_id, len(sh) AS n FROM shingles),
        cand AS (SELECT a.doc_id ia, b.doc_id ib, count(*) AS inter
          FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT ia AS id_a, ib AS id_b
          FROM cand JOIN sizes sa ON ia = sa.doc_id
          JOIN sizes sb ON ib = sb.doc_id
          WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.8),
        edges AS (SELECT id_a AS s, id_b AS d FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        reach(s, d) AS (
          SELECT s, d FROM edges
          UNION
          SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
        comp AS (
          SELECT s AS doc_id, least(s, MIN(d)) AS cluster_id
          FROM reach GROUP BY s),
        alldocs AS (
          SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id,
                 d.doc_id % 97 = 0 AS direct
          FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
        tags AS (
          SELECT cluster_id,
                 CAST(SUM(CASE WHEN direct THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_tagged_in_cluster
          FROM alldocs GROUP BY cluster_id)
        SELECT f.doc_id, f.cluster_id, f.direct,
               t.n_tagged_in_cluster > 0 AS tainted,
               t.n_tagged_in_cluster
        FROM alldocs f JOIN tags t USING (cluster_id)
        ORDER BY f.doc_id""")),

    // ------------------------------------------------------------------
    // q197: Exif GPS-PII audit ([[graft.ext.Multimodal.ExifHeader]]) —
    // camera identity (Make/Model) and GPS latitude/longitude PRESENCE
    // parsed from real JPEG/APP1/TIFF bytes, both endiannesses. The
    // image-side governance gap next to q57 (text PII) and q187/q189
    // (release/erasure): crawled JPEG carries location PII in metadata
    // that no text scan sees. Fixture discipline as q193: four
    // id-derived variants — full Exif with GPS (le/be alternating),
    // orientation-only, GPS-longitude-only without orientation, and a
    // truncated segment that must fail closed (ok=false) — and the
    // oracle predicts the parser output analytically from event_id.
    // MultimodalSpec pins the byte-level walk on hand-built files;
    // MultimodalFuzzSpec holds the never-throw line.
    GraftQuery(
      "q197_exif_gps_audit",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        import spark.implicits._
        val isLE = col("event_id") % 2 === 0
        def leN(c: org.apache.spark.sql.Column, n: Int) = {
          val hx = lpad(hex(c.cast("bigint")), 2 * n, "0")
          unhex(concat(((n - 1) to 0 by -1)
            .map(i => substring(hx, i * 2 + 1, 2)): _*))
        }
        def beN(c: org.apache.spark.sql.Column, n: Int) =
          unhex(lpad(hex(c.cast("bigint")), 2 * n, "0"))
        def u16(c: org.apache.spark.sql.Column) =
          when(isLE, leN(c, 2)).otherwise(beN(c, 2))
        def u32(c: org.apache.spark.sql.Column) =
          when(isLE, leN(c, 4)).otherwise(beN(c, 4))
        def u16l(v: Int) = u16(lit(v))
        def u32l(v: Int) = u32(lit(v))
        def entry(tag: Int, tpe: Int, count: Int,
                  value4: org.apache.spark.sql.Column) =
          concat(u16l(tag), u16l(tpe), u32l(count), value4)
        val orient = (col("event_id") % 8 + 1).cast("int")
        val tiffHdr = concat(
          when(isLE, unhex(lit("49492A00"))).otherwise(unhex(lit("4D4D002A"))),
          u32l(8))
        val orientEntry = entry(0x0112, 3, 1, concat(u16(orient),
          unhex(lit("0000"))))
        // v0: IFD0 {Make, Model, Orientation, GPS->62}; GPS {lat, lon}
        val tiffFull = concat(tiffHdr, u16l(4),
          entry(0x010f, 2, 4, unhex(lit("41434D00"))), // "ACM\0"
          entry(0x0110, 2, 4, unhex(lit("4D444C00"))), // "MDL\0"
          orientEntry,
          entry(0x8825, 4, 1, u32l(62)), u32l(0),
          u16l(2),
          entry(0x0002, 5, 3, u32l(200)), // dangling RATIONAL offsets:
          entry(0x0004, 5, 3, u32l(224)), // presence-only, never read
          u32l(0))
        // v1: IFD0 {Orientation} only
        val tiffOrient = concat(tiffHdr, u16l(1), orientEntry, u32l(0))
        // v2: IFD0 {GPS->26}; GPS {lon} — partial GPS, no orientation
        val tiffGpsOnly = concat(tiffHdr, u16l(1),
          entry(0x8825, 4, 1, u32l(26)), u32l(0),
          u16l(1), entry(0x0004, 5, 3, u32l(300)), u32l(0))
        def jpeg(tiff: org.apache.spark.sql.Column, tiffLen: Int) = concat(
          unhex(lit("FFD8FFE1")), beN(lit(tiffLen + 8), 2), // APP1 len is
          unhex(lit("457869660000")), tiff)                 // ALWAYS be16
        val variant = col("event_id") % 4
        val media = when(variant === 0, jpeg(tiffFull, 92))
          .when(variant === 1, jpeg(tiffOrient, 26))
          .when(variant === 2, jpeg(tiffGpsOnly, 44))
          .otherwise(unhex(lit("FFD8FFE10004"))) // truncated: fails closed
        val src = t.events.select(
            col("event_id").as("media_id"),
            lit("image/jpeg").as("mime"), media.as("media"))
          .as[graft.ext.Multimodal.MediaRecord]
        graft.ext.Multimodal.extractExifMeta(src).toDF()
          .select(col("media_id"), col("endian"),
            col("byteLen").as("byte_len"), col("orientation"),
            col("hasMake").as("has_make"), col("hasModel").as("has_model"),
            col("hasGpsIfd").as("has_gps_ifd"),
            col("gpsLatPresent").as("gps_lat_present"),
            col("gpsLonPresent").as("gps_lon_present"), col("ok"))
          .orderBy(col("media_id"))
      },
      Some("""
        SELECT event_id AS media_id,
               CASE WHEN event_id % 4 = 3 THEN ''
                    WHEN event_id % 2 = 0 THEN 'le' ELSE 'be' END AS endian,
               CAST(CASE event_id % 4 WHEN 0 THEN 104 WHEN 1 THEN 38
                    WHEN 2 THEN 56 ELSE 6 END AS BIGINT) AS byte_len,
               CAST(CASE WHEN event_id % 4 IN (0, 1)
                    THEN event_id % 8 + 1 ELSE 0 END AS INT) AS orientation,
               event_id % 4 = 0 AS has_make,
               event_id % 4 = 0 AS has_model,
               event_id % 4 IN (0, 2) AS has_gps_ifd,
               event_id % 4 = 0 AS gps_lat_present,
               event_id % 4 IN (0, 2) AS gps_lon_present,
               event_id % 4 <> 3 AS ok
        FROM events
        ORDER BY media_id""")),

    // ------------------------------------------------------------------
    // q198: mergeable quantile-sketch store
    // ([[graft.ext.QuantileSketch]]) — q63's percentile sibling, the
    // other half of the 100 TB sketch warehouse: per-(day, type)
    // log-linear histograms stored small, the per-day ALL row answered
    // by UNIONING the stored sketches (bucket-wise count addition — the
    // identity CurationSpec pins exactly), never by re-reading raw
    // data. Hash-gated the q37/q63 way: the output carries the exact
    // discrete-p95 twin (from the same two-level value census the q63
    // rework uses — the walk is over distinct values per group, not raw
    // rows) plus `est_in_true_bucket`, provably TRUE because bucket
    // counts are exact — a rank-walk regression flips the hash red.
    GraftQuery(
      "q198_quantile_sketch_store",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val vc = t.events.select(to_date(col("ts")).as("day"),
          col("event_type"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v"))
        // two-level: collapse raw events to the (day, type, value)
        // census once; sketch AND exact twin both derive from it
        val census = vc.groupBy(col("day"), col("event_type"), col("v"))
          .agg(count(lit(1)).as("c"))
        // exact twin's two levels in ONE grouping-sets aggregation
        // (round-18): the lazy `census ∪ all(census)` union re-ran the
        // events scan + census aggregation once per branch (2 scans,
        // 3 exchanges); GROUPING SETS ((day, type, v), (day, v)) emits
        // both levels from one scan/one exchange, with grouping() — not
        // a null compare — selecting the 'ALL' rollup rows. Σc over the
        // (day, v) set ≡ the old re-aggregation of the census, exactly.
        val both = vc
          .groupingSets(
            Seq(Seq(col("day"), col("event_type"), col("v")),
                Seq(col("day"), col("v"))),
            col("day"), col("event_type"), col("v"))
          .agg(count(lit(1)).as("c"),
            when(grouping(col("event_type")) === 1, lit("ALL"))
              .otherwise(col("event_type")).as("et"))
          .select(col("day"), col("et").as("event_type"), col("v"),
            col("c"))
        // exact discrete p95: smallest v with cum ≥ ⌈0.95·n⌉. The
        // running cum and the group total share partition AND order
        // (the total gets an explicit unbounded frame), so both fuse
        // into ONE WindowExec — one exchange, one sort, one walk
        // (VERDICT r12 item 4; was two walks).
        val wW = Window.partitionBy(col("day"), col("event_type"))
          .orderBy(col("v"))
        val wA = Window.partitionBy(col("day"), col("event_type"))
          .orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val exact = both
          .withColumn("__cum", sum(col("c")).over(wW))
          .withColumn("__n", sum(col("c")).over(wA))
          .withColumn("__k",
            call_function("div", col("__n") * 95 + 99, lit(100L)))
          .groupBy(col("day"), col("event_type"))
          .agg(min(when(col("__cum") >= col("__k"), col("v")))
            .as("exact_p95_cents"))
        // the stored artifact: per-(day, type) sketches; ALL = union
        val store = QuantileSketch.merge(
          census.withColumn("bucket", QuantileSketch.bucketize(col("v")))
            .withColumnRenamed("c", "cnt"),
          Seq("day", "event_type"))
        val allSk = QuantileSketch.merge(
          store.withColumn("event_type", lit("ALL")),
          Seq("day", "event_type"))
        val est = QuantileSketch.quantileBucket(
          store.unionByName(allSk), Seq("day", "event_type"), 95, 100)
        est.join(exact, Seq("day", "event_type"))
          .select(col("day"), col("event_type"), col("n_values"),
            col("n_buckets"), col("exact_p95_cents"),
            (col("q_bucket") ===
              QuantileSketch.bucketize(col("exact_p95_cents")))
              .as("est_in_true_bucket"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""
        WITH vc AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CAST(floor(value*100 + 0.5) AS BIGINT) AS v
          FROM events),
        census AS (
          SELECT day, event_type, v, CAST(count(*) AS BIGINT) AS c
          FROM vc GROUP BY 1, 2, 3),
        unioned AS (
          SELECT day, event_type, v, c FROM census
          UNION ALL
          SELECT day, 'ALL', v, SUM(c) FROM census GROUP BY day, v),
        walk AS (
          SELECT day, event_type, v, c,
                 SUM(c) OVER (PARTITION BY day, event_type
                              ORDER BY v) AS cum,
                 SUM(c) OVER (PARTITION BY day, event_type) AS n
          FROM unioned),
        exact AS (
          SELECT day, event_type,
                 CAST(MAX(n) AS BIGINT) AS n_values,
                 MIN(CASE WHEN cum >= (n*95 + 99) // 100 THEN v END)
                   AS exact_p95_cents
          FROM walk GROUP BY 1, 2),
        sk AS (
          -- mirrors QuantileSketch.bucketize exactly, including the
          -- v <= 0 underflow collapse (ADVICE r12: without it, two
          -- distinct non-positive values per group would diverge) and
          -- the shift-before-multiply form for b > 4 (overflow-free on
          -- the full Long domain in both engines)
          SELECT day, event_type,
                 CASE WHEN v <= 0 THEN -1
                      WHEN length(bin(v)) <= 4 THEN
                        (length(bin(v)) - 1) * 16
                          + ((v * 16) >> (length(bin(v)) - 1)) - 16
                      ELSE (length(bin(v)) - 1) * 16
                          + (v >> (length(bin(v)) - 5)) - 16 END AS bucket,
                 SUM(c) AS cnt
          FROM unioned GROUP BY 1, 2, 3),
        best AS (
          SELECT day, event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets
          FROM sk GROUP BY 1, 2)
        SELECT e.day, e.event_type, e.n_values, b.n_buckets,
               e.exact_p95_cents, TRUE AS est_in_true_bucket
        FROM exact e JOIN best b USING (day, event_type)
        ORDER BY day, event_type""")),

    // ------------------------------------------------------------------
    // q199: CSV/JSONL text ingestion parity
    // ([[graft.sources.TextFixtures]]) — `spark.read.csv` and
    // `spark.read.json` with explicit schemas over a deterministic
    // export of the nation table, hash-matched against DuckDB's
    // read_csv/read_json over the SAME bytes. The fixture exercises
    // the places text readers disagree: RFC 4180 doubled quotes,
    // embedded commas, a quoted field spanning lines (multiLine=true),
    // literal backslashes, `\N` null strings, booleans. The two reads
    // join on the key and `formats_agree` null-safe-compares every
    // column across formats (TRUE-pinned) — a reader divergence in
    // EITHER engine or EITHER format flips the hash red.
    GraftQuery(
      "q199_text_ingest",
      (spark, dir) => {
        import org.apache.spark.sql.types._
        graft.sources.TextFixtures.ensure(spark, dir)
        val sch = StructType(Seq(
          StructField("nation_key", IntegerType),
          StructField("name", StringType),
          StructField("region_key", IntegerType),
          StructField("note", StringType),
          StructField("score", DoubleType),
          StructField("flag", BooleanType)))
        val c = spark.read
          .option("header", "true").option("multiLine", "true")
          .option("nullValue", "\\N").option("escape", "\"")
          .schema(sch).csv(graft.sources.TextFixtures.csvPath)
        val j = spark.read.schema(sch)
          .json(graft.sources.TextFixtures.jsonPath)
          .select(col("nation_key").as("j_key"), col("name").as("j_name"),
            col("region_key").as("j_region"), col("note").as("j_note"),
            col("score").as("j_score"), col("flag").as("j_flag"))
        c.join(j, col("nation_key") === col("j_key"))
          .select(col("nation_key"), col("name"), col("region_key"),
            col("note"), col("score"), col("flag"),
            (col("name") <=> col("j_name") &&
              col("region_key") <=> col("j_region") &&
              col("note") <=> col("j_note") &&
              col("score") <=> col("j_score") &&
              col("flag") <=> col("j_flag")).as("formats_agree"))
          .orderBy(col("nation_key"))
      },
      Some(s"""
        WITH c AS (
          SELECT * FROM read_csv('${graft.sources.TextFixtures.csvPath}',
            header = true, nullstr = '\\N', quote = '"', escape = '"',
            columns = {'nation_key': 'INTEGER', 'name': 'VARCHAR',
                       'region_key': 'INTEGER', 'note': 'VARCHAR',
                       'score': 'DOUBLE', 'flag': 'BOOLEAN'})),
        j AS (
          SELECT * FROM read_json('${graft.sources.TextFixtures.jsonPath}',
            format = 'newline_delimited',
            columns = {'nation_key': 'INTEGER', 'name': 'VARCHAR',
                       'region_key': 'INTEGER', 'note': 'VARCHAR',
                       'score': 'DOUBLE', 'flag': 'BOOLEAN'}))
        SELECT c.nation_key, c.name, c.region_key, c.note, c.score, c.flag,
               TRUE AS formats_agree
        FROM c JOIN j USING (nation_key)
        ORDER BY nation_key""")),

    // ------------------------------------------------------------------
    // q204: community assignment by deterministic label propagation
    // ([[graft.ext.Graph.labelPropagation]]) — the ASSIGN half of
    // community detection over the part co-purchase graph (q191 scores
    // a GIVEN partition; this produces one). Three synchronous weighted
    // rounds, min-label tie-break — an exact function of the graph, so
    // the oracle replays the rounds as unrolled SQL and the gate is a
    // full hash of the assignment. The q191 machinery then scores the
    // result and `q_ge_singleton` pins Q(partition) ≥ Q(all-singletons)
    // as exact scaled integers (Q·4m² in decimal(38,0) — a partition
    // WORSE than no grouping at all would flip the hash red).
    GraftQuery(
      "q204_label_propagation",
      (spark, dir) => {
        // weighted mirrored edges from the SHARED co-purchase census
        // (one build serves q122/q154/q156/q161/q191/q204)
        val pairs = SharedGraph.coPurchasePairs(spark, dir)
        val mirrored = pairs.select(explode(array(
            struct(col("a").as("src"), col("b").as("dst"), col("c").as("w")),
            struct(col("b").as("src"), col("a").as("dst"), col("c").as("w"))))
            .as("e"))
          .select(col("e.src").as("src"), col("e.dst").as("dst"),
            col("e.w").as("w"))
        // the FINAL label vector is referenced four times below (output,
        // two modularity joins, degree tag) — one eager checkpoint stops
        // each reference re-running the last round (measured 12 → 5 s)
        val labels = graft.ext.Graph.labelPropagation(mirrored, rounds = 3,
            mirroredInput = true)
          .localCheckpoint(true)
        // evaluation half: total Q·4m² of the produced partition vs the
        // all-singletons baseline (−Σ deg² — every e_c = 0), both exact
        val edges = SharedGraph.undirected(spark, dir)
        // degree table derived ONCE (round-18: it fed both the
        // modularity dC aggregation and the singleton baseline as two
        // separate endpoint-union shuffles) and shared via modularity's
        // `degrees` hook.
        val deg = edges.select(col("src").as("node"))
          .unionAll(edges.select(col("dst").as("node")))
          .groupBy(col("node")).agg(count(lit(1)).as("deg"))
          .localCheckpoint(true)
        val mod = graft.ext.Graph.modularity(edges, labels,
          degrees = Some(deg))
        val qTot = mod.agg(sum(col("q_contrib_scaled")
          .cast("decimal(38,0)")).as("q_scaled"))
        val qSingleton = deg.agg((-sum(col("deg").cast("decimal(38,0)")
          * col("deg"))).as("q_singleton_scaled"))
        labels.crossJoin(broadcast(qTot)).crossJoin(broadcast(qSingleton))
          .select(col("node"), col("community"),
            (col("q_scaled") >= col("q_singleton_scaled"))
              .as("q_ge_singleton"))
          .orderBy(col("node"))
      },
      Some("""
        WITH ps AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        pairs AS (
          SELECT a.l_partkey AS a, b.l_partkey AS b,
                 CAST(count(*) AS BIGINT) AS w
          FROM ps a JOIN ps b ON a.l_orderkey = b.l_orderkey
                             AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2),
        edges AS (SELECT a AS src, b AS dst, w FROM pairs
                  UNION ALL SELECT b, a, w FROM pairs),
        lab0 AS (SELECT DISTINCT src AS node, src AS community FROM edges),
        v1 AS (SELECT e.src AS node, l.community AS nl, SUM(e.w) AS ws
               FROM edges e JOIN lab0 l ON e.dst = l.node GROUP BY 1, 2),
        lab1 AS (SELECT node, nl AS community FROM (
          SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY ws DESC, nl ASC) AS rn FROM v1) WHERE rn = 1),
        v2 AS (SELECT e.src AS node, l.community AS nl, SUM(e.w) AS ws
               FROM edges e JOIN lab1 l ON e.dst = l.node GROUP BY 1, 2),
        lab2 AS (SELECT node, nl AS community FROM (
          SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY ws DESC, nl ASC) AS rn FROM v2) WHERE rn = 1),
        v3 AS (SELECT e.src AS node, l.community AS nl, SUM(e.w) AS ws
               FROM edges e JOIN lab2 l ON e.dst = l.node GROUP BY 1, 2),
        lab3 AS (SELECT node, nl AS community FROM (
          SELECT node, nl, ROW_NUMBER() OVER (PARTITION BY node
            ORDER BY ws DESC, nl ASC) AS rn FROM v3) WHERE rn = 1),
        und AS (SELECT a AS src, b AS dst FROM pairs),
        deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
          SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
          GROUP BY 1),
        m AS (SELECT CAST(count(*) AS BIGINT) AS m_edges FROM und),
        dc AS (SELECT l.community AS community,
                      CAST(SUM(d.deg) AS BIGINT) AS degree_sum
               FROM deg d JOIN lab3 l ON d.node = l.node GROUP BY 1),
        ec AS (SELECT CAST(count(*) AS BIGINT) AS intra_total
               FROM und e JOIN lab3 la ON la.node = e.src
                          JOIN lab3 lb ON lb.node = e.dst
               WHERE la.community = lb.community),
        qt AS (SELECT CAST(4 AS HUGEINT) * m.m_edges * ec.intra_total
                 - (SELECT SUM(CAST(degree_sum AS HUGEINT) * degree_sum)
                    FROM dc) AS q_scaled
               FROM m, ec),
        qs AS (SELECT -SUM(CAST(deg AS HUGEINT) * deg) AS q_singleton
               FROM deg)
        SELECT l.node, l.community,
               qt.q_scaled >= qs.q_singleton AS q_ge_singleton
        FROM lab3 l, qt, qs
        ORDER BY l.node""")),

    // ------------------------------------------------------------------
    // q205: ORC cross-format parity ([[graft.sources.OrcFixtures]]) —
    // `spark.read.orc` over a deterministic ORC export of supplier,
    // joined back to the parquet original with every column null-safe
    // compared (`formats_agree`, TRUE-pinned). DuckDB has no ORC
    // reader, so the oracle gates the PARQUET side; the hash gate then
    // prices the whole ORC write→read round trip — a value-fidelity
    // bug in either direction (bigint, varchar, int, DOUBLE) flips
    // either the per-row agreement or the hashed ORC-side values red.
    // Same pattern as q199 (CSV/JSONL); with it, all three mainstream
    // open columnar/text formats the engine can meet are covered.
    GraftQuery(
      "q205_orc_ingest",
      (spark, dir) => {
        val orcPath = graft.sources.OrcFixtures.supplierOrc(spark, dir)
        val o = spark.read.orc(orcPath)
        val p = new Tables(spark, dir).supplier
          .select(col("s_suppkey").as("p_key"), col("s_name").as("p_name"),
            col("s_nationkey").as("p_nat"), col("s_acctbal").as("p_bal"))
        // inner join on the key; a dropped/duplicated row in the ORC
        // round trip changes the output row count (rows gate), a value
        // divergence flips formats_agree or the hashed ORC-side values
        o.join(p, col("s_suppkey") === col("p_key"))
          .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
            col("s_acctbal"),
            (col("s_name") <=> col("p_name") &&
              col("s_nationkey") <=> col("p_nat") &&
              col("s_acctbal") <=> col("p_bal")).as("formats_agree"))
          .orderBy(col("s_suppkey"))
      },
      Some("""
        SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
               TRUE AS formats_agree
        FROM supplier
        ORDER BY s_suppkey""")),

    // ------------------------------------------------------------------
    // q211: bloom-filter semi-join pruning ([[graft.ext.BloomPrune]])
    // — the runtime-filter shape: a mergeable bitset aggregator over
    // the dim keys (one m/8-byte driver transfer), then a pure-builtin
    // probe predicate (xxhash64 + pmod + element_at + shiftleft,
    // codegen'd, scan-side, below the exchange) pruning the fact
    // before the exact semi-join sweeps the false positives. The
    // oracle is the PLAIN semi-join — a single false negative (a
    // matching fact row the bloom dropped) would flip the hash red,
    // so the gate pins the no-false-negative property end-to-end;
    // BloomPruneSpec pins the SQL-vs-JVM hash-family agreement and
    // measures the false-positive rate the sizing note claims.
    GraftQuery(
      "q211_bloom_semi_join",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val dim = t.part.filter(col("p_type") === "PROMO")
        graft.ext.BloomPrune.bloomSemiJoin(
            t.lineitem, col("l_partkey"), dim, col("p_partkey"),
            mBits = 1 << 16) // ≥16 bits/key at the largest test SF
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            sum(col("l_quantity").cast("long")).as("sum_qty"),
            countDistinct(col("l_partkey")).as("n_parts"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
               CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
        FROM lineitem
        WHERE l_partkey IN
          (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        GROUP BY 1
        ORDER BY 1""")),

    // ------------------------------------------------------------------
    // q212: gzip-compressed text ingestion parity
    // ([[graft.sources.TextFixtures]]) — the q199 JSONL content
    // gzipped byte-deterministically and read back through Spark's
    // codec-by-extension path, joined to the UNCOMPRESSED file with
    // every column null-safe compared (TRUE-pinned `codec_agrees`).
    // DuckDB decompresses the same .gz bytes on its side, so the gate
    // prices both engines' gzip paths against each other. Compressed
    // text is how real corpora arrive (WET/WARC dumps, log shards);
    // gzip is splittable-hostile, so at 100 TB the parallelism unit
    // is the FILE — many ~100 MB .gz shards, one task each — which
    // this reader shape (schema'd per-file scan, no repartition
    // before the first wide op) preserves.
    GraftQuery(
      "q212_gzip_ingest",
      (spark, dir) => {
        import org.apache.spark.sql.types._
        graft.sources.TextFixtures.ensure(spark, dir)
        val sch = StructType(Seq(
          StructField("nation_key", IntegerType),
          StructField("name", StringType),
          StructField("region_key", IntegerType),
          StructField("note", StringType),
          StructField("score", DoubleType),
          StructField("flag", BooleanType)))
        val gz = spark.read.schema(sch)
          .json(graft.sources.TextFixtures.jsonGzPath)
        val plain = spark.read.schema(sch)
          .json(graft.sources.TextFixtures.jsonPath)
          .select(col("nation_key").as("p_key"), col("name").as("p_name"),
            col("region_key").as("p_region"), col("note").as("p_note"),
            col("score").as("p_score"), col("flag").as("p_flag"))
        gz.join(plain, col("nation_key") === col("p_key"))
          .select(col("nation_key"), col("name"), col("region_key"),
            col("note"), col("score"), col("flag"),
            (col("name") <=> col("p_name") &&
              col("region_key") <=> col("p_region") &&
              col("note") <=> col("p_note") &&
              col("score") <=> col("p_score") &&
              col("flag") <=> col("p_flag")).as("codec_agrees"))
          .orderBy(col("nation_key"))
      },
      Some(s"""
        WITH g AS (
          SELECT * FROM read_json(
            '${graft.sources.TextFixtures.jsonGzPath}',
            format = 'newline_delimited', compression = 'gzip',
            columns = {'nation_key': 'INTEGER', 'name': 'VARCHAR',
                       'region_key': 'INTEGER', 'note': 'VARCHAR',
                       'score': 'DOUBLE', 'flag': 'BOOLEAN'})),
        p AS (
          SELECT * FROM read_json(
            '${graft.sources.TextFixtures.jsonPath}',
            format = 'newline_delimited',
            columns = {'nation_key': 'INTEGER', 'name': 'VARCHAR',
                       'region_key': 'INTEGER', 'note': 'VARCHAR',
                       'score': 'DOUBLE', 'flag': 'BOOLEAN'}))
        SELECT g.nation_key, g.name, g.region_key, g.note, g.score, g.flag,
               TRUE AS codec_agrees
        FROM g JOIN p USING (nation_key)
        ORDER BY g.nation_key""")),

    // ------------------------------------------------------------------
    // q214: small-file compaction through write-audit-publish
    // ([[graft.sinks.Compaction]]) — the OPTIMIZE maintenance op over
    // the [[graft.sinks.AtomicPublish]] commit: a 64-part-file
    // published snapshot of `documents` is rewritten into 8
    // right-sized files, row-count-audited over the read-back staged
    // data, atomically published, and the superseded generation
    // vacuumed (published + predecessor survive — pinned). The gate
    // compares the COMPACTED files' full content (md5 of text + every
    // metadata column, full-outer join) against the live documents
    // table, plus the measured before/after file counts — a dropped
    // or duplicated row, a value mangled in the rewrite, an empty
    // output partition, or a vacuum eating the live generation all
    // flip the hash red. File counts are metadata listings; the
    // rewrite itself is ONE round-robin exchange sized by the target
    // — the same plan a 100 TB per-partition compaction runs.
    GraftQuery(
      "q214_compaction",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val sfName = dir.replaceAll(".*/", "")
        val srcDir = s"/tmp/graft-compact/$sfName/src"
        val dstDir = s"/tmp/graft-compact/$sfName/out"
        ensureCompactSeed(spark, dir, srcDir)
        val stats = graft.sinks.Compaction.compactPublished(
          spark, srcDir, dstDir, targetFiles = 8)
        val survives =
          graft.sinks.AtomicPublish.currentGeneration(dstDir)
            .contains(stats.generation) &&
          graft.sinks.AtomicPublish.readPublished(spark, dstDir)
            .count() == stats.rows
        val c = graft.sinks.AtomicPublish.readPublished(spark, dstDir)
          .select(col("doc_id").as("c_id"), col("lang").as("c_lang"),
            col("source").as("c_source"), col("n_chars").as("c_n"),
            md5(col("text")).as("c_md5"))
        val s = t.documents.select(col("doc_id"), col("lang"),
          col("source"), col("n_chars"), md5(col("text")).as("s_md5"))
        s.join(c, col("doc_id") === col("c_id"), "full_outer")
          .agg(count(lit(1)).as("n"),
            sum(when(col("doc_id").isNotNull && col("c_id").isNotNull &&
              (col("lang") <=> col("c_lang")) &&
              (col("source") <=> col("c_source")) &&
              (col("n_chars") <=> col("c_n")) &&
              (col("s_md5") <=> col("c_md5")), 1L).otherwise(0L))
              .as("n_agree"))
          .select(col("n").as("rows"),
            lit(stats.filesBefore).as("files_before"),
            lit(stats.filesAfter).as("files_after"),
            (col("n_agree") === col("n") &&
              col("n") === lit(stats.rows)).as("content_agrees"),
            lit(survives).as("published_survives_vacuum"))
      },
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS rows,
               CAST(64 AS INT) AS files_before,
               CAST(8 AS INT) AS files_after,
               TRUE AS content_agrees,
               TRUE AS published_survives_vacuum
        FROM documents""")),

    // ------------------------------------------------------------------
    // q219: WebDataset tar-shard enumeration ([[graft.ext.TarShards]])
    // — the standard multimodal-training container: USTAR block walk
    // (octal sizes, verified header checksums, prefix+name join,
    // typeflag routing, 512-byte rounding, strict two-zero-block
    // terminator) grouping adjacent files into samples by basename
    // key and auditing completeness against a required-extension set
    // ({txt, cls, img}). The oracle replays entry counts, sample
    // counts, completeness, the byte-exact payload total (a per-file
    // size formula summed over the sample grid — one padded size
    // anywhere desynchronizes NOTHING in the sum but the checksum/
    // terminator walk catches structure, and the md5 of the first
    // sample's .txt payload pins content slicing). Even doc_ids carry
    // a directory entry and an extension-less README the grouper must
    // route correctly; doc_id % 43 rows carry raw text (fail-closed
    // arm). Map-side only; shard bytes never cross a shuffle.
    GraftQuery(
      "q219_tar_shards",
      (spark, dir) => {
        graft.ext.TarShards.extractTar(tarFixture(spark, dir),
            required = Set("txt", "cls", "img"))
          .toDF()
          .select(col("media_id"), col("mime"), col("n_entries"),
            col("n_dirs"), col("n_samples"), col("n_complete"),
            col("payload_bytes"), col("first_sample"),
            col("first_txt_md5"), col("ok"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, doc_id % 43 = 0 AS bad,
                 2 + CAST(doc_id % 3 AS INT) AS k,
                 length(CAST(doc_id AS VARCHAR)) AS L,
                 doc_id % 4 = 0 AS extra
          FROM documents),
        calc AS (
          SELECT *,
            CAST(2 * k + (k + 1) // 2
                 + CASE WHEN extra THEN 1 ELSE 0 END AS INT) AS n_entries_c,
            CAST(CASE WHEN extra THEN 1 ELSE 0 END AS INT) AS n_dirs_c,
            CAST((k + 1) // 2 AS INT) AS n_complete_c,
            CAST(list_sum(list_transform(range(0, k), i ->
                   8 + L + 3 * (1 + (doc_id + i) % 5) + 1
                   + CASE WHEN i % 2 = 0
                          THEN 10 + (doc_id + i) % 7 ELSE 0 END))
                 + CASE WHEN extra THEN 6 ELSE 0 END AS BIGINT)
              AS payload_c
          FROM p)
        SELECT doc_id AS media_id,
               CASE WHEN bad THEN 'application/octet-stream'
                    ELSE 'application/x-tar' END AS mime,
               CASE WHEN bad THEN 0 ELSE n_entries_c END AS n_entries,
               CASE WHEN bad THEN 0 ELSE n_dirs_c END AS n_dirs,
               CAST(CASE WHEN bad THEN 0 ELSE k END AS INT) AS n_samples,
               CASE WHEN bad THEN 0 ELSE n_complete_c END AS n_complete,
               CAST(CASE WHEN bad THEN 0 ELSE payload_c END AS BIGINT)
                 AS payload_bytes,
               CASE WHEN bad THEN ''
                    ELSE 's' || CAST(doc_id AS VARCHAR) || '-0' END
                 AS first_sample,
               CASE WHEN bad THEN ''
                    ELSE md5('text-' || CAST(doc_id AS VARCHAR) || '-0-'
                             || repeat('ab ', CAST(1 + doc_id % 5 AS INT)))
                 END AS first_txt_md5,
               NOT bad AS ok
        FROM calc
        ORDER BY media_id"""))
  )

  /** Synthesized WebDataset shard corpus for q219: per document a
    * USTAR archive of `2 + doc_id % 3` samples — each a `.txt` +
    * `.cls` pair, even sample indices adding an `.img` — plus a
    * directory entry and an extension-less README on doc_id % 4.
    * Every size and payload is a formula of (doc_id, i) the oracle
    * replays. Fail-closed arm at doc_id % 43.
    */
  private def tarFixture(spark: SparkSession, dir: String)
      : org.apache.spark.sql.Dataset[graft.ext.Multimodal.MediaRecord] = {
    val t = new Tables(spark, dir)
    import spark.implicits._
    FixtureCache.materialized(spark, "q219_fixture", dir) {
      t.documents.select(col("doc_id"), col("text")).as[(Long, String)]
        .mapPartitions { it =>
          it.map { case (m, text) =>
            if (m % 43 == 0)
              graft.ext.Multimodal.MediaRecord(m,
                "application/octet-stream", text.getBytes("UTF-8"))
            else {
              val k = 2 + (m % 3).toInt
              val files = scala.collection.mutable.ArrayBuffer
                .empty[(String, Boolean, Array[Byte])]
              if (m % 4 == 0) {
                files += (("data/", true, Array.emptyByteArray))
                files += (("README", false, "readme".getBytes("US-ASCII")))
              }
              var i = 0
              while (i < k) {
                val key = s"s$m-$i"
                val txt = s"text-$m-$i-" +
                  "ab " * (1 + ((m + i) % 5)).toInt
                files += ((s"$key.txt", false, txt.getBytes("US-ASCII")))
                files += ((s"$key.cls", false,
                  ((m + i) % 10).toString.getBytes("US-ASCII")))
                if (i % 2 == 0) {
                  val n = 10 + ((m + i) % 7).toInt
                  files += ((s"$key.img", false,
                    Array.tabulate(n)(j => ((m + j) % 256).toByte)))
                }
                i += 1
              }
              graft.ext.Multimodal.MediaRecord(m, "application/x-tar",
                graft.ext.TarShards.encode(files.toSeq))
            }
          }
        }.toDF()
    }.as[graft.ext.Multimodal.MediaRecord]
  }

  /** Seed the q214 source table once per scale factor: the documents
    * table published as an intentionally over-parallel 64-file
    * snapshot (the accreted-small-files state compaction exists to
    * fix). Content is a pure function of the corpus, so a seed left
    * by an earlier session or another partition regime is identical.
    */
  private def ensureCompactSeed(spark: SparkSession, dir: String,
                                srcDir: String): Unit = synchronized {
    if (graft.sinks.AtomicPublish.currentGeneration(srcDir).isEmpty) {
      val docs = new Tables(spark, dir).documents
      val r = graft.sinks.AtomicPublish.publish(
        docs.repartition(64), srcDir)
      require(r.isInstanceOf[graft.sinks.AtomicPublish.Published],
        s"seed publish failed: $r")
    }
  }
}
