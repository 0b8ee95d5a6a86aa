package graft.analytics

import org.apache.spark.sql.functions._
import graft.{GraftQuery, Tables}
import graft.ext.{Ivm, Layout, Multimodal, Similarity}

/** Round-6 widening of the declarative operator surface: statistical
  * aggregates (corr / covar / regr_*), array higher-order
  * functions as a *query* surface (filter / exists / forall / sort /
  * slice — the building blocks [[graft.ext.Similarity]] uses
  * internally), ordered-set percentiles (`WITHIN GROUP`), a blocked
  * fuzzy self-join on edit distance, and map construction/consumption.
  * All oracle-checkable in DuckDB.
  *
  * Float-vs-oracle discipline: native one-pass moment aggregates
  * (corr, covar, regr_*) accumulate in a different fold order per
  * engine, so results agree only to ~1e-11 relative; every such output
  * is rounded to a precision whose step dwarfs that error but still
  * pins the statistic (the same trade q17 makes for percentiles).
  * Integer-exact outputs (counts, edit distances, quantized sums) are
  * emitted unrounded.
  */
object SurfaceQueries {

  val queries: Seq[GraftQuery] = Seq(

    // q101: the statistical-aggregate surface — correlation, sample and
    // population covariance, variance/stddev, least-squares regression
    // (slope/intercept/r2/count), grouped. All moment-based — every
    // aggregate is a codegen'd DeclarativeAggregate with map-side
    // partials; no shuffle beyond the final 3-group exchange, so it
    // scales like q01. (Exact order statistics live in q103: Spark's
    // exact median/percentile is an ObjectAggregate that buffers group
    // values — measured 4x this whole query's cost at sf0.1 — so the
    // moment surface and the sort surface are deliberately separate
    // queries.)
    GraftQuery(
      "q101_stats_aggs",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem.groupBy(col("l_returnflag")).agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6)
            .as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 1)
            .as("covar_s"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 1)
            .as("covar_p"),
          round(var_pop(col("l_quantity")), 6).as("var_qty"),
          round(stddev_samp(col("l_extendedprice")), 3).as("sd_price"),
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 5)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 3)
            .as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n_pairs"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        SELECT l_returnflag,
               round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
               round(covar_samp(l_quantity, l_extendedprice), 1) AS covar_s,
               round(covar_pop(l_quantity, l_extendedprice), 1) AS covar_p,
               round(var_pop(l_quantity), 6) AS var_qty,
               round(stddev_samp(l_extendedprice), 3) AS sd_price,
               round(regr_slope(l_extendedprice, l_quantity), 5) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 3) AS icept,
               round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // q102: array higher-order functions as query surface — filter,
    // exists, forall, aggregate, array_sort, slice over the quantized
    // embedding (integer-exact, so no rounding anywhere). Everything is
    // per-row map work: zero shuffles, scales embarrassingly.
    GraftQuery(
      "q102_array_hof",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val q = Similarity.quantize(col("embedding"))
        val desc = reverse(array_sort(q))
        t.embeddings.select(
          col("vec_id"),
          size(filter(q, x => x > 0)).as("n_pos"),
          aggregate(q, lit(0L), (a, x) => a + abs(x)).as("l1"),
          Similarity.dotQ(q, q).as("self_dot"),
          element_at(desc, 1).as("top1"),
          element_at(desc, 2).as("top2"),
          element_at(desc, 3).as("top3"),
          exists(q, x => abs(x) >= lit(3000L)).as("any_big"),
          forall(q, x => abs(x) <= lit(20000L)).as("all_small"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q
          FROM embeddings),
        s AS (SELECT vec_id, q, list_sort(q, 'DESC') AS d FROM qv)
        SELECT vec_id,
               CAST(len(list_filter(q, x -> x > 0)) AS INT) AS n_pos,
               CAST(list_sum(list_transform(q, x -> abs(x))) AS BIGINT) AS l1,
               CAST(list_sum(list_transform(q, x -> x*x)) AS BIGINT) AS self_dot,
               d[1] AS top1, d[2] AS top2, d[3] AS top3,
               len(list_filter(q, x -> abs(x) >= 3000)) > 0 AS any_big,
               len(list_filter(q, x -> abs(x) > 20000)) = 0 AS all_small
        FROM s ORDER BY vec_id""")),

    // q103: ordered-set aggregates — percentile_cont WITHIN GROUP, the
    // ANSI inverse-distribution syntax (exact interpolated quantiles,
    // vs q17's approx_percentile sketch). Exact percentiles need the
    // group's values together — fine at a handful of groups; at
    // high-cardinality grouping the q17 sketch is the scale path.
    GraftQuery(
      "q103_percentile_cont",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.orders.createOrReplaceTempView("orders_v")
        spark.sql("""
          SELECT o_orderpriority,
                 round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p25,
                 round(percentile_cont(0.50) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p50,
                 round(percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p75,
                 round(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice), 4) AS p95
          FROM orders_v GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""
        SELECT o_orderpriority,
               round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
               round(quantile_cont(o_totalprice, 0.50), 4) AS p50,
               round(quantile_cont(o_totalprice, 0.75), 4) AS p75,
               round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // q104: blocked fuzzy self-join — similar part names by
    // Levenshtein distance ≤ 3 (the corpus vocabulary has no closer
    // non-identical pairs), candidate pairs blocked on (p_type,
    // first letter). Blocking is the standard scale move for edit-
    // distance joins (the all-pairs form is quadratic in the name
    // count); the documented trade is that pairs differing in their
    // first character are out of scope. Name sets are deduplicated
    // BEFORE pairing, so the join is quadratic in DISTINCT names per
    // block, not rows.
    GraftQuery(
      "q104_fuzzy_name_pairs",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val names = t.part.select(col("p_type"), col("p_name")).distinct()
          .withColumn("blk", substring(col("p_name"), 1, 1))
        val a = names.select(col("p_type"), col("blk"),
          col("p_name").as("name_a"))
        val b = names.select(col("p_type"), col("blk"),
          col("p_name").as("name_b"))
        a.join(b, Seq("p_type", "blk"))
          .filter(col("name_a") < col("name_b"))
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist") <= 3)
          .select(col("p_type"), col("name_a"), col("name_b"), col("dist"))
          .orderBy(col("p_type"), col("name_a"), col("name_b"))
      },
      Some("""
        WITH names AS (
          SELECT DISTINCT p_type, p_name, substring(p_name, 1, 1) AS blk
          FROM part)
        SELECT a.p_type, a.p_name AS name_a, b.p_name AS name_b,
               CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
        FROM names a JOIN names b
          ON a.p_type = b.p_type AND a.blk = b.blk AND a.p_name < b.p_name
        WHERE levenshtein(a.p_name, b.p_name) <= 3
        ORDER BY a.p_type, name_a, name_b""")),

    // q105: map construction and consumption — per-user event-type
    // histogram as a MAP column (map_from_entries over a sorted entry
    // list, so map order — and therefore map_keys output — is
    // deterministic), then map_filter / map_values / element_at /
    // size consumed back down to scalars. One groupBy cascade, no
    // extra exchange for the map step itself.
    GraftQuery(
      "q105_map_ops",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val kv = t.events.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val hot = map_filter(col("m"), (_, v) => v >= 10L)
        kv.groupBy(col("user_id"))
          .agg(map_from_entries(
            sort_array(collect_list(struct(col("event_type"), col("cnt")))))
            .as("m"))
          .select(
            col("user_id"),
            size(col("m")).as("n_types"),
            coalesce(element_at(col("m"), "purchase"), lit(0L))
              .as("purchases"),
            aggregate(map_values(col("m")), lit(0L), (a, x) => a + x)
              .as("total"),
            size(hot).as("hot_types"),
            concat_ws(",", map_keys(hot)).as("hot_keys"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH kv AS (
          SELECT user_id, event_type, count(*) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT user_id,
               CAST(count(*) AS INT) AS n_types,
               CAST(coalesce(sum(cnt) FILTER (WHERE event_type = 'purchase'), 0) AS BIGINT) AS purchases,
               CAST(sum(cnt) AS BIGINT) AS total,
               CAST(count(*) FILTER (WHERE cnt >= 10) AS INT) AS hot_types,
               coalesce(string_agg(CASE WHEN cnt >= 10 THEN event_type END, ','
                 ORDER BY event_type), '') AS hot_keys
        FROM kv GROUP BY user_id ORDER BY user_id""")),

    // q106: video (MP4/ISO-BMFF) metadata extraction — completes the
    // image (q35) / audio (q95) / video modality triad. The binary
    // column is synthesized per row from events columns (a real MP4
    // header byte layout: ftyp + moov[mvhd + trak[tkhd]]), so the
    // oracle recomputes every field from the source columns — pinning
    // the big-endian box walk, 16.16 fixed-point dimension decode, and
    // integer-division duration math. 'view' rows carry unparseable
    // payloads and must surface as ok=false zeros, never errors.
    GraftQuery(
      "q106_video_meta",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        import spark.implicits._
        def h4(c: org.apache.spark.sql.Column) =
          lpad(hex(c.cast("bigint")), 8, "0")
        val ts = when(col("event_id") % 3 === 0, 600L)
          .when(col("event_id") % 3 === 1, 1000L).otherwise(90000L)
        val dur = col("event_id") % 1000000L
        val w = lit(320L) + (col("event_id") % 5) * 160L
        val h = lit(240L) + (col("event_id") % 3) * 120L
        val matrix = "000100000000000000000000" +
          "000000000001000000000000" + "000000000000000040000000"
        val mp4hex = concat(
          lit("000000146674797069736F6D000002006D703431"), // ftyp isom mp41
          lit("000000D86D6F6F76"), // moov (216)
          lit("0000006C6D766864000000000000000000000000"), // mvhd v0
          h4(ts), h4(dur),
          lit("0001000001000000" + ("00" * 8) + matrix + ("00" * 24)
            + "00000001"), // rate, volume, matrix, next_track
          lit("000000647472616B"), // trak (100)
          lit("0000005C746B68640000000700000000000000000000000100000000"),
          h4(dur), lit(("00" * 16) + matrix),
          h4(w * 65536L), h4(h * 65536L))
        val media = when(col("event_type") === "view",
          encode(col("props"), "UTF-8")).otherwise(unhex(mp4hex))
        val src = t.events.select(
            col("event_id").as("media_id"),
            when(col("event_type") === "view", "application/json")
              .otherwise("video/mp4").as("mime"),
            media.as("media"))
          .as[Multimodal.MediaRecord]
        Multimodal.extractVideoMeta(src)
          .toDF()
          .select(col("media_id"), col("mime"), col("byteLen").as("byte_len"),
            col("brand"), col("timescale"),
            col("durationTicks").as("duration_ticks"),
            col("durationMs").as("duration_ms"),
            col("width"), col("height"), col("ok"))
          .orderBy(col("media_id"))
      },
      Some("""
        WITH m AS (
          SELECT event_id, event_type = 'view' AS raw, length(props) AS plen,
                 CASE event_id % 3 WHEN 0 THEN 600 WHEN 1 THEN 1000
                   ELSE 90000 END AS ts,
                 event_id % 1000000 AS dur,
                 320 + (event_id % 5) * 160 AS w,
                 240 + (event_id % 3) * 120 AS h
          FROM events)
        SELECT event_id AS media_id,
               CASE WHEN raw THEN 'application/json' ELSE 'video/mp4' END AS mime,
               CAST(CASE WHEN raw THEN plen ELSE 236 END AS BIGINT) AS byte_len,
               CASE WHEN raw THEN '' ELSE 'isom' END AS brand,
               CAST(CASE WHEN raw THEN 0 ELSE ts END AS INT) AS timescale,
               CAST(CASE WHEN raw THEN 0 ELSE dur END AS BIGINT) AS duration_ticks,
               CAST(CASE WHEN raw THEN 0 ELSE dur * 1000 // ts END AS BIGINT) AS duration_ms,
               CAST(CASE WHEN raw THEN 0 ELSE w END AS INT) AS width,
               CAST(CASE WHEN raw THEN 0 ELSE h END AS INT) AS height,
               NOT raw AS ok
        FROM m ORDER BY media_id""")),

    // q107: Z-order layout audit — Morton codes over (l_partkey,
    // l_suppkey), grouped into 256 contiguous z-spans (the file groups a
    // zorder-clustered write would produce), reporting each span's
    // bounding rectangle. Keys ride an 8-bit grid (mod 256) so the
    // span population is scale-invariant across test SFs. The interleaved-bit math is pure integer
    // bit-ops, so the oracle reproduces it exactly; the CLUSTERING
    // property (tight per-span extents -> parquet min/max pruning on
    // both key columns) is asserted in LayoutSpec, the code math here.
    GraftQuery(
      "q107_zorder_spans",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem
          .select(col("l_partkey"), col("l_suppkey"),
            Layout.morton(col("l_partkey") % 256, col("l_suppkey") % 256, 8)
              .as("z"))
          .withColumn("zspan", shiftrightunsigned(col("z"), 8))
          .groupBy(col("zspan"))
          .agg(count(lit(1)).as("n_rows"),
            min(col("l_partkey")).as("min_part"),
            max(col("l_partkey")).as("max_part"),
            min(col("l_suppkey")).as("min_supp"),
            max(col("l_suppkey")).as("max_supp"))
          .orderBy(col("zspan"))
      },
      Some("""
        WITH z AS (
          SELECT l_partkey, l_suppkey,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                   ((((l_partkey % 256) >> i) & 1) << (2*i))
                 + ((((l_suppkey % 256) >> i) & 1) << (2*i+1)))) AS BIGINT) AS z
          FROM lineitem)
        SELECT z >> 8 AS zspan,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(l_partkey) AS min_part, max(l_partkey) AS max_part,
               min(l_suppkey) AS min_supp, max(l_suppkey) AS max_supp
        FROM z GROUP BY 1 ORDER BY 1""")),

    // q108: SCD2 history build — the warehouse primitive q86's CDC diff
    // feeds: per-user daily profiles (integer micro-sums, so "changed"
    // is exact) compressed into validity ranges via gaps-and-islands
    // (lag to mark change starts, running count to number segments,
    // lead on segment starts for the exclusive valid_to; open segment =
    // current). All windows are keyed by user_id — no global sort, no
    // single-partition window, scales like q07.
    GraftQuery(
      "q108_scd2_history",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        import org.apache.spark.sql.expressions.Window
        val daily = t.events.filter(col("value").isNotNull)
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(sum(floor(col("value") * 1000000d).cast("long"))
            .as("value_micro"))
        val wDay = Window.partitionBy(col("user_id")).orderBy(col("day"))
        val seg = daily
          .withColumn("chg",
            when(lag(col("value_micro"), 1).over(wDay).isNull
              || lag(col("value_micro"), 1).over(wDay) =!= col("value_micro"),
              1L).otherwise(0L))
          .withColumn("seg", sum(col("chg"))
            .over(wDay.rowsBetween(Window.unboundedPreceding,
              Window.currentRow)))
        val spans = seg.groupBy(col("user_id"), col("seg"))
          .agg(min(col("day")).as("valid_from"),
            max(col("day")).as("last_day"),
            first(col("value_micro")).as("value_micro"),
            count(lit(1)).as("n_days"))
        val wSeg = Window.partitionBy(col("user_id")).orderBy(col("seg"))
        spans
          .withColumn("valid_to", lead(col("valid_from"), 1).over(wSeg))
          .withColumn("is_current", col("valid_to").isNull)
          .select(col("user_id"), col("valid_from"), col("valid_to"),
            col("value_micro"), col("n_days"), col("is_current"))
          .orderBy(col("user_id"), col("valid_from"))
      },
      Some("""
        WITH daily AS (
          SELECT user_id, CAST(ts AS DATE) AS day,
                 CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
                   AS value_micro
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        seg AS (
          SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                   ROWS UNBOUNDED PRECEDING) AS seg
          FROM (SELECT *, CASE WHEN lag(value_micro) OVER
                    (PARTITION BY user_id ORDER BY day) IS DISTINCT FROM
                    value_micro THEN 1 ELSE 0 END AS chg
                FROM daily)),
        spans AS (
          SELECT user_id, seg, min(day) AS valid_from,
                 first(value_micro ORDER BY day) AS value_micro,
                 CAST(count(*) AS BIGINT) AS n_days
          FROM seg GROUP BY 1, 2)
        SELECT user_id, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg)
                 AS valid_to,
               value_micro, n_days,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY seg)
                 IS NULL AS is_current
        FROM spans ORDER BY user_id, valid_from""")),

    // q109: explicit GROUPING SETS + grouping_id — the general form
    // behind q10's ROLLUP and q40's CUBE (a hand-picked lattice:
    // (flag, status), (flag), ()). The IDENTICAL SQL text runs in both
    // engines; grouping_id disambiguates aggregation-NULLs from data
    // (returnflag/linestatus are non-null here, so the coalesce
    // labeling is unambiguous). One Expand + one aggregation exchange.
    GraftQuery(
      "q109_grouping_sets",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem.createOrReplaceTempView("lineitem_v")
        spark.sql("""
          SELECT coalesce(l_returnflag, 'ALL') AS flag,
                 coalesce(l_linestatus, 'ALL') AS status,
                 CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                 count(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
          FROM lineitem_v
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                  (l_returnflag), ())
          ORDER BY gid, flag, status""")
      },
      Some("""
        SELECT coalesce(l_returnflag, 'ALL') AS flag,
               coalesce(l_linestatus, 'ALL') AS status,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
               count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, flag, status""")),

    // q110: Johnson-Lindenstrauss random projection 64 -> 16 dims — the
    // dimensionality-reduction preprocessing step ahead of ANN at scale
    // (scan/index 4x fewer bytes; JL bounds pairwise-distance
    // distortion). The ±1 projection matrix is a deterministic
    // arithmetic formula of (i, j) — no stored matrix, no RNG — and the
    // quantized input keeps every sum integer-exact, so both engines
    // reproduce the projection bit for bit. (The mod-1009 step breaks
    // the parity artifact a plain `(i·odd + j·odd) % 2` would have:
    // that collapses to a checkerboard of (i+j) parity, which is a rank-2
    // pattern, not a random-like matrix.) Long-format output (vec_id,
    // dim, y). Per-row map work only; the interpreted nested lambda is
    // the demo surface — the scale path is a native kernel like adc_dot.
    GraftQuery(
      "q110_random_projection",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        // native kernel (graft.functions.RandomProject): one JIT'd loop
        // per row. The nested-HOF spelling of the identical math
        // (aggregate inside transform) interprets two lambdas per
        // matrix cell — measured 24 s vs ~0.3 s at sf0.1 — and the
        // statically-unrolled 1024-term expression tree still evaluated
        // interpreted (too large for whole-stage codegen); this is
        // exactly the "native Expression beats lambda" rule from the
        // design notes applied at 16×64 terms.
        val y = graft.functions.SketchFns.random_project(
          col("embedding"), 16)
        t.embeddings
          .select(col("vec_id"), posexplode(y).as(Seq("dim", "y")))
          .orderBy(col("vec_id"), col("dim"))
      },
      Some("""
        WITH qv AS (
          SELECT vec_id,
                 list_transform(embedding,
                   x -> CAST(FLOOR(CAST(x AS DOUBLE)*10000 + 0.5) AS BIGINT)) AS q
          FROM embeddings),
        proj AS (
          SELECT vec_id,
                 list_transform(range(0, 16), j ->
                   list_sum(list_transform(range(1, 65), i ->
                     q[CAST(i AS INT)] * CASE WHEN ((i-1)*2654435761 + j*40503)
                       % 1009 % 2 = 0 THEN 1 ELSE -1 END))) AS y
          FROM qv)
        SELECT vec_id, CAST(t.j AS INT) AS dim,
               CAST(y[CAST(t.j AS INT) + 1] AS BIGINT) AS y
        FROM proj, range(0, 16) t(j)
        ORDER BY vec_id, dim""")),

    // q111: bitmap + ordered string aggregation — bit_or/bit_and over a
    // per-type bitmask (the compact "which kinds did this user ever
    // emit" encoding), bit_count on the result, and listagg DISTINCT
    // WITHIN GROUP (Spark 4's ANSI listagg; deterministic because the
    // order is explicit). Identical SQL semantics in the oracle via
    // string_agg(DISTINCT .. ORDER BY).
    GraftQuery(
      "q111_bitmask_listagg",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.events.createOrReplaceTempView("events_v")
        spark.sql("""
          WITH m AS (
            SELECT user_id, event_type,
                   CASE event_type WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
                        WHEN 'view' THEN 4 WHEN 'error' THEN 8
                        ELSE 16 END AS mask
            FROM events_v)
          SELECT user_id,
                 CAST(bit_or(mask) AS BIGINT) AS seen_mask,
                 CAST(bit_and(mask) AS BIGINT) AS common_mask,
                 CAST(bit_count(CAST(bit_or(mask) AS BIGINT)) AS INT) AS n_kinds,
                 listagg(DISTINCT event_type, ',')
                   WITHIN GROUP (ORDER BY event_type) AS kinds
          FROM m GROUP BY user_id ORDER BY user_id""")
      },
      Some("""
        WITH m AS (
          SELECT user_id, event_type,
                 CASE event_type WHEN 'purchase' THEN 1 WHEN 'click' THEN 2
                      WHEN 'view' THEN 4 WHEN 'error' THEN 8
                      ELSE 16 END AS mask
          FROM events)
        SELECT user_id,
               CAST(bit_or(mask) AS BIGINT) AS seen_mask,
               CAST(bit_and(mask) AS BIGINT) AS common_mask,
               CAST(bit_count(CAST(bit_or(mask) AS BIGINT)) AS INT) AS n_kinds,
               string_agg(DISTINCT event_type, ',' ORDER BY event_type)
                 AS kinds
        FROM m GROUP BY user_id ORDER BY user_id""")),

    // q112: the ANSI aggregate FILTER clause + boolean aggregates —
    // conditional aggregation without CASE-WHEN scaffolding. The
    // IDENTICAL SQL text runs in both engines (FILTER and
    // bool_or/bool_and are ANSI); the one float output (filtered avg)
    // gets the magnitude-aware rounding every moment aggregate in this
    // registry uses.
    GraftQuery(
      "q112_filtered_aggs",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem.createOrReplaceTempView("lineitem_v")
        spark.sql("""
          SELECT l_returnflag,
                 count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
                 CAST(sum(l_quantity) FILTER (WHERE l_tax > 0.04) AS DOUBLE)
                   AS qty_taxed,
                 round(avg(l_extendedprice)
                   FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01'), 4)
                   AS avg_late_price,
                 bool_or(l_discount > 0.09) AS any_big_disc,
                 bool_and(l_quantity >= 1) AS all_qty_pos
          FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag,
               count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
               CAST(sum(l_quantity) FILTER (WHERE l_tax > 0.04) AS DOUBLE)
                 AS qty_taxed,
               round(avg(l_extendedprice)
                 FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01'), 4)
                 AS avg_late_price,
               bool_or(l_discount > 0.09) AS any_big_disc,
               bool_and(l_quantity >= 1) AS all_qty_pos
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // q113: try_* error-safe functions — the ANSI-mode survival kit
    // (this engine runs Spark 4 with ansi.enabled=true, where /0 and
    // overflow THROW): try_divide and try_add turn the poison rows into
    // NULLs instead of failing the 100 TB job at task 31 of 40000, and
    // try_cast declares the parse-may-fail intent. The oracle spells
    // the same semantics with guards (DuckDB's integer division and
    // overflow also raise). Divisors are 0/1/2 by construction, so the
    // surviving quotients are binary-exact — no rounding needed. No
    // ORDER BY: the driver's compare sorts rows itself, and a global
    // sort of the 1M-row output was the whole query's cost at sf0.1.
    GraftQuery(
      "q113_try_functions",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.events.createOrReplaceTempView("events_try_v")
        spark.sql("""
          SELECT event_id,
                 try_divide(value, CAST(event_id % 3 AS DOUBLE)) AS safe_div,
                 try_cast(props AS DOUBLE) AS junk_cast,
                 try_add(9223372036854775807, event_id % 2) AS safe_add
          FROM events_try_v""")
      },
      Some("""
        SELECT event_id,
               CASE WHEN event_id % 3 = 0 THEN NULL
                    ELSE value / (event_id % 3) END AS safe_div,
               TRY_CAST(props AS DOUBLE) AS junk_cast,
               CASE WHEN event_id % 2 = 0 THEN 9223372036854775807
                    ELSE NULL END AS safe_add
        FROM events""")),

    // q114: calendar-function breadth — date_trunc('quarter'),
    // quarter, last_day, dayofyear, dayofweek, datediff, grouped per
    // quarter. Engines disagree on dayofweek numbering (Spark
    // 1=Sunday, DuckDB 0=Sunday) — the oracle spells the +1 explicitly
    // rather than pretending the functions are identical; everything
    // else maps one-to-one. Timestamps are cast to DATE at the output
    // so both engines compare the same type.
    GraftQuery(
      "q114_calendar_breadth",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.orders
          .select(
            date_trunc("quarter", col("o_orderdate")).cast("date")
              .as("qstart"),
            quarter(col("o_orderdate")).as("qn"),
            last_day(col("o_orderdate")).as("month_end"),
            dayofyear(col("o_orderdate")).as("doy"),
            dayofweek(col("o_orderdate")).as("dow"),
            datediff(lit("1998-01-01").cast("date"),
              col("o_orderdate").cast("date")).as("days_to_98"))
          .groupBy(col("qstart"), col("qn"))
          .agg(count(lit(1)).as("n"),
            min(col("month_end")).as("first_month_end"),
            min(col("doy")).as("min_doy"),
            count_distinct(col("dow")).as("dows_seen"),
            max(col("days_to_98")).as("max_days_to_98"))
          .orderBy(col("qstart"))
      },
      Some("""
        WITH d AS (
          SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS qstart,
                 CAST(quarter(o_orderdate) AS INT) AS qn,
                 CAST(last_day(o_orderdate) AS DATE) AS month_end,
                 CAST(dayofyear(o_orderdate) AS INT) AS doy,
                 CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
                 CAST(datediff('day', CAST(o_orderdate AS DATE),
                   DATE '1998-01-01') AS INT) AS days_to_98
          FROM orders)
        SELECT qstart, qn, count(*) AS n,
               min(month_end) AS first_month_end,
               min(doy) AS min_doy,
               CAST(count(DISTINCT dow) AS BIGINT) AS dows_seen,
               max(days_to_98) AS max_days_to_98
        FROM d GROUP BY 1, 2 ORDER BY qstart""")),

    // q115: generator NULL-preserving semantics — explode_outer keeps a
    // (doc_id, NULL) row for documents whose long-word array is EMPTY
    // (106 of 500 docs at sf0.01), where plain explode silently drops
    // the document from the output — the outer-join-shaped edge every
    // flatten step in a curation pipeline must decide about. Oracle
    // spells it as the equivalent LEFT JOIN against the exploded rows.
    GraftQuery(
      "q115_explode_outer",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.documents
          .select(col("doc_id"),
            explode_outer(filter(split(col("text"), " "),
              w => length(w) > 6)).as("w"))
          .orderBy(col("doc_id"), col("w"))
      },
      Some("""
        WITH e AS (
          SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   x -> length(x) > 6)) AS w
          FROM documents)
        SELECT d.doc_id, e.w
        FROM documents d LEFT JOIN e USING (doc_id)
        ORDER BY doc_id, w""")),

    // q116: GROUP BY ALL / ORDER BY ALL — the modern-SQL shorthand both
    // engines support with identical text (every non-aggregate output
    // column becomes a grouping key; the whole select list becomes the
    // sort key). Decimal-exact sum per the q03 discipline.
    GraftQuery(
      "q116_group_by_all",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem.createOrReplaceTempView("lineitem_gba_v")
        spark.sql("""
          SELECT l_returnflag, l_linestatus, count(*) AS n,
                 CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
          FROM lineitem_gba_v GROUP BY ALL ORDER BY ALL""")
      },
      Some("""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
        FROM lineitem GROUP BY ALL ORDER BY ALL""")),

    // q117: null-safe equality (IS NOT DISTINCT FROM) as a JOIN key —
    // the NULL=NULL matching a plain equi-join silently drops. The
    // nullif-derived key plants a real NULL group; identical SQL text
    // in both engines. (Spark plans null-safe equality as a hash join
    // on a wrapped key, not a cartesian filter.)
    GraftQuery(
      "q117_null_safe_join",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.events.createOrReplaceTempView("events_nsj_v")
        spark.sql("""
          WITH a AS (
            SELECT nullif(event_type, 'view') AS k, count(*) AS n
            FROM events_nsj_v GROUP BY 1)
          SELECT a.k, a.n AS n_a, b.n AS n_b
          FROM a JOIN a b ON a.k IS NOT DISTINCT FROM b.k
          ORDER BY a.k""")
      },
      Some("""
        WITH a AS (
          SELECT nullif(event_type, 'view') AS k, count(*) AS n
          FROM events GROUP BY 1)
        SELECT a.k, a.n AS n_a, b.n AS n_b
        FROM a JOIN a b ON a.k IS NOT DISTINCT FROM b.k
        ORDER BY a.k""")),

    // q118: string-function breadth on the engine-overlapping subset —
    // split_part, translate, repeat, reverse, left, ANSI position,
    // ascii, chr, rpad. (Deliberately omitted: initcap and soundex,
    // which DuckDB lacks or defines differently — parity claims stop at
    // functions both engines actually share.) Identical SQL text.
    GraftQuery(
      "q118_string_breadth",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.part.createOrReplaceTempView("part_str_v")
        spark.sql("""
          SELECT p_partkey,
                 split_part(p_name, ' ', 1) AS first_word,
                 translate(p_brand, '#', '_') AS brand_slug,
                 repeat(left(p_name, 2), 2) AS echo,
                 reverse(p_type) AS type_rev,
                 CAST(position('an' IN p_name) AS INT) AS an_pos,
                 CAST(ascii(p_name) AS INT) AS first_code,
                 chr(65 + CAST(p_size % 26 AS INT)) AS size_letter,
                 rpad(p_type, 10, '.') AS type_padded
          FROM part_str_v ORDER BY p_partkey""")
      },
      Some("""
        SELECT p_partkey,
               split_part(p_name, ' ', 1) AS first_word,
               translate(p_brand, '#', '_') AS brand_slug,
               repeat(left(p_name, 2), 2) AS echo,
               reverse(p_type) AS type_rev,
               CAST(position('an' IN p_name) AS INT) AS an_pos,
               CAST(ascii(p_name) AS INT) AS first_code,
               chr(65 + CAST(p_size % 26 AS INT)) AS size_letter,
               rpad(p_type, 10, '.') AS type_padded
        FROM part ORDER BY p_partkey""")),

    // q119: the `for:` clause of the reference's alert rules
    // (k8s/monitoring/alerts.yaml:40-49 "depth > 10 FOR 10 m") as a
    // batch operator — breach runs over CONSECUTIVE 15-minute windows
    // held for >= 2 windows, via gaps-and-islands on the integer window
    // index (an absent window breaks the run). Two keyed shuffles, both
    // on the post-aggregation window table (3-4 orders of magnitude
    // smaller than events); the streaming twin is
    // [[graft.streaming.StreamingHeldAlert]].
    GraftQuery(
      "q119_held_alert",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        Monitoring.heldFor(
            t.events.select(col("event_type").as("key"), col("ts"),
                            col("value").as("metric")),
            windowSeconds = 900L, threshold = 55.0, holdWindows = 2)
          .select(col("key").as("event_type"),
                  unix_timestamp(col("held_from")).as("held_from_sec"),
                  unix_timestamp(col("held_to")).as("held_to_sec"),
                  col("n_windows"), col("peak"))
          .orderBy(col("event_type"), col("held_from_sec"))
      },
      Some("""
        WITH w AS (
          SELECT event_type, CAST(FLOOR(epoch(ts)/900) AS BIGINT) AS widx,
                 CAST(sum(CAST(floor("value" * 100 + 0.5) AS BIGINT))
                      AS DOUBLE) / count(*) / 100.0 AS avg_metric
          FROM events GROUP BY 1, 2),
        isl AS (
          SELECT *, (avg_metric >= 55.0) AS breach,
                 widx - row_number() OVER (
                   PARTITION BY event_type, (avg_metric >= 55.0)
                   ORDER BY widx) AS grp
          FROM w)
        SELECT event_type,
               min(widx) * 900 AS held_from_sec,
               (max(widx) + 1) * 900 AS held_to_sec,
               count(*) AS n_windows,
               floor(max(avg_metric) * 10000 + 0.5) / 10000 AS peak
        FROM isl WHERE breach GROUP BY event_type, grp
        HAVING count(*) >= 2
        ORDER BY event_type, held_from_sec""")),

    // q120: deterministic hash-bucket train/val/test split — the
    // at-scale stratified-split operator (salted md5 bucket threshold;
    // purely map-side, zero shuffle, fractions hold in expectation per
    // stratum). The leakage-safe cluster-level split is q85; this is
    // the independent-row split every experiment re-deals with a seed.
    GraftQuery(
      "q120_hash_split",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        graft.ext.Dedup.hashSplit(
            t.documents.select(col("doc_id"), col("lang")), col("doc_id"))
          .select(col("doc_id"), col("lang"), col("split"),
                  col("bucket").cast("long").as("bucket"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH h AS (
          SELECT doc_id, lang,
                 ((strpos('0123456789abcdef', substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096
                + (strpos('0123456789abcdef', substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
                + (strpos('0123456789abcdef', substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
                + (strpos('0123456789abcdef', substr(md5('split1:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) AS bucket
          FROM documents)
        SELECT doc_id, lang,
               CASE WHEN bucket < 52428 THEN 'train'
                    WHEN bucket < 58982 THEN 'val' ELSE 'test' END AS split,
               CAST(bucket AS BIGINT) AS bucket
        FROM h ORDER BY doc_id""")),

    // q121: window-function breadth round 3 — time-INTERVAL RANGE
    // frames (the frame type q54's numeric epoch range cannot spell)
    // and IGNORE NULLS navigation: last_value forward-fill (the window
    // form of LOCF) and first_value-over-following (next non-null).
    // All keyed windows — no single-partition sort. (ts, user_id) is
    // unique in the testdata, so the RANGE ordering is deterministic.
    GraftQuery(
      "q121_interval_frames",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.events.createOrReplaceTempView("events_ivl_v")
        spark.sql("""
          WITH e AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN event_type <> 'view' THEN value END AS metric
            FROM events_ivl_v)
          SELECT user_id, event_id,
                 CAST(count(metric) OVER w1h AS BIGINT) AS n_metric_1h,
                 round(last_value(metric) IGNORE NULLS OVER wff, 4) AS locf,
                 round(first_value(metric) IGNORE NULLS OVER wlead, 4) AS next_metric
          FROM e
          WINDOW w1h AS (PARTITION BY user_id ORDER BY ts
                         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
                 wff AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wlead AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
          ORDER BY user_id, event_id""")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, ts,
                 CASE WHEN event_type <> 'view' THEN "value" END AS metric
          FROM events)
        SELECT user_id, event_id,
               CAST(count(metric) OVER w1h AS BIGINT) AS n_metric_1h,
               round(last_value(metric IGNORE NULLS) OVER wff, 4) AS locf,
               round(first_value(metric IGNORE NULLS) OVER wlead, 4) AS next_metric
        FROM e
        WINDOW w1h AS (PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW),
               wff AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wlead AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
        ORDER BY user_id, event_id""")),

    // q122: per-vertex triangle counts on the part co-purchase graph
    // (parts sharing an order). The Spark plan uses degree-ordered
    // orientation (wedge fan-out capped at O(sqrt(m)) per vertex, no
    // hot-key quadratic blowup — see Graph.triangleCounts scaladoc);
    // the oracle uses the straightforward u<v three-way join —
    // orientation changes enumeration, never the answer. Edge build is
    // a per-order self-join, bounded by order size.
    GraftQuery(
      "q122_triangle_counts",
      (spark, dir) => {
        // edge list from the SHARED co-purchase census (one build
        // serves q122/q154/q156/q161/q191 — the SharedClusterPass
        // factoring; per-order pair generation beats the l_orderkey
        // SELF-JOIN the oracle spells, and now runs once per session)
        val edges = SharedGraph.undirected(spark, dir)
        // assumeCanonical: the census IS the distinct a < b pair set, so
        // the operator's canonicalization distinct (a full edge-set
        // shuffle) would only re-prove the construction (round-18)
        graft.ext.Graph.triangleCounts(edges, assumeCanonical = true)
          .orderBy(col("node"))
      },
      Some("""
        WITH edges AS (
          SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        tri AS (
          SELECT e1.u AS a, e1.v AS b, e2.v AS c FROM edges e1
            JOIN edges e2 ON e1.v = e2.u
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v)
        SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY node ORDER BY node""")),

    // q123: training-mixture resampling — the largest corpus matching a
    // target source mixture exactly (integer-exact feasibility
    // T = min_s floor(cnt_s*W/w_s), per-source take of the lowest-md5
    // needed_s docs). Weights derived from the source id so the mixture
    // is non-uniform; every step is integer arithmetic, so both engines
    // agree bit-for-bit. The sibling of q120 (rate-based) and q55
    // (per-stratum bottom-k sampling).
    GraftQuery(
      "q123_mixture_resample",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        graft.ext.TextAnalysis.mixtureTake(
            t.documents, col("doc_id"), col("source"),
            substring(col("source"), 4, 10).cast("int") % 4 + 1)
          .select(col("doc_id"), col("source"), col("rk").cast("long")
                    .as("rk"), col("needed"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH base AS (
          SELECT doc_id, source,
                 CAST((CAST(substr(source, 4) AS INT) % 4) + 1 AS BIGINT) AS w
          FROM documents),
        per AS (
          SELECT source, CAST(count(*) AS BIGINT) AS cnt, min(w) AS w
          FROM base GROUP BY source),
        tot AS (SELECT sum(w) AS bigw FROM per),
        tsel AS (SELECT min((cnt * bigw) // w) AS t FROM per, tot),
        needs AS (
          SELECT source, CAST((w * t) // bigw AS BIGINT) AS needed
          FROM per, tot, tsel),
        ranked AS (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
          FROM base)
        SELECT r.doc_id, r.source, CAST(r.rk AS BIGINT) AS rk, n.needed
        FROM ranked r JOIN needs n USING (source)
        WHERE r.rk <= n.needed
        ORDER BY r.doc_id""")),

    // q124: array set algebra as a query surface — intersect, union
    // (distinct concat), difference via a HOF filter, all explicitly
    // sorted before emission because set-op result ORDER is
    // engine-defined. Per-row map work only: zero shuffles. The two
    // array-valued results are serialized with array_join so the
    // column is an orderable scalar the correctness harness can sort
    // and hash (pandas cannot factorize ndarray cells).
    GraftQuery(
      "q124_array_set_algebra",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.documents.createOrReplaceTempView("documents_arr_v")
        spark.sql("""
          WITH t AS (
            SELECT doc_id,
                   array_distinct(split(text, ' ')) AS words,
                   array_distinct(filter(split(text, ' '),
                     w -> length(w) >= 6)) AS lw,
                   array_distinct(filter(split(text, ' '),
                     w -> w LIKE '%e%')) AS ew
            FROM documents_arr_v)
          SELECT doc_id,
                 CAST(size(words) AS BIGINT) AS n_words,
                 array_join(array_sort(array_intersect(lw, ew)), ',')
                   AS long_and_e,
                 CAST(size(array_distinct(concat(lw, ew))) AS BIGINT)
                   AS n_union,
                 array_join(slice(array_sort(filter(lw,
                   w -> NOT array_contains(ew, w))), 1, 5), ',')
                   AS long_not_e5
          FROM t ORDER BY doc_id""")
      },
      Some("""
        WITH t AS (
          SELECT doc_id,
                 list_distinct(string_split(text, ' ')) AS words,
                 list_distinct(list_filter(string_split(text, ' '),
                   w -> length(w) >= 6)) AS lw,
                 list_distinct(list_filter(string_split(text, ' '),
                   w -> w LIKE '%e%')) AS ew
          FROM documents)
        SELECT doc_id,
               CAST(len(words) AS BIGINT) AS n_words,
               coalesce(array_to_string(
                   list_sort(list_intersect(lw, ew)), ','), '')
                 AS long_and_e,
               CAST(len(list_distinct(list_cat(lw, ew))) AS BIGINT)
                 AS n_union,
               coalesce(array_to_string(list_sort(list_filter(lw,
                 w -> NOT list_contains(ew, w)))[1:5], ','), '')
                 AS long_not_e5
        FROM t ORDER BY doc_id""")),

    // q125: regexp-function breadth — extract-all counts, first-match
    // group extraction, replace-all, and rlike membership, over the
    // engine-shared regex subset (character classes + bounded repeats +
    // alternation — semantics identical between Java regex and RE2 for
    // this subset, the same discipline as the q57 PII patterns).
    GraftQuery(
      "q125_regexp_breadth",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.documents.createOrReplaceTempView("documents_re_v")
        spark.sql("""
          SELECT doc_id,
                 CAST(size(regexp_extract_all(text, '[0-9]+', 0)) AS BIGINT)
                   AS n_nums,
                 regexp_extract(text, '([a-z]{7,})', 1) AS first_long_word,
                 CAST(length(regexp_replace(text, '[aeiou]', '')) AS BIGINT)
                   AS len_no_vowels,
                 text RLIKE 'data|model' AS mentions
          FROM documents_re_v ORDER BY doc_id""")
      },
      Some("""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                 AS n_nums,
               regexp_extract(text, '([a-z]{7,})', 1) AS first_long_word,
               CAST(length(regexp_replace(text, '[aeiou]', '', 'g')) AS BIGINT)
                 AS len_no_vowels,
               CAST(regexp_matches(text, 'data|model') AS BOOLEAN) AS mentions
        FROM documents ORDER BY doc_id""")),

    // ------------------------------------------------------------------
    // q128: distribution-shape aggregate surface — skewness, kurtosis,
    // ANSI percentile_disc WITHIN GROUP, and width_bucket. Spark's
    // skewness/kurtosis are the POPULATION moments (g1, excess g2);
    // DuckDB's builtins apply sample corrections, so the oracle computes
    // the central moments explicitly (two-pass: mean, then averaged
    // centered powers) — same numbers, engine bias excluded by
    // construction. percentile_disc likewise goes through its ANSI
    // definition in the oracle (least value with cume_dist >= p) rather
    // than DuckDB's quantile_disc, whose floor((n-1)p) index rule picks
    // a DIFFERENT row than ceil(np) for e.g. p=0.75, n≡3 (mod 4).
    // Everything here is one map-side-partial agg pass + one 3-group
    // exchange; the percentile pass adds one per-group sort — the same
    // scale shape as q101/q103.
    GraftQuery(
      "q128_moment_shape",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        t.lineitem.createOrReplaceTempView("lineitem_mom_v")
        // round-17 optimization: the three percentile_disc aggregates
        // forced the WHOLE aggregation into one ObjectHashAggregate
        // (each buffers per-group value maps over the full fact table
        // and drags skewness/kurtosis out of codegen with it). Split:
        // the moment aggregates stay one codegen'd HashAggregate pass;
        // the DISCRETE percentiles come from a (flag, quantity) census
        // walk — smallest value with cum ≥ p·n, which is exactly
        // percentile_disc's definition (p ∈ {.25,.5,.75} are exact
        // binary fractions, so the double comparison cannot round) and
        // exactly the oracle's cume_dist replay. Values verified
        // identical to the previous shape; 0.87 → 0.52 s isolated.
        val moments = spark.sql("""
          SELECT l_returnflag,
                 round(skewness(l_quantity), 6) AS skew_qty,
                 round(kurtosis(l_quantity), 6) AS kurt_qty,
                 round(skewness(l_discount), 6) AS skew_disc,
                 CAST(SUM(CASE WHEN width_bucket(l_quantity, 1.0D, 51.0D, 5)
                                    = 3 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_mid_bucket
          FROM lineitem_mom_v GROUP BY l_returnflag""")
        import org.apache.spark.sql.expressions.Window
        val census = t.lineitem
          .groupBy(col("l_returnflag"), col("l_quantity"))
          .agg(count(lit(1)).as("__c"))
        val wW = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"))
        val wA = Window.partitionBy(col("l_returnflag"))
          .orderBy(col("l_quantity"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val pct = census
          .withColumn("__cum", sum(col("__c")).over(wW))
          .withColumn("__n", sum(col("__c")).over(wA))
          .groupBy(col("l_returnflag"))
          .agg(
            min(when(col("__cum").cast("double") >= col("__n") * 0.25,
              col("l_quantity"))).as("q25"),
            min(when(col("__cum").cast("double") >= col("__n") * 0.5,
              col("l_quantity"))).as("q50"),
            min(when(col("__cum").cast("double") >= col("__n") * 0.75,
              col("l_quantity"))).as("q75"))
        moments.join(pct, "l_returnflag")
          .select(col("l_returnflag"), col("skew_qty"), col("kurt_qty"),
            col("skew_disc"), col("q25"), col("q50"), col("q75"),
            col("n_mid_bucket"))
          .orderBy(col("l_returnflag"))
      },
      Some("""
        WITH mu AS (
          SELECT l_returnflag, avg(l_quantity) AS mq, avg(l_discount) AS md
          FROM lineitem GROUP BY 1),
        mom AS (
          SELECT l.l_returnflag,
                 avg(pow(l_quantity - mq, 2)) AS m2q,
                 avg(pow(l_quantity - mq, 3)) AS m3q,
                 avg(pow(l_quantity - mq, 4)) AS m4q,
                 avg(pow(l_discount - md, 2)) AS m2d,
                 avg(pow(l_discount - md, 3)) AS m3d,
                 CAST(SUM(CASE WHEN l_quantity >= 21.0 AND l_quantity < 31.0
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_mid
          FROM lineitem l JOIN mu USING (l_returnflag) GROUP BY 1),
        cd AS (
          SELECT l_returnflag, l_quantity,
                 cume_dist() OVER (PARTITION BY l_returnflag
                                   ORDER BY l_quantity) AS cd
          FROM lineitem),
        pd AS (
          SELECT l_returnflag,
                 min(CASE WHEN cd >= 0.25 THEN l_quantity END) AS q25,
                 min(CASE WHEN cd >= 0.5 THEN l_quantity END) AS q50,
                 min(CASE WHEN cd >= 0.75 THEN l_quantity END) AS q75
          FROM cd GROUP BY 1)
        SELECT m.l_returnflag,
               round(m3q / pow(m2q, 1.5), 6) AS skew_qty,
               round(m4q / pow(m2q, 2) - 3, 6) AS kurt_qty,
               round(m3d / pow(m2d, 1.5), 6) AS skew_disc,
               q25, q50, q75, n_mid AS n_mid_bucket
        FROM mom m JOIN pd USING (l_returnflag)
        ORDER BY l_returnflag""")),

    // ------------------------------------------------------------------
    // q129: map-typed column surface — str_to_map parses a key=value
    // config string, transform_keys/transform_values rewrite it,
    // map_filter drops a key, map_concat merges a second map, and
    // map_entries + explode flatten back to rows for a (key, value)
    // census. The map values never leave the row until the final
    // per-(key,value) count, so the only shuffle is the small census
    // exchange. The oracle never builds a map at all — it derives the
    // same (key, value, n) rows relationally, which is exactly the
    // point: the map pipeline must agree with the first-principles
    // answer, not with another map implementation.
    GraftQuery(
      "q129_map_functions",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val cfg = concat(
          lit("prio="), col("o_orderpriority"),
          lit(";status="), col("o_orderstatus"),
          lit(";bucket="), pmod(col("o_orderkey"), lit(4)))
        val parsed = str_to_map(cfg, lit(";"), lit("="))
        val lowered = transform_values(parsed, (_, v) => lower(v))
        val kept = map_filter(lowered, (k, _) => k =!= "bucket")
        val tagged = transform_keys(kept, (k, _) => concat(lit("k_"), k))
        val full = map_concat(tagged,
          map(lit("k_month"), date_format(col("o_orderdate"), "yyyy-MM")))
        t.orders
          .select(explode(map_entries(full)).as("e"))
          .select(col("e.key").as("key"), col("e.value").as("value"))
          .groupBy(col("key"), col("value"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("key"), col("value"))
      },
      Some("""
        WITH kv AS (
          SELECT 'k_prio' AS key, lower(o_orderpriority) AS value FROM orders
          UNION ALL
          SELECT 'k_status', lower(o_orderstatus) FROM orders
          UNION ALL
          SELECT 'k_month', strftime(o_orderdate, '%Y-%m') FROM orders)
        SELECT key, value, CAST(count(*) AS BIGINT) AS n
        FROM kv GROUP BY key, value ORDER BY key, value""")),

    // ------------------------------------------------------------------
    // q130: semi-structured parsing surface — get_json_object /
    // from_json over the events table's REAL JSON `props` column, plus
    // nested-path and array extraction over a JSON document synthesized
    // in-row, and from_csv over a synthesized CSV line. All parsing is
    // per-row scan work folded into one small per-type aggregate, so
    // the output exchange is tiny no matter the corpus size. The oracle
    // parses `props` with DuckDB's JSON extraction but derives the
    // synthesized-document answers from the SOURCE columns — the parse
    // round-trip must agree with the values that went in, which checks
    // the parser against ground truth instead of against another
    // parser's quirks.
    GraftQuery(
      "q130_json_csv_parse",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val base = t.events.filter(
          col("value").isNotNull && col("event_type").isNotNull &&
          col("user_id").isNotNull)
        val vq = floor(col("value") * 10000d + 0.5d).cast("long")
        val js = concat(
          lit("{\"u\":"), col("user_id"),
          lit(",\"t\":\""), col("event_type"),
          lit("\",\"m\":{\"v\":"), vq,
          lit("},\"tags\":[\"a\",\"b\"]}"))
        val csvLine = concat_ws(",", col("event_id"), col("event_type"),
          col("user_id"))
        base.select(
            col("event_type"),
            get_json_object(col("props"), "$.k").cast("long").as("k_path"),
            from_json(col("props"),
                org.apache.spark.sql.types.StructType.fromDDL("k LONG"))
              .getField("k").as("k_schema"),
            get_json_object(js, "$.m.v").cast("long").as("v_nested"),
            json_array_length(get_json_object(js, "$.tags")).as("n_tags"),
            from_csv(csvLine,
                org.apache.spark.sql.types.StructType.fromDDL(
                  "a LONG, b STRING, c LONG"),
                Map.empty[String, String])
              .getField("c").as("uid_csv"))
          .groupBy(col("event_type"))
          .agg(sum(col("k_path")).as("sum_k_path"),
               sum(col("k_schema")).as("sum_k_schema"),
               sum(col("v_nested")).as("sum_v"),
               max(col("n_tags")).as("max_tags"),
               sum(col("uid_csv")).as("sum_uid"),
               count(lit(1)).as("n"))
          .orderBy(col("event_type"))
      },
      Some("""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS BIGINT) AS sum_k_path,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS BIGINT) AS sum_k_schema,
               CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT))
                 AS BIGINT) AS sum_v,
               CAST(2 AS INT) AS max_tags,
               CAST(SUM(user_id) AS BIGINT) AS sum_uid,
               CAST(count(*) AS BIGINT) AS n
        FROM events
        WHERE value IS NOT NULL AND event_type IS NOT NULL
          AND user_id IS NOT NULL
        GROUP BY event_type ORDER BY event_type""")),

    // ------------------------------------------------------------------
    // q165: incremental JOIN-view maintenance ([[graft.ext.Ivm]]) — the
    // join companion to q81's incremental aggregate: orders ⋈ lineitem
    // split by a late-arriving-data cut on EACH side (order date /
    // ship date), maintained as stored-view ∪ three delta legs
    // (ΔA⋈B, A⋈ΔB, ΔA⋈ΔB) with the DELTAS broadcast so the big
    // stored sides are scanned once and never shuffled. Every row is
    // provenance-tagged by leg; the oracle is the full recompute with
    // the leg re-derived from the dates — incremental must equal
    // recompute exactly, row for row.
    GraftQuery(
      "q165_delta_join_view",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val cut = lit("1999-01-01").cast("timestamp")
        val o = t.orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"))
        val l = t.lineitem.select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_shipdate"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("price_cents"))
        Ivm.maintainJoin(
            o.filter(col("o_orderdate") < cut),
            o.filter(col("o_orderdate") >= cut),
            l.filter(col("l_shipdate") < cut),
            l.filter(col("l_shipdate") >= cut),
            Seq("o_orderkey"))
          .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
                  col("price_cents"), col("leg"))
          .orderBy(col("o_orderkey"), col("l_linenumber"))
      },
      Some("""
        SELECT o.o_orderkey, l.l_linenumber, o.o_custkey,
               CAST(FLOOR(l.l_extendedprice * 100 + 0.5) AS BIGINT)
                 AS price_cents,
               CASE
                 WHEN o.o_orderdate < TIMESTAMP '1999-01-01'
                  AND l.l_shipdate  < TIMESTAMP '1999-01-01' THEN 'init'
                 WHEN o.o_orderdate >= TIMESTAMP '1999-01-01'
                  AND l.l_shipdate  < TIMESTAMP '1999-01-01' THEN 'delta_a'
                 WHEN o.o_orderdate < TIMESTAMP '1999-01-01'
                  AND l.l_shipdate  >= TIMESTAMP '1999-01-01' THEN 'delta_b'
                 ELSE 'delta_ab'
               END AS leg
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        ORDER BY o.o_orderkey, l.l_linenumber""")),

    // ------------------------------------------------------------------
    // q167: layout pruning-effectiveness A/B ([[graft.ext.Layout
    // .fileMinMax]] / [[graft.ext.Layout.probeHitStats]]) — q107 shows
    // WHAT z-spans look like; this measures what they BUY: cut the
    // table into 4096-row files under two layouts (single-key
    // clustering on pa vs Z-order on (pa, pb)), reconstruct each
    // file's parquet-style min/max footer stats, and charge a 32-point
    // probe workload on each key against them. scan_fraction is the
    // average fraction of files a point predicate must read — the
    // number a 100 TB OPTIMIZE decision is made on. The file cut uses
    // the decomposed-prefix-sum global rank (bucket offsets + local
    // windows) — no single-partition window at any width.
    GraftQuery(
      "q167_layout_pruning",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val li = t.lineitem.select(
          (col("l_partkey") % 256).as("pa"),
          (col("l_suppkey") % 256).as("pb"),
          col("l_orderkey"), col("l_linenumber"))
        val tie = Seq(col("l_orderkey"), col("l_linenumber"))
        val stats = Seq("pa" -> col("pa"), "pb" -> col("pb"))
        val byKey = Layout.fileMinMax(li, col("pa"), tie, col("pa"),
          4096L, stats)
        val liz = li.withColumn("zc", Layout.morton(col("pa"), col("pb"), 8))
        val byZ = Layout.fileMinMax(liz, col("zc"), tie,
          shiftrightunsigned(col("zc"), 8), 4096L, stats)
        val probes = spark.range(1, 33)
          .select(expr("CAST(id * 256 DIV 33 AS BIGINT)").as("probe"))
        def rows(files: org.apache.spark.sql.DataFrame, layout: String) =
          Layout.probeHitStatsMulti(files, probes, Seq("pa", "pb"), "probe")
            .select(lit(layout).as("layout"), col("probe_key"),
              col("n_files"), col("n_probes"), col("files_hit"),
              col("scan_fraction"))
        rows(byKey, "bykey").unionByName(rows(byZ, "zorder"))
          .orderBy(col("layout"), col("probe_key"))
      },
      Some("""
        WITH li AS (
          SELECT l_partkey % 256 AS pa, l_suppkey % 256 AS pb,
                 l_orderkey, l_linenumber,
                 CAST(list_sum(list_transform(range(0, 8), i ->
                     ((((l_partkey % 256) >> i) & 1) << (2*i))
                   + ((((l_suppkey % 256) >> i) & 1) << (2*i+1))))
                   AS BIGINT) AS z
          FROM lineitem),
        fk AS (SELECT pa, pb,
                 (ROW_NUMBER() OVER (ORDER BY pa, l_orderkey, l_linenumber)
                   - 1) // 4096 AS file_id FROM li),
        fz AS (SELECT pa, pb,
                 (ROW_NUMBER() OVER (ORDER BY z, l_orderkey, l_linenumber)
                   - 1) // 4096 AS file_id FROM li),
        sk AS (SELECT file_id, min(pa) AS min_pa, max(pa) AS max_pa,
                      min(pb) AS min_pb, max(pb) AS max_pb
               FROM fk GROUP BY 1),
        sz AS (SELECT file_id, min(pa) AS min_pa, max(pa) AS max_pa,
                      min(pb) AS min_pb, max(pb) AS max_pb
               FROM fz GROUP BY 1),
        pr AS (SELECT (i * 256) // 33 AS probe FROM range(1, 33) t(i)),
        hits AS (
          SELECT 'bykey' AS layout, 'pa' AS probe_key,
                 CAST(COUNT(DISTINCT file_id) AS BIGINT) AS n_files,
                 CAST(COUNT(DISTINCT probe) AS BIGINT) AS n_probes,
                 CAST(SUM(CASE WHEN probe BETWEEN min_pa AND max_pa
                   THEN 1 ELSE 0 END) AS BIGINT) AS files_hit
          FROM sk, pr
          UNION ALL
          SELECT 'bykey', 'pb',
                 CAST(COUNT(DISTINCT file_id) AS BIGINT),
                 CAST(COUNT(DISTINCT probe) AS BIGINT),
                 CAST(SUM(CASE WHEN probe BETWEEN min_pb AND max_pb
                   THEN 1 ELSE 0 END) AS BIGINT)
          FROM sk, pr
          UNION ALL
          SELECT 'zorder', 'pa',
                 CAST(COUNT(DISTINCT file_id) AS BIGINT),
                 CAST(COUNT(DISTINCT probe) AS BIGINT),
                 CAST(SUM(CASE WHEN probe BETWEEN min_pa AND max_pa
                   THEN 1 ELSE 0 END) AS BIGINT)
          FROM sz, pr
          UNION ALL
          SELECT 'zorder', 'pb',
                 CAST(COUNT(DISTINCT file_id) AS BIGINT),
                 CAST(COUNT(DISTINCT probe) AS BIGINT),
                 CAST(SUM(CASE WHEN probe BETWEEN min_pb AND max_pb
                   THEN 1 ELSE 0 END) AS BIGINT)
          FROM sz, pr)
        SELECT layout, probe_key, n_files, n_probes, files_hit,
               CAST(files_hit AS DOUBLE)
                 / CAST(n_files * n_probes AS DOUBLE) AS scan_fraction
        FROM hits
        ORDER BY layout, probe_key""")),

    // ------------------------------------------------------------------
    // q175: JOIN-view maintenance under RETRACTIONS ([[graft.ext.Ivm
    // .deltaJoinSigned]]) — the general Blakeley rule that q165's
    // insert-only form scopes out: deltas carry a signed multiplicity
    // (+1 insert, −1 retract), updates are retract+insert pairs, and
    // the ΔA⋈ΔB leg MULTIPLIES multiplicities so a row deleted from
    // both sides nets to exactly zero (1−1−1+1). The maintained
    // stream is append-only (the 100 TB write path); [[graft.ext.Ivm
    // .consolidate]] nets it at compaction time. Batch mutation mix:
    // every 97th stored order retracted (even-custkey ones reinserted
    // with a relocated custkey — an update), every 101st-key stored
    // lineitem retracted, plus the q165 late-arrival inserts — and the
    // consolidated view must equal the full recompute over the mutated
    // inputs row for row, all surviving multiplicities exactly 1.
    GraftQuery(
      "q175_delta_join_retract",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val cut = lit("1999-01-01").cast("timestamp")
        val o = t.orders.select(col("o_orderkey"), col("o_custkey"),
          col("o_orderdate"))
        val l = t.lineitem.select(col("l_orderkey").as("o_orderkey"),
          col("l_linenumber"), col("l_shipdate"),
          floor(col("l_extendedprice") * 100 + 0.5).cast("long")
            .as("price_cents"))
        val aOld = o.filter(col("o_orderdate") < cut)
        val bOld = l.filter(col("l_shipdate") < cut)
        val aRetract = aOld.filter(col("o_orderkey") % 97 === 0)
          .withColumn("mult", lit(-1L))
        val aUpdate = aOld
          .filter(col("o_orderkey") % 97 === 0 && col("o_custkey") % 2 === 0)
          .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
          .withColumn("mult", lit(1L))
        val aIns = o.filter(col("o_orderdate") >= cut)
          .withColumn("mult", lit(1L))
        val bRetract = bOld.filter(col("o_orderkey") % 101 === 0)
          .withColumn("mult", lit(-1L))
        val bIns = l.filter(col("l_shipdate") >= cut)
          .withColumn("mult", lit(1L))
        Ivm.consolidate(Ivm.maintainJoinSigned(
            aOld, aIns.unionByName(aRetract).unionByName(aUpdate),
            bOld, bIns.unionByName(bRetract), Seq("o_orderkey")))
          .select(col("o_orderkey"), col("l_linenumber"), col("o_custkey"),
                  col("price_cents"), col("mult"))
          .orderBy(col("o_orderkey"), col("l_linenumber"))
      },
      Some("""
        WITH o_new AS (
          SELECT o_orderkey,
                 CASE WHEN o_orderdate < TIMESTAMP '1999-01-01'
                       AND o_orderkey % 97 = 0
                      THEN o_custkey + 1000000 ELSE o_custkey END
                   AS o_custkey
          FROM orders
          WHERE NOT (o_orderdate < TIMESTAMP '1999-01-01'
                     AND o_orderkey % 97 = 0 AND o_custkey % 2 = 1)),
        l_new AS (
          SELECT l_orderkey AS o_orderkey, l_linenumber,
                 CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                   AS price_cents
          FROM lineitem
          WHERE NOT (l_shipdate < TIMESTAMP '1999-01-01'
                     AND l_orderkey % 101 = 0))
        SELECT o.o_orderkey, l.l_linenumber, o.o_custkey, l.price_cents,
               CAST(1 AS BIGINT) AS mult
        FROM o_new o JOIN l_new l USING (o_orderkey)
        ORDER BY o.o_orderkey, l.l_linenumber""")),

    // ------------------------------------------------------------------
    // q177: AGGREGATE-view maintenance under retractions ([[graft.ext
    // .Ivm.signedAggPartial]]/[[graft.ext.Ivm.mergeAggPartials]]) — the
    // rollup companion to q175's join view, and the retraction form of
    // q81's insert-only partial merge: delta rows carry ±1 mult, the
    // delta partial weights count by Σmult and sum by Σx·mult, and the
    // stored per-(day, type) partials fold with it in ONE aggregation
    // over stored ∪ delta-partial — the stored state is scanned once,
    // never joined, and untouched groups stream straight through.
    // Mutation mix: every 89th stored event retracted (even-user ones
    // reinserted with value+10.00 — an update), plus the q81 late
    // arrivals; groups whose net count reaches zero vanish. Oracle:
    // full recompute over the mutated event set.
    GraftQuery(
      "q177_delta_agg_retract",
      (spark, dir) => {
        val t = new Tables(spark, dir)
        val cut = lit("2024-01-25 12:00:00").cast("timestamp")
        def rows(df: org.apache.spark.sql.DataFrame) = df.select(
          to_date(col("ts")).as("day"), col("event_type"),
          col("value").cast("decimal(12,2)").as("x"),
          col("event_id"), col("user_id"))
        val oldRows = rows(t.events.filter(col("ts") < cut))
        val stored = Ivm.aggPartial(oldRows,
          Seq(col("day"), col("event_type")), col("x"))
        val retract = oldRows.filter(col("event_id") % 89 === 0)
          .withColumn("mult", lit(-1L))
        val update = oldRows
          .filter(col("event_id") % 89 === 0 && col("user_id") % 2 === 0)
          .withColumn("x", col("x") + lit(new java.math.BigDecimal("10.00")))
          .withColumn("mult", lit(1L))
        val ins = rows(t.events.filter(col("ts") >= cut))
          .withColumn("mult", lit(1L))
        val deltaP = Ivm.signedAggPartial(
          ins.unionByName(retract).unionByName(update),
          Seq(col("day"), col("event_type")), col("x"), col("mult"))
        Ivm.mergeAggPartials(stored, deltaP, Seq("day", "event_type"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("event_type"), col("pn").as("n_events"),
            col("ps").cast("double").as("sum_value"))
          .orderBy(col("day"), col("event_type"))
      },
      Some("""
        WITH mut AS (
          SELECT CAST(ts AS DATE) AS day, event_type,
                 CASE WHEN ts < TIMESTAMP '2024-01-25 12:00:00'
                       AND event_id % 89 = 0
                      THEN CAST("value" AS DECIMAL(12,2)) + 10.00
                      ELSE CAST("value" AS DECIMAL(12,2)) END AS x
          FROM events
          WHERE NOT (ts < TIMESTAMP '2024-01-25 12:00:00'
                     AND event_id % 89 = 0
                     AND (user_id IS NULL OR user_id % 2 = 1)))
        SELECT STRFTIME(day, '%Y-%m-%d') AS day, event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(x) AS DOUBLE) AS sum_value
        FROM mut GROUP BY 1, 2
        ORDER BY day, event_type""")),

    // ------------------------------------------------------------------
    // q217: Unicode NFC normalization + invisible-character cleaning
    // ([[graft.functions.NfcNormalize]]) — the canonicalization step
    // before any hash/dedup/tokenize: composed vs decomposed accents
    // (é vs e+U+0301), singleton compositions (OHM SIGN → Ω),
    // zero-width characters (ZWSP/ZWJ/BOM), control characters, and
    // whitespace runs. Spark ships no normalization function, so the
    // NFC step is a new native codegen'd expression over the JDK
    // normalizer; DuckDB replays it with its own nfc_normalize —
    // Unicode's normalization stability policy is what makes the two
    // engines' answers comparable. The dirty corpus is synthesized per
    // doc from codepoint formulas (Scala side builds the literal
    // string; the oracle rebuilds it with chr()), md5-gated after
    // cleaning. Pure map-side expression work: one scan, zero
    // shuffles before the presentation sort.
    GraftQuery(
      "q217_text_normalize",
      (spark, dir) => {
        import graft.functions.NfcNormalize.nfc_normalize
        val t = new Tables(spark, dir)
        import spark.implicits._
        val dirty = t.documents.select(col("doc_id")).as[Long]
          .mapPartitions { it =>
            it.map { m =>
              val s = "Doc " + m + " caf" +
                (if (m % 2 == 0) "e\u0301" else "\u00e9") +
                (if (m % 3 == 0) "\u2126" else "") +
                (if (m % 4 == 0) "\u200Bx\uFEFF" else "") +
                (if (m % 5 == 0) "\u0007" else "") +
                " end" + ("  " * (1 + (m % 3)).toInt) + "tail"
              (m, s)
            }
          }.toDF("doc_id", "dirty")
        val invis = "[\\x{0000}-\\x{0008}\\x{000B}-\\x{001F}\\x{007F}" +
          "\\x{200B}-\\x{200D}\\x{FEFF}]"
        dirty
          .withColumn("nfc", nfc_normalize(col("dirty")))
          .withColumn("stripped", regexp_replace(col("nfc"), invis, ""))
          .withColumn("clean",
            trim(regexp_replace(col("stripped"), " +", " ")))
          .select(col("doc_id"),
            (col("nfc") =!= col("dirty")).as("changed_nfc"),
            length(col("nfc")).as("nfc_len"),
            (length(col("nfc")) - length(col("stripped")))
              .as("n_invisible"),
            length(col("clean")).as("clean_len"),
            md5(col("clean")).as("clean_md5"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH dirty AS (
          SELECT doc_id,
                 'Doc ' || CAST(doc_id AS VARCHAR) || ' caf'
                 || CASE WHEN doc_id % 2 = 0 THEN 'e' || chr(769)
                         ELSE chr(233) END
                 || CASE WHEN doc_id % 3 = 0 THEN chr(8486) ELSE '' END
                 || CASE WHEN doc_id % 4 = 0
                         THEN chr(8203) || 'x' || chr(65279) ELSE '' END
                 || CASE WHEN doc_id % 5 = 0 THEN chr(7) ELSE '' END
                 || ' end' || repeat('  ', CAST(1 + doc_id % 3 AS INT))
                 || 'tail' AS s
          FROM documents),
        n AS (
          SELECT doc_id, s, nfc_normalize(s) AS nfc FROM dirty),
        st AS (
          SELECT *, regexp_replace(nfc,
            '[\x{0000}-\x{0008}\x{000B}-\x{001F}\x{007F}\x{200B}-\x{200D}\x{FEFF}]',
            '', 'g') AS stripped
          FROM n),
        cl AS (
          SELECT *, trim(regexp_replace(stripped, ' +', ' ', 'g')) AS clean
          FROM st)
        SELECT doc_id,
               nfc <> s AS changed_nfc,
               CAST(length(nfc) AS INT) AS nfc_len,
               CAST(length(nfc) - length(stripped) AS INT) AS n_invisible,
               CAST(length(clean) AS INT) AS clean_len,
               md5(clean) AS clean_md5
        FROM cl
        ORDER BY doc_id"""))
  )
}
