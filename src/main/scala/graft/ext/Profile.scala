package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Data-quality profiling and constraint auditing — the admission gate a
  * training-data pipeline runs before any corpus enters the mixture
  * (the reference keeps this concern in its monitoring rules,
  * `k8s/monitoring/alerts.yaml:24-49`; here it is a first-class batch
  * operator the same engine can run on every ingest day).
  *
  * Two surfaces:
  *  - [[profile]]: per-column metrics (rows, nulls, distincts,
  *    completeness, uniqueness, min/max/avg over a type-normalized
  *    numeric proxy) in long form — the "what does this table look
  *    like" pass, Deequ/TFDV-shaped but pure DataFrame.
  *  - [[audit]]: named constraint checks (row predicates, key
  *    uniqueness, referential integrity) each reduced to a violation
  *    COUNT — the "should this table be admitted" pass.
  *
  * Scale shape: `profile` is ONE aggregation job; the multi-column
  * COUNT(DISTINCT) lowers to Catalyst's Expand — one input replica per
  * distinct-counted column — so cost is (#cols × scan) map-side with a
  * single final exchange, no driver state, no per-column jobs. For
  * `audit`, row checks
  * fold into one conditional-sum pass over the fact table; uniqueness
  * is one hash aggregate on the key; each FK check is an anti join that
  * AQE broadcasts when the dimension is small (the usual case) and
  * shuffles otherwise. Nothing here collects data to the driver.
  */
object Profile {

  /** House quantization (floor(x·s + 0.5)/s): pure double ops, so two
    * engines computing the same value emit the same bits — unlike
    * round(), whose decimal-conversion path is implementation-defined.
    */
  private def quant(c: Column, s: Double): Column =
    floor(c * lit(s) + lit(0.5)) / lit(s)

  /** Numeric proxy used for min/max/avg so one metric schema covers
    * heterogeneous columns: numerics cast to double, timestamps to
    * epoch seconds, strings to their length, booleans to 0/1. (DuckDB
    * twins: the value itself / epoch(ts) / length(s) / CAST(b AS INT).)
    */
  private def numericProxy(dt: DataType, c: Column): Column = dt match {
    case _: NumericType => c.cast("double")
    case _: TimestampType => unix_timestamp(c).cast("double")
    // parquet timestamps without a UTC annotation load as TIMESTAMP_NTZ
    // in Spark 4 — same epoch proxy, routed through a TZ-typed cast
    // (session TZ is UTC, so the reinterpretation is the identity)
    case _: TimestampNTZType =>
      unix_timestamp(c.cast("timestamp")).cast("double")
    case _: DateType => unix_timestamp(c.cast("timestamp")).cast("double")
    case _: BooleanType => c.cast("int").cast("double")
    case _ => length(c).cast("double")
  }

  /** Long-form profile of `cols`: one output row per column with
    * (col_name, n_rows, n_nonnull, n_distinct, completeness,
    * uniqueness, min_v, max_v, avg_v).
    *
    * completeness = n_nonnull / n_rows; uniqueness = n_distinct /
    * n_nonnull (1.0 ⇔ the column is a candidate key among present
    * values); min/max/avg are over the [[numericProxy]]. `avgScale`
    * rounds avg_v (the only fold-order-sensitive output — min/max and
    * the ratios are exact or single-division) so the result is stable
    * across partitionings and engines; pick it per table so the
    * rounding step dwarfs ~1e-11 relative float error at the column's
    * magnitude.
    */
  def profile(df: DataFrame, cols: Seq[String],
              avgScale: Int = 2): DataFrame = {
    require(cols.nonEmpty, "profile of zero columns")
    val fields = cols.map(c => c -> df.schema(c).dataType)
    val aggs = fields.flatMap { case (c, dt) =>
      val proxy = numericProxy(dt, col(c))
      Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(proxy).as(s"__min_$c"),
        max(proxy).as(s"__max_$c"),
        quant(avg(proxy), math.pow(10, avgScale)).as(s"__avg_$c"))
    }
    val wide = df.agg(count(lit(1L)).as("__n"), aggs: _*)
    // unpivot the single wide row: stack is plan-time constant-folded
    // into one Generate — still zero extra exchanges
    val stackArgs = fields.map { case (c, _) =>
      s"'$c', __n, __nn_$c, CAST(__nd_$c AS BIGINT), __min_$c, __max_$c, __avg_$c"
    }.mkString(", ")
    wide.selectExpr(
      s"stack(${fields.size}, $stackArgs) AS " +
        "(col_name, n_rows, n_nonnull, n_distinct, min_v, max_v, avg_v)")
      .select(col("col_name"), col("n_rows"), col("n_nonnull"),
        col("n_distinct"),
        quant(col("n_nonnull").cast("double") / col("n_rows"), 1e6)
          .as("completeness"),
        quant(col("n_distinct").cast("double") / col("n_nonnull"), 1e6)
          .as("uniqueness"),
        col("min_v"), col("max_v"), col("avg_v"))
  }

  /** One named row-level constraint: `violated` flags a BAD row. */
  final case class RowCheck(name: String, violated: Column)

  /** Constraint audit in long form: one row per check with
    * (check_name, violations, pass). Row checks share a single
    * conditional-aggregation pass; `uniqueKey` adds a duplicate-count
    * check (rows minus distinct key tuples); each entry of `foreignKeys`
    * adds an orphan count via LEFT ANTI join (NOT EXISTS semantics:
    * null FKs are not orphans — filtered before the join, matching the
    * SQL twin's `fk IS NOT NULL AND NOT EXISTS`).
    */
  def audit(df: DataFrame, rowChecks: Seq[RowCheck],
            uniqueKey: Option[(String, Seq[String])] = None,
            foreignKeys: Seq[(String, Seq[String], DataFrame, Seq[String])]
              = Nil): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val rowPart: Option[DataFrame] =
      if (rowChecks.isEmpty) None
      else Some {
        val aggs = rowChecks.map(ch =>
          sum(when(ch.violated, 1L).otherwise(0L)).as(ch.name))
        val wide = df.agg(aggs.head, aggs.tail: _*)
        val stackArgs =
          rowChecks.map(ch => s"'${ch.name}', ${ch.name}").mkString(", ")
        wide.selectExpr(
          s"stack(${rowChecks.size}, $stackArgs) AS (check_name, violations)")
      }
    val uniqPart: Option[DataFrame] = uniqueKey.map { case (name, keys) =>
      df.agg((count(lit(1L)) -
        countDistinct(col(keys.head), keys.tail.map(col): _*))
        .as("violations"))
        .select(lit(name).as("check_name"), col("violations"))
    }
    val fkParts: Seq[DataFrame] = foreignKeys.map {
      case (name, fkCols, dim, pkCols) =>
        val probe = df.filter(fkCols.map(col(_).isNotNull).reduce(_ && _))
        val cond = fkCols.zip(pkCols)
          .map { case (f, p) => probe(f) === dim(p) }.reduce(_ && _)
        probe.join(dim, cond, "left_anti")
          .agg(count(lit(1L)).as("violations"))
          .select(lit(name).as("check_name"), col("violations"))
    }
    val parts = rowPart.toSeq ++ uniqPart.toSeq ++ fkParts
    require(parts.nonEmpty, "audit with zero checks")
    parts.reduce(_ unionByName _)
      .withColumn("pass", col("violations") === 0L)
  }

  /** Right-to-erasure propagation audit (GDPR Art. 17 operationalized):
    * given the set of subject ids whose data was ordered deleted, count
    * the rows STILL referencing each subject in every downstream table
    * — the check a deletion pipeline runs after the purge job, before
    * certifying completion. Each audited table contributes one summary
    * row; `clean` is the certification bit.
    *
    * Scale shape: the deletion set is the small side by construction
    * (an erasure queue, not a corpus) — it aggregates to DISTINCT ids
    * and BROADCASTS; each audited table streams through a map-side
    * semi-join probe and a count. The tables are never shuffled and
    * never joined to each other. The [[kAnonymityAudit]] sibling:
    * that one gates what may be released, this one certifies what was
    * removed.
    *
    * Output: one row per audited table — (table_name, n_refs,
    * n_subjects_referenced, clean), `clean` = zero residual rows.
    */
  def erasureAudit(deleted: DataFrame, deletedId: Column,
                   refs: Seq[(String, DataFrame, Column)]): DataFrame = {
    require(refs.nonEmpty, "erasure audit with zero tables")
    // unhinted: an erasure batch is contractually small, but the hint
    // would remove the fallback if a backfill audit ever passes the
    // full historical delete log — AQE broadcasts the normal case
    val ids = deleted.select(deletedId.as("__del_id")).distinct()
    refs.map { case (name, df, fk) =>
      df.select(fk.as("__del_id"))
        .join(ids, "__del_id")
        .agg(count(lit(1)).as("n_refs"),
          count_distinct(col("__del_id")).as("n_subjects_referenced"))
        .select(lit(name).as("table_name"), col("n_refs"),
          col("n_subjects_referenced"),
          (col("n_refs") === 0L).as("clean"))
    }.reduce(_ unionByName _)
  }

  /** k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    * 2007) — the privacy gate a dataset passes before its quasi-
    * identifier slice is released or logged: every equivalence class of
    * the quasi-identifier tuple must contain at least `kMin` rows
    * (re-identification resistance) AND at least `lMin` distinct values
    * of the sensitive column (attribute-disclosure resistance). The
    * governance sibling of [[audit]]: that one checks value validity,
    * this one checks disclosure risk.
    *
    * ONE aggregation keyed by the quasi-identifier tuple computes both
    * the class size and the exact distinct-sensitive count (map-side
    * partials; the shuffle carries one row per equivalence class — at
    * 100 TB the class count, not the row count, prices the exchange).
    * Quasi-identifier columns should be pre-generalized by the caller
    * (bucketed numerics, truncated codes) — generalization choice is
    * policy, not engine.
    *
    * Output: one row per equivalence class — the quasi columns,
    * `class_size`, `l_distinct`, `k_ok`, `l_ok` — plus the audit
    * verdict columns a release gate filters on.
    */
  def kAnonymityAudit(df: DataFrame, quasi: Seq[(String, Column)],
                      sensitive: Column, kMin: Long, lMin: Long)
      : DataFrame = {
    require(quasi.nonEmpty && kMin >= 1 && lMin >= 1,
      s"bad anonymity params: quasi=${quasi.size} k=$kMin l=$lMin")
    df.groupBy(quasi.map { case (n, c) => c.as(n) }: _*)
      .agg(count(lit(1)).as("class_size"),
        count_distinct(sensitive).as("l_distinct"))
      .withColumn("k_ok", col("class_size") >= kMin)
      .withColumn("l_ok", col("l_distinct") >= lMin)
  }
}
