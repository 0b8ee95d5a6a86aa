package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's monitoring layer (SURVEY.md §2C, k8s/monitoring/
  * alerts.yaml) as TRUE streaming aggregations — continuous versions of
  * the batch queries q14/q16. Each takes a streaming DataFrame and
  * returns a windowed aggregate ready for `writeStream`; the batch twins
  * are what the oracle hash-checks, these are what runs against the live
  * pipeline (same expressions, streaming-grade: watermarked and
  * incremental).
  */
object Monitoring {

  /** Count of rows whose boolean `failed` column is true (the one
    * failure-count definition shared by every monitoring aggregate). */
  private def failedCount = sum(when(col("failed"), 1L).otherwise(0L))

  /** Failure ratio over sliding windows (alerts.yaml:28-38: alert when
    * > 10% over 5 m). `events` needs (ts TIMESTAMP, failed BOOLEAN).
    */
  def errorRatio(events: DataFrame, window_ : String = "5 minutes",
                 slide: String = "30 seconds",
                 watermark: String = "1 minute"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide))
      .agg(count(lit(1)).as("n_total"),
           failedCount.as("n_failed"))
      .select(col("window.start").as("window_start"),
              col("n_total"), col("n_failed"),
              (col("n_failed").cast("double") / col("n_total"))
                .as("error_ratio"))

  /** Attach in-flight counters to a STREAMING DataFrame with
    * `Dataset.observe` — accumulator-backed metrics evaluated inside the
    * existing plan, surfaced per micro-batch in
    * StreamingQueryProgress.observedMetrics (captured by
    * [[graft.sinks.PipelineListener]]). The K5 counter surface without a
    * separate aggregation job. A `failed_rows` counter is added only when
    * the frame has a boolean `failed` column. Batch plans need a
    * QueryExecutionListener (or the `Observation` API) to read the values
    * — this helper is for the streaming path. Observation names must be
    * unique within one query: pass a distinct `name` per call site.
    */
  def withPipelineObservations(df: DataFrame, name: String = "pipeline"): DataFrame = {
    val counters = Seq(count(lit(1)).as("rows")) ++
      (if (df.columns.contains("failed")) Seq(failedCount.as("failed_rows"))
       else Nil)
    df.observe(name, counters.head, counters.tail: _*)
  }

  /** The `for:` clause of the reference's alert rules
    * (k8s/monitoring/alerts.yaml:40-49: "depth > 10 FOR 10 m") as a
    * batch operator: windowed-aggregate breach runs that held for at
    * least `holdWindows` CONSECUTIVE windows. Gaps-and-islands on the
    * integer window index — `widx - row_number()` is constant exactly
    * while consecutive windows all breach, and an ABSENT window breaks
    * the run (no data is not evidence of breach). Returns one row per
    * qualifying island: (key, held_from, held_to, n_windows, peak).
    *
    * Scale shape: one shuffle for the windowed aggregate (map-side
    * partials), one more for the per-(key, breach) window ranking —
    * both keyed on the alert key, whose cardinality is small by
    * construction (it is an alert dimension), plus windows are already
    * 3-4 orders of magnitude fewer than events. The island grouping
    * never touches raw events.
    *
    * `events` needs (key STRING, ts TIMESTAMP, metric DOUBLE);
    * breach = windowed avg(metric) >= threshold. The average runs in
    * integer-CENT space (exact BIGINT sum, then one division) — a
    * float avg() is fold-order-dependent, and the regenerated round-8
    * corpus actually landed a window's peak exactly on a .00005
    * rounding boundary, flipping round(.,4) between engines. Cent
    * granularity is exact for 2-decimal metrics and a documented
    * 0.005-max quantization otherwise.
    */
  def heldFor(events: DataFrame, windowSeconds: Long, threshold: Double,
              holdWindows: Int): DataFrame = {
    require(windowSeconds > 0 && holdWindows >= 1)
    import org.apache.spark.sql.expressions.Window
    val w = events
      .groupBy(col("key"),
        floor(unix_timestamp(col("ts")) / windowSeconds).as("widx"))
      .agg((sum(floor(col("metric") * 100 + lit(0.5)).cast("long"))
        .cast("double") / count(lit(1)) / 100.0).as("avg_metric"))
      .withColumn("breach", col("avg_metric") >= lit(threshold))
    val run = Window.partitionBy(col("key"), col("breach"))
      .orderBy(col("widx"))
    w.withColumn("grp", col("widx") - row_number().over(run))
      .where(col("breach"))
      .groupBy(col("key"), col("grp"))
      .agg(
        timestamp_seconds(min(col("widx")) * windowSeconds)
          .as("held_from"),
        timestamp_seconds((max(col("widx")) + 1) * windowSeconds)
          .as("held_to"),
        count(lit(1)).as("n_windows"),
        // floor(x·10⁴+0.5)/10⁴ instead of round(x,4): the engines'
        // round() disagree at .00005 ties (Spark rounds the exact
        // decimal expansion of the double, DuckDB scales in floating
        // point first); the explicit floor form is the same float ops
        // in both (q60/q141 discipline)
        (floor(max(col("avg_metric")) * 10000 + lit(0.5)) / 10000)
          .as("peak"))
      .where(col("n_windows") >= holdWindows)
      .drop("grp")
  }

  /** DLQ depth per window (alerts.yaml:40-49: depth > 10 for 10 m). */
  def dlqDepth(dlq: DataFrame, window_ : String = "10 minutes",
               watermark: String = "1 minute"): DataFrame =
    dlq.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("dlq_messages"))
      .select(col("window.start").as("window_start"), col("dlq_messages"))
}
