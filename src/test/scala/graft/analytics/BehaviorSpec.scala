package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.{SparkEntry, TestSpark}

/** Hand-computed pins for the behavior-analytics queries (q151–q155) on
  * fixtures small enough to trace on paper — the oracle gate proves
  * Spark≡DuckDB on the shared corpus; this proves both match the
  * SEMANTICS (deadline windows, duration weighting, the OLS closed
  * form, BFS levels, gap magnitudes) a human expects.
  */
class BehaviorSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Fixture tables, written afresh for each test:
    * events — u1: view 01-01 10:00 → click +30m → purchase +1h →
    *   purchase 01-09 (converts every funnel stage inside its deadline);
    *   u2: view 01-02 09:00 → click +2h (MISSES the 1-hour deadline)
    *   → purchase 01-10.
    * lineitem/part — a 4-node path graph 1–2–3–4 (orders {1,2} {2,3}
    *   {3,4}) plus isolated node 5; part 199·0=0 absent, so seed via
    *   p_partkey % 199: only part 199 seeds... (see test).
    * orders/customer/nation — one nation, y = 200·x cents over 3 days:
    *   slope exactly 2.00 currency units/day.
    */
  private def fixture(): String = {
    val d = tempDir("behavior_fx").toString
    val events = Seq(
      (0L, "2024-01-01 10:00:00", 1L, "view", 10.0),
      (1L, "2024-01-01 10:30:00", 1L, "click", 20.0),
      (2L, "2024-01-01 11:30:00", 1L, "purchase", 40.0),
      (3L, "2024-01-09 10:00:00", 1L, "purchase", 0.0),
      (4L, "2024-01-02 09:00:00", 2L, "view", 1.0),
      (5L, "2024-01-02 11:00:00", 2L, "click", 3.0),
      (6L, "2024-01-10 09:00:05", 2L, "purchase", 5.0))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value")
      .select(col("event_id"), to_timestamp(col("ts_s")).as("ts"),
        col("user_id"), col("event_type"), col("value"))
    events.coalesce(1).write.mode("overwrite").parquet(s"$d/events.parquet")
    // path graph via co-purchase: orders {199,2}, {2,3}, {3,4}; node 5
    // only ever alone in an order → no edges, unreachable
    Seq((10L, 199L), (10L, 2L), (11L, 2L), (11L, 3L), (12L, 3L),
        (12L, 4L), (13L, 5L))
      .toDF("l_orderkey", "l_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/lineitem.parquet")
    Seq(199L, 2L, 3L, 4L, 5L).toDF("p_partkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/part.parquet")
    // daily revenue 2024-01-0x: y = 2.00·x currency units on days 1..3
    Seq((1L, 100L, "2024-01-02", 4.0), (2L, 100L, "2024-01-03", 2.0),
        (3L, 100L, "2024-01-03", 2.0), (4L, 100L, "2024-01-04", 6.0))
      .toDF("o_orderkey", "o_custkey", "d", "o_totalprice")
      .select(col("o_orderkey"), col("o_custkey"),
        to_timestamp(col("d")).as("o_orderdate"), col("o_totalprice"))
      .coalesce(1).write.mode("overwrite").parquet(s"$d/orders.parquet")
    Seq((100L, 7)).toDF("c_custkey", "c_nationkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/customer.parquet")
    Seq((7, "NATION_7")).toDF("n_nationkey", "n_name").coalesce(1)
      .write.mode("overwrite").parquet(s"$d/nation.parquet")
    d
  }

  private def run(name: String) =
    SparkEntry.queries(name)(spark, fixture())

  test("q151 deadline funnel: deadline windows gate each stage") {
    val rows = run("q151_deadline_funnel").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    // u2's click lands 2h after its first view — outside the 1h deadline
    assert(rows == Seq((1, "view", 2L), (2, "click", 1L),
      (3, "purchase", 1L)))
  }

  test("q152 twap: duration-weighted mean, last observation unweighted") {
    val rows = run("q152_twap").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        BigDecimal(r.getDouble(2)))).toSeq
    // u1: 10.0 for 1800s, 20.0 for 3600s, 40.0 for 685800s of 691200s
    //   → (10·1800 + 20·3600 + 40·685800)/691200 = 39.8177083…
    // u2: 1.0 for 7200s, 3.0 for 684005s of 691205s → 2.9791666…
    assert(rows == Seq((1L, 691200L, BigDecimal(39.8177)),
      (2L, 691205L, BigDecimal(2.9792))))
  }

  test("q153 ols trend: exact slope on a synthetic linear series") {
    val rows = run("q153_ols_trend").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // days x = 1, 2, 3 with daily revenue 4.00, 4.00, 6.00 → slope
    // = (3·(400+800+1800) − 6·1400) / (3·14 − 36) / 100 = 1.00
    assert(rows == Seq(("NATION_7", 3L, 1.0)))
  }

  test("q154 bfs: path-graph levels, unreachable node absent") {
    val rows = run("q154_bfs_hops").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    // seed 199; path 199–2–3–4; 5 unreachable
    assert(rows == Seq((2L, 1), (3L, 2), (4L, 3), (199L, 0)))
  }

  test("q155 interarrival: digit-count magnitudes over per-user gaps") {
    val rows = run("q155_interarrival_histogram").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    // gaps: u1 = 1800, 3600, 685800 (7d22h30m) s;
    //       u2 = 7200, 684005 (7d22h5s) s
    assert(rows == Seq((4, 3L, 1800L, 7200L), (6, 2L, 684005L, 685800L)))
  }
}
