package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.ext.Affinity
import graft.streaming.StreamingAffinity.{ItemEvent, PairDelta}

/** Pins for [[StreamingAffinity]]: cross-batch pair accumulation,
  * duplicate suppression, the truncation guard, TTL session closure,
  * and EXACT pair-count parity with the batch operator on the real
  * corpus (every lineitem basket is far under the cap, so the batch
  * whole-drop guard and the stream truncation guard coincide).
  */
class StreamingAffinitySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)


  test("cross-batch pairing, duplicate suppression, TTL closes sessions") {
    val source = MemoryStream[ItemEvent](spark)
    val out = StreamingAffinity.pairDeltas(source.toDS(),
      maxBasket = 10, watermarkDelay = "10 minutes", ttlMs = 3600 * 1000L)
    val q = out.writeStream.format("memory")
      .queryName("affinity_out").outputMode("append").start()

    source.addData(
      ItemEvent(1L, "A", ts("2024-03-05 07:00:00")),
      ItemEvent(1L, "B", ts("2024-03-05 07:00:30")))
    q.processAllAvailable()
    // later batch: C pairs against BOTH residents from state; the
    // duplicate B emits nothing
    source.addData(
      ItemEvent(1L, "C", ts("2024-03-05 07:01:00")),
      ItemEvent(1L, "B", ts("2024-03-05 07:01:30")))
    q.processAllAvailable()

    val pairs = spark.table("affinity_out").as[PairDelta].collect()
      .map(p => (p.antecedent, p.consequent)).toSeq
    assert(pairs.sorted == Seq(("A", "B"), ("A", "C"), ("B", "A"),
      ("B", "C"), ("C", "A"), ("C", "B")).sorted)

    // push the watermark far past the TTL, then revisit basket 1: the
    // closed session must not pair D against the expired {A, B, C}
    source.addData(ItemEvent(99L, "w", ts("2024-03-05 12:00:00")))
    q.processAllAvailable()
    source.addData(ItemEvent(1L, "D", ts("2024-03-05 12:01:00")))
    q.processAllAvailable()
    q.stop()
    val d = spark.table("affinity_out").as[PairDelta].collect()
      .filter(p => p.antecedent == "D" || p.consequent == "D")
    assert(d.isEmpty, s"expired session paired: ${d.toSeq}")
  }

  test("truncation guard: arrivals beyond maxBasket emit nothing") {
    val source = MemoryStream[ItemEvent](spark)
    val out = StreamingAffinity.pairDeltas(source.toDS(), maxBasket = 2)
    val q = out.writeStream.format("memory")
      .queryName("affinity_cap").outputMode("append").start()
    source.addData(
      ItemEvent(5L, "A", ts("2024-03-05 07:00:00")),
      ItemEvent(5L, "B", ts("2024-03-05 07:00:10")),
      ItemEvent(5L, "C", ts("2024-03-05 07:00:20")))
    q.processAllAvailable()
    q.stop()
    val pairs = spark.table("affinity_cap").as[PairDelta].collect()
    assert(pairs.map(p => (p.antecedent, p.consequent)).toSet ==
      Set(("B", "A"), ("A", "B")))
  }

  test("pair counts equal the batch operator's n_both on the real corpus") {
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(sf).isDirectory, "testdata not present")
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val part = spark.read.parquet(s"$sf/part.parquet")
    val baskets = li.join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("b"), col("p_brand").as("i"))
    val expected = Affinity.associationRules(baskets, col("b"), col("i"),
        minSupportCount = 1, maxBasket = 100)
      .select(col("antecedent"), col("consequent"), col("n_both"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap

    // replay the same rows in three POSITIONAL micro-batches — many
    // baskets straddle the batch boundary, so this exercises the
    // cross-batch state path on the real corpus, and the final counts
    // must still equal the batch operator's (order-independence)
    val events = baskets.collect().map(r =>
      ItemEvent(r.getLong(0), r.getString(1),
        ts("2024-03-05 07:00:00"))).toSeq
    val source = MemoryStream[ItemEvent](spark)
    val out = StreamingAffinity.pairDeltas(source.toDS(), maxBasket = 100)
    val q = out.writeStream.format("memory")
      .queryName("affinity_parity").outputMode("append").start()
    events.grouped(math.max(1, events.size / 3 + 1)).foreach { g =>
      source.addData(g: _*); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("affinity_parity").as[PairDelta]
      .groupBy(col("antecedent"), col("consequent"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(got == expected,
      s"streaming pair counts diverge: ${got.size} vs ${expected.size}")
  }
}
