package graft

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming THROUGHPUT/LATENCY census — the measurement the batch
  * family already has (Bench) and the state family got in round 9
  * (StateAudit measures state SIZE): each headline stateful operator is
  * driven with a generated multi-batch workload through a fresh RocksDB
  * checkpoint, and the run records rows/sec plus per-micro-batch wall
  * latency into `STREAMBENCH.md` + `streambench.json` — the numbers a
  * capacity plan is actually made from. Protocol: one UNTIMED warm-up
  * batch (query start + state-store open are one-time costs a
  * steady-state throughput claim must not dilute — the Bench warm-up
  * discipline), then `batches` timed addData→processAllAvailable
  * cycles; each cycle is one micro-batch (plus Spark's no-data
  * watermark batches, which are real streaming cost and stay inside
  * the timed window). StreamBenchSpec keeps two small censuses inside
  * `sbt test` with an order-of-magnitude floor so a 10× throughput
  * regression fails the build, while staying far from the noise band.
  *
  * Single-machine caveat, stated on the artifact too: local[N] numbers
  * measure the per-core operator cost (hash, state probe, timer churn)
  * and micro-batch overhead — cluster throughput scales with
  * parallelism on the shuffle key, which every operator here keys by
  * a high-cardinality column precisely so that holds.
  */
object StreamBench {
  import Harness.lcg

  final case class Bench(operator: String, eventsIn: Long, batches: Int,
                         outRows: Long, wallSec: Double, rowsPerSec: Double,
                         meanBatchMs: Double, maxBatchMs: Long)

  private def ts(s: String) = Timestamp.valueOf(s)
  /** Minute `m` of the workload clock — batches advance event time so
    * watermarks move and timers actually fire (state turnover is part
    * of the measured cost, not an idle-state best case). */
  private def minute(m: Int): Timestamp =
    new Timestamp(ts("2024-03-05 00:00:00").getTime + m * 60000L)

  /** One untimed warm-up batch, then the timed batches. outRows counts
    * the TIMED window only, so warm-up rows don't inflate the output
    * ratio (they did until round 10 — e.g. BloomDedup showed 36000 out of
    * 32000 in). */
  private def measure[I](spark: SparkSession, source: MemoryStream[I],
                         out: Dataset[_], tag: String,
                         warmup: Seq[I], batches: Seq[Seq[I]]): Bench = {
    val d = Harness.drive(spark, source, out, tag, batches, Seq(warmup))
    val n = batches.map(_.size.toLong).sum
    val wallSec = d.batchNanos.sum / 1e9
    Bench(tag, n, batches.size, d.outRows, wallSec, n / wallSec,
      d.batchNanos.sum / 1e6 / batches.size, d.batchNanos.max / 1000000L)
  }

  private def words(seed: Long, n: Int) = Harness.words(seed, n, 5000)

  /** streambench.json: one object per operator. */
  def json(benches: Seq[Bench]): String = {
    import Harness.{num, obj}
    obj(benches.map(b => b.operator -> obj("eventsIn" -> b.eventsIn,
      "batches" -> b.batches, "outRows" -> b.outRows,
      "wallSec" -> num(b.wallSec, 3), "rowsPerSec" -> num(b.rowsPerSec, 0),
      "meanBatchMs" -> num(b.meanBatchMs, 1),
      "maxBatchMs" -> b.maxBatchMs)): _*)
  }

  def benchTracker(spark: SparkSession, perBatch: Int, nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.TransferTracker
    val src = MemoryStream[TransferTracker.StatusEvent](spark)
    val out = TransferTracker.track(
      src.toDS().withWatermark("eventTime", "1 minute")
        .as[TransferTracker.StatusEvent])
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = (b * perBatch + i) / 2 // two events per transfer
      val st = if (i % 2 == 0) "RECEIVED"
               else if (id % 10 == 0) "FAILED" else "PROCESSED"
      TransferTracker.StatusEvent(s"corr$id", st, minute(b))
    }
    measure(spark, src, out, "TransferTracker", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchSimhashDedup(spark: SparkSession, perBatch: Int,
                        nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingDedup
    val src = MemoryStream[StreamingDedup.DocEvent](spark)
    val out = StreamingDedup.detect(src.toDS())
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      // every 16th doc duplicates ONE doc from the previous batch (a
      // dup PAIR, not a growing chain — chains would amplify output
      // quadratically and bench the workload, not the operator)
      val h = lcg(1000000L +
        (if (i % 16 == 0) (b - 1).toLong * perBatch + i + 1 else id))
      StreamingDedup.DocEvent(id, h, minute(b))
    }
    measure(spark, src, out, "StreamingDedup(simhash)", batch(-1),
      (0 until nBatches).map(batch))
  }

  /** Both capacity-plan operating points are measured: the default
    * 128/32 (P[miss|j=0.8] ≈ 5e-8) and 64/16 — same rows-per-band, half
    * the bucket visits and half the signature bytes — which trades
    * recall (≈ 2e-4) for roughly 2× throughput. A plan picks a row; it
    * should not have to re-derive it.
    */
  def benchMinhashDedup(spark: SparkSession, perBatch: Int,
                        nBatches: Int, numHashes: Int = 128,
                        bands: Int = 32): Bench = {
    import spark.implicits._
    import streaming.StreamingMinhashDedup
    val src = MemoryStream[StreamingMinhashDedup.DocText](spark)
    val out = StreamingMinhashDedup.detect(src.toDS(),
      numHashes = numHashes, bands = bands)
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      // every 32nd doc duplicates ONE previous-batch doc (pairs, not
      // chains — identical docs hit in all 32 bands, so dup density
      // is the output-amplification knob)
      StreamingMinhashDedup.DocText(id,
        words(1000000L +
          (if (i % 32 == 0) (b - 1).toLong * perBatch + i + 1 else id),
          30), minute(b))
    }
    val tag = if (numHashes == 128 && bands == 32) "StreamingMinhashDedup"
      else s"StreamingMinhashDedup(${numHashes}x$bands)"
    measure(spark, src, out, tag, batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchCdcChunkDedup(spark: SparkSession, perBatch: Int,
                         nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.{StreamingCdcChunkDedup, StreamingChunkDedup}
    val src = MemoryStream[StreamingChunkDedup.DocText](spark)
    val out = StreamingCdcChunkDedup.dedup(src.toDS())
    def text(seed: Long): String =
      (0 until 12).map(k =>
        "w" + Math.floorMod(lcg(seed * 31 + k), 5000)).mkString(" ")
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      // every 16th doc repeats ONE text from the previous batch (a dup
      // pair, not a chain — the benchSimhashDedup rationale)
      val seed = if (i % 16 == 0) (b - 1).toLong * perBatch + i + 1
                 else id
      StreamingChunkDedup.DocText(id, text(seed), minute(b))
    }
    measure(spark, src, out, "StreamingCdcChunkDedup", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchRateLimit(spark: SparkSession, perBatch: Int,
                     nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingRateLimit
    val src = MemoryStream[StreamingRateLimit.FetchRequest](spark)
    val out = StreamingRateLimit.limit(src.toDS(), ratePerSec = 2L,
      burst = 4L)
    val nDomains = 500
    def batch(b: Int) = (0 until perBatch).map { i =>
      StreamingRateLimit.FetchRequest(s"dom${i % nDomains}",
        s"u${b.toLong * perBatch + i}", minute(b))
    }
    measure(spark, src, out, "StreamingRateLimit", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchBloomDedup(spark: SparkSession, perBatch: Int,
                      nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingBloomDedup
    val src = MemoryStream[StreamingBloomDedup.DocKey](spark)
    val out = StreamingBloomDedup.dedup(src.toDS())
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      StreamingBloomDedup.DocKey(id, "k" + (if (i % 4 == 0) id / 4 else id),
        minute(b))
    }
    measure(spark, src, out, "StreamingBloomDedup", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchHeavyHitters(spark: SparkSession, perBatch: Int,
                        nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingHeavyHitters
    val src = MemoryStream[StreamingHeavyHitters.TokenEvent](spark)
    val out = StreamingHeavyHitters.track(src.toDS())
    def batch(b: Int) = (0 until perBatch).map { i =>
      // zipf-ish token draw: low ids are hot
      val t = Math.floorMod(lcg(b.toLong * perBatch + i), 1000)
      StreamingHeavyHitters.TokenEvent("t" + (t * t / 1000), minute(b))
    }
    measure(spark, src, out, "StreamingHeavyHitters", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchQuota(spark: SparkSession, perBatch: Int, nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingQuota
    val src = MemoryStream[StreamingQuota.FileEvent](spark)
    val out = StreamingQuota.enforce(src.toDS(), quotaBytes = 1000000L,
      retainDays = 7)
    def batch(b: Int) = (0 until perBatch).map { i =>
      StreamingQuota.FileEvent("src" + i % 200, s"f$b-$i.pdf",
        1000L + i % 97, minute(b))
    }
    measure(spark, src, out, "StreamingQuota", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchSessions(spark: SparkSession, perBatch: Int,
                    nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingSessions
    val src = MemoryStream[StreamingSessions.UserEvent](spark)
    val out = StreamingSessions.sessions(src.toDS(), gap = "5 minutes",
      watermarkDelay = "1 minute")
    def batch(b: Int) = (0 until perBatch).map { i =>
      // 7-min stride > 5-min gap: each batch's sessions close (and emit)
      // once the next batch's watermark passes them
      StreamingSessions.UserEvent(i % 500L, (i % 89) / 10.0, minute(b * 7))
    }
    measure(spark, src, out, "StreamingSessions", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchCdcView(spark: SparkSession, perBatch: Int,
                   nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingCdcView
    val src = MemoryStream[StreamingCdcView.CdcOp](spark)
    val out = StreamingCdcView.materialize(src.toDS())
    def batch(b: Int) = (0 until perBatch).map { i =>
      val seq = b.toLong * perBatch + i
      StreamingCdcView.CdcOp(i % 1000L, minute(b), seq,
        if (i % 20 == 0) "d" else "u", (seq % 997).toDouble)
    }
    measure(spark, src, out, "StreamingCdcView", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchAffinity(spark: SparkSession, perBatch: Int,
                    nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingAffinity
    val src = MemoryStream[StreamingAffinity.ItemEvent](spark)
    val out = StreamingAffinity.pairDeltas(src.toDS(), maxBasket = 20,
      watermarkDelay = "1 minute", ttlMs = 10 * 60000L)
    def batch(b: Int) = (0 until perBatch).map { i =>
      // ~16 items per basket; basket ids advance with the batch clock
      val basket = (b.toLong * perBatch + i) / 16
      StreamingAffinity.ItemEvent(basket,
        "item" + Math.floorMod(lcg(i.toLong), 60), minute(b))
    }
    measure(spark, src, out, "StreamingAffinity", batch(-1),
      (0 until nBatches).map(batch))
  }

  def benchCusum(spark: SparkSession, perBatch: Int,
                 nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingCusum
    val src = MemoryStream[StreamingCusum.DayPoint](spark)
    val out = StreamingCusum.detect(src.toDS(), mu0Cents = 200L,
      slackCents = 20L, threshCents = 600L)
    // exactly 2 day points per series per batch (an odd perBatch would
    // otherwise emit a third day for series 0 that collides with the
    // next batch's first day and gets dropped as late); the day clock
    // advances with the batch so every point folds into live state
    val nKeys = perBatch / 2
    def batch(b: Int) = (0 until nKeys * 2).map { i =>
      StreamingCusum.DayPoint(s"series${i % nKeys}",
        (b + 1).toLong * 2 + i / nKeys,
        200L + Math.floorMod(lcg(b.toLong * perBatch + i), 61) - 30)
    }
    measure(spark, src, out, "StreamingCusum", batch(-2),
      (0 until nBatches).map(batch))
  }

  def benchExtractCensus(spark: SparkSession, perBatch: Int,
                         nBatches: Int): Bench = {
    import spark.implicits._
    import streaming.StreamingExtractCensus
    val src = MemoryStream[StreamingExtractCensus.DocBytes](spark)
    val out = StreamingExtractCensus.census(src.toDS())
    // the probe is the cost: full parser dispatch per record over a
    // txt/html/rtf/malformed mix
    def batch(b: Int) = (0 until perBatch).map { i =>
      val id = b.toLong * perBatch + i
      val bytes: Array[Byte] = (i % 4) match {
        case 0 => ("plain " + words(id, 30)).getBytes("UTF-8")
        case 1 => ("<p>" + words(id, 30) + "</p>").getBytes("UTF-8")
        case 2 => ("{\\rtf1\\ansi " + words(id, 30) + "}")
          .getBytes("ISO-8859-1")
        case _ => Array[Byte](0xc0.toByte)
      }
      StreamingExtractCensus.DocBytes(id, bytes)
    }
    measure(spark, src, out, "StreamingExtractCensus", batch(-1),
      (0 until nBatches).map(batch))
  }

  def all(spark: SparkSession, perBatch: Int, nBatches: Int): Seq[Bench] =
    Seq(
      benchTracker(spark, perBatch, nBatches),
      benchExtractCensus(spark, perBatch, nBatches),
      benchSimhashDedup(spark, perBatch, nBatches),
      benchMinhashDedup(spark, perBatch, nBatches),
      benchMinhashDedup(spark, perBatch, nBatches,
        numHashes = 64, bands = 16),
      benchCdcChunkDedup(spark, perBatch, nBatches),
      benchRateLimit(spark, perBatch, nBatches),
      benchBloomDedup(spark, perBatch, nBatches),
      benchHeavyHitters(spark, perBatch, nBatches),
      benchQuota(spark, perBatch, nBatches),
      benchSessions(spark, perBatch, nBatches),
      benchCdcView(spark, perBatch, nBatches),
      benchAffinity(spark, perBatch, nBatches),
      benchCusum(spark, perBatch, nBatches))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val benches = all(spark, perBatch = 4000, nBatches = 8)
    java.nio.file.Files.write(java.nio.file.Paths.get("streambench.json"),
      (json(benches) + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= "# STREAMBENCH — measured streaming throughput and latency\n\n"
    md ++= "Protocol: `graft.StreamBench` main — each stateful operator runs a\n"
    md ++= "deterministic generated workload (8 timed micro-batches of 4000\n"
    md ++= "events after one untimed warm-up batch) through a fresh RocksDB\n"
    md ++= s"checkpoint on local[${Harness.cpus}]. rows/sec = timed events / " +
      "timed wall;\n"
    md ++= "batch latency = wall per addData->processAllAvailable cycle\n"
    md ++= "(includes Spark's no-data watermark batches — real streaming\n"
    md ++= "cost). Event times advance one minute per batch so watermarks\n"
    md ++= "move and TTL/timer churn is inside the measurement.\n\n"
    md ++= "Single-machine caveat: these numbers price the per-core operator\n"
    md ++= "cost + micro-batch overhead. Every operator keys its state by a\n"
    md ++= "high-cardinality column, so cluster throughput scales with the\n"
    md ++= "shuffle parallelism; the per-batch latency floor (~the max row)\n"
    md ++= "is the micro-batch scheduling constant, not operator work.\n\n"
    md ++= "out rows counts the TIMED window only (the warm-up batch's\n"
    md ++= "sink rows are snapshotted off — round-10 artifacts included\n"
    md ++= "them, overstating output ratios).\n\n"
    md ++= "Round-11 note — StreamingMinhashDedup (the round-10 outlier at\n"
    md ++= "940 rows/s): three structural changes — byte verification\n"
    md ++= "signatures (sig_bytes kernel: 8× less shuffle/state volume,\n"
    md ++= "estimate bias ≤ (1−j)/256, an order under the estimator's own\n"
    md ++= "se), one packed-binary ValueState row per bucket (1 get + 1 put\n"
    md ++= "per visit; per-entry MapState paid per-entry op+encoder cost on\n"
    md ++= "a path that must read the whole bucket anyway), and\n"
    md ++= "creation-only timer arming (per-visit re-arm was ~40% of all\n"
    md ++= "state puts) — took the isolated row 1.17 k → 1.94 k rows/s\n"
    md ++= "(+65%). The remainder is structural, measured: cost scales\n"
    md ++= "linearly in `bands` (32 state-visits per doc is the LSH\n"
    md ++= "candidate-generation contract; 32→8→2 bands measured 0.52 →\n"
    md ++= "2.0 → 4.2 k rows/s), each visit is already at the 1-get+1-put\n"
    md ++= "floor, and the per-batch constant is the RocksDB\n"
    md ++= "flush+snapshot-sync commit (~1.4 s shared across all state at\n"
    md ++= "this scale). Equal-recall band reduction does not exist at\n"
    md ++= "fixed numHashes; the knob is explicit and (round 12) a\n"
    md ++= "first-class operating point with its own census row below:\n"
    md ++= "StreamingMinhashDedup(64x16) — same rows-per-band r=4, half\n"
    md ++= "the bucket visits and signature bytes — trades\n"
    md ++= "P[miss|j=0.8] = 2e-4 (vs 5e-8) for the measured in-census\n"
    md ++= "speedup in its row below (~1.5x here where the shared\n"
    md ++= "per-batch RocksDB commit constant dilutes it; the pure\n"
    md ++= "per-visit cost halves, so isolated/cluster runs sit nearer\n"
    md ++= "2x). Both points run the same near-dup parity scenario in\n"
    md ++= "StreamingMinhashDedupSpec; a capacity plan picks a row.\n\n"
    md ++= "| operator | events | batches | out rows | wall s | rows/s " +
      "| mean batch ms | max batch ms |\n"
    md ++= "|---|---|---|---|---|---|---|---|\n"
    benches.foreach { b =>
      md ++= f"| ${b.operator} | ${b.eventsIn} | ${b.batches} " +
        f"| ${b.outRows} | ${b.wallSec}%.2f | ${b.rowsPerSec}%.0f " +
        f"| ${b.meanBatchMs}%.0f | ${b.maxBatchMs} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAMBENCH.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[streambench] wrote STREAMBENCH.md + streambench.json " +
      s"(${benches.size} operators)")
    spark.stop()
  }
}
