package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, to_json}
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The event-time TTL ([[EventTimeTtl]]) as each of its six operators
  * runs it, under a 10 min TTL and a 1 min watermark delay. A key gains
  * state at minute 0, which arms its one timer at minute 10; a
  * keep-alive at minute 5 leaves that timer alone. Once the watermark
  * passes minute 10 the timer fires, finds the refreshed state alive and
  * re-arms at minute 15: state intact, one timer. Once the watermark
  * passes minute 15 the state and the timer are both gone. Events on
  * other keys move the watermark.
  */
class EventTimeTtlSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Minute = 60000L
  private val t0 = Timestamp.valueOf("2024-03-05 00:00:00").getTime
  private def at(m: Int) = new Timestamp(t0 + m * Minute)

  /** One operator: `build` under the TTL and delay above, `driven(m)`
    * the driven key's event at minute m, `clock(m)` an event at minute
    * m on keys the driven one shares none with. */
  private final case class Case[I](name: String, stateVar: String,
                                   build: Dataset[I] => Dataset[_],
                                   driven: Int => I, clock: Int => I)(
      implicit val enc: Encoder[I])

  private val ttl = 10 * Minute
  private val delay = "1 minute"

  private val cases: Seq[Case[_]] = {
    import StreamingAffinity.ItemEvent
    import StreamingChunkDedup.DocText
    import StreamingDedup.DocEvent
    import StreamingRateLimit.FetchRequest
    import StreamingSemanticDedup.VecEvent
    implicit val chunkEnc: Encoder[DocText] = Encoders.product[DocText]
    implicit val itemEnc: Encoder[ItemEvent] = Encoders.product[ItemEvent]
    implicit val fetchEnc: Encoder[FetchRequest] =
      Encoders.product[FetchRequest]
    implicit val simEnc: Encoder[DocEvent] = Encoders.product[DocEvent]
    implicit val vecEnc: Encoder[VecEvent] = Encoders.product[VecEvent]
    implicit val mhEnc: Encoder[StreamingMinhashDedup.DocText] =
      Encoders.product[StreamingMinhashDedup.DocText]
    Seq(
      Case[DocText]("StreamingChunkDedup", "owner",
        StreamingChunkDedup.dedup(_, chunkWords = 4, watermarkDelay = delay,
          ttlMs = ttl),
        m => DocText(m.toLong, "a b c d e f g h", at(m)),
        m => DocText(100L + m, s"k$m l$m m$m n$m", at(m))),
      Case[ItemEvent]("StreamingAffinity", "basket",
        StreamingAffinity.pairDeltas(_, watermarkDelay = delay, ttlMs = ttl),
        m => ItemEvent(1L, "x", at(m)),
        m => ItemEvent(100L + m, "y", at(m))),
      Case[FetchRequest]("StreamingRateLimit", "bucket",
        StreamingRateLimit.limit(_, watermarkDelay = delay, ttlMs = ttl),
        m => FetchRequest("a.test", s"u$m", at(m)),
        m => FetchRequest(s"clock$m.test", s"c$m", at(m))),
      // simhash 0 and -1 differ in every 16-bit chunk
      Case[DocEvent]("StreamingDedup", "entries",
        StreamingDedup.detect(_, watermarkDelay = delay, ttlMs = ttl),
        m => DocEvent(1L, 0L, at(m)),
        m => DocEvent(100L + m, -1L, at(m))),
      // all-positive and all-negative vectors land in opposite cells
      Case[VecEvent]("StreamingSemanticDedup", "entries",
        StreamingSemanticDedup.detect(_, watermarkDelay = delay, ttlMs = ttl),
        m => VecEvent(1L, Array.fill(16)(1f), at(m)),
        m => VecEvent(100L + m, Array.fill(16)(-1f), at(m))),
      Case[StreamingMinhashDedup.DocText]("StreamingMinhashDedup", "bucket",
        StreamingMinhashDedup.detect(_, watermarkDelay = delay, ttlMs = ttl),
        m => StreamingMinhashDedup.DocText(1L,
          "alpha beta gamma delta epsilon zeta eta theta", at(m)),
        m => StreamingMinhashDedup.DocText(100L + m,
          "one two three four five six seven eight", at(m))))
  }

  private def drive[I](c: Case[I]): Unit = {
    implicit val enc: Encoder[I] = c.enc
    val chk = tempDir(s"ttl-${c.name}").toString
    val src = MemoryStream[I](spark)
    val q = c.build(src.toDS()).writeStream
      .option("checkpointLocation", chk).format("noop").start()
    def step(rows: I*): Unit = { src.addData(rows); q.processAllAvailable() }
    def read(opts: (String, String)*) =
      spark.read.format("statestore").options(opts.toMap).load(chk)
    def stateKeys = read("stateVarName" -> c.stateVar)
      .select(to_json(col("key"))).as[String].collect().toSet
    /** Registered timers as (grouping key, expiry minute). */
    def timers: Seq[(String, Long)] = {
      val t = read("readRegisteredTimers" -> "true")
      t.select(to_json(col("key")), col("expiration_timestamp_ms"))
        .as[(String, Long)].collect().toSeq
        .map { case (k, ms) => (k, (ms - t0) / Minute) }
    }
    try {
      step(c.driven(0))
      val driven = stateKeys
      assert(driven.nonEmpty)
      def drivenTimers = timers.filter { case (k, _) => driven(k) }
      assert(drivenTimers.sorted == driven.toSeq.map(_ -> 10L).sorted,
        "one timer per key, at the creation deadline")
      step(c.driven(5))
      assert(drivenTimers.sorted == driven.toSeq.map(_ -> 10L).sorted,
        "a keep-alive must leave the timer alone")
      step(c.clock(12))
      assert(driven.subsetOf(stateKeys), "state must survive the first firing")
      assert(drivenTimers.sorted == driven.toSeq.map(_ -> 15L).sorted,
        "the first firing re-arms once, at the refreshed deadline")
      step(c.clock(17))
      assert((stateKeys & driven).isEmpty, "state must be freed")
      assert(drivenTimers.isEmpty, "the freed key must keep no timer")
      assert(timers.map(_._1).toSet == stateKeys,
        "every key with state has a timer and no other key has one")
    } finally q.stop()
  }

  cases.foreach { c =>
    test(s"${c.name}: a keep-alive survives the first firing with one " +
         "re-armed timer, then state and timer go together") {
      drive(c)
    }
  }
}
