package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming STATE census — the stateful-streaming counterpart of the
  * batch plan census (`PlanAudit`) and scale trend (`Scaling`): every
  * stateful operator's scaladoc claims a STRUCTURAL state bound
  * ("one fixed-size record per column", "≤ buckets × cap entries",
  * "sources × retained days"); this runs each operator on a generated
  * workload, then reads its state back FROM THE CHECKPOINT via Spark's
  * state data source — the same offline path an operator runbook uses —
  * and records measured state rows against the claimed bound
  * (`STATE.md` + `state.json`). A violated bound fails the run (exit 1),
  * and StateAuditSpec keeps two cheap audits inside `sbt test`.
  *
  * Why measure what specs already assert: the specs pin each operator's
  * SEMANTIC bound behavior (TTL purges, LRU caps, counter structure) on
  * its own terms; this census pins the thing an operator reviewer
  * actually asks — "after N events, how many state-store ROWS exist,
  * and is that the formula the scaladoc promised?" — uniformly, in one
  * table, through the public checkpoint-reading surface.
  */
object StateAudit {

  final case class Audit(operator: String, stateVar: String,
                         eventsIn: Long, groupingKeys: Long,
                         stateRows: Long, bound: Long, formula: String) {
    def held: Boolean = stateRows <= bound
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  private def stateRows(spark: SparkSession, chk: String,
                        stateVar: String): (Long, Long) = {
    val r = spark.read.format("statestore")
      .option("stateVarName", stateVar).load(chk)
    (r.count(), r.select(col("key")).distinct().count())
  }

  def auditQuota(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingQuota
    val sources = 5
    val days = 7
    val src = MemoryStream[StreamingQuota.FileEvent](spark)
    val out = StreamingQuota.enforce(src.toDS(), quotaBytes = 1000000L,
      retainDays = days)
    val events = for (s <- 0 until sources; d <- 1 to days; i <- 0 until 4)
      yield StreamingQuota.FileEvent(s"src$s", s"f$i.pdf", 10L,
        ts(f"2024-03-${d}%02d 0$i:00:00"))
    val chk = Harness.drive(spark, src, out, "quota", Seq(events)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "used")
    Audit("StreamingQuota", "used", events.size, keys, rows,
      sources.toLong * days, "sources × retained days")
  }

  def auditMinhashDedup(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingMinhashDedup
    val bands = 32
    val cap = 256
    val docs = (0 until 300).map(i =>
      StreamingMinhashDedup.DocText(i.toLong,
        Harness.words(if (i % 5 == 0) i / 5 else 1000L + i, 30, 500),
        ts("2024-03-05 01:00:00")))
    val src = MemoryStream[StreamingMinhashDedup.DocText](spark)
    val out = StreamingMinhashDedup.detect(src.toDS(), bands = bands,
      maxBucketEntries = cap)
    val chk = Harness.drive(spark, src, out, "minhash", Seq(docs)).checkpoint
    // one packed binary row per bucket since round 11 (each bounded by
    // cap × entry stride) — the row bound is the bucket count itself
    val (rows, keys) = stateRows(spark, chk, "bucket")
    Audit("StreamingMinhashDedup", "bucket", docs.size, keys, rows,
      math.min(docs.size.toLong * bands, keys),
      "min(docs × bands, buckets touched) — one packed row per bucket")
  }

  def auditCdcChunkDedup(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.{StreamingCdcChunkDedup, StreamingChunkDedup}
    // every 4th doc repeats an earlier text: repeated chunks must fold
    // into the SAME owner rows, so state is bounded by distinct chunks
    val docs = (0 until 200).map(i =>
      StreamingChunkDedup.DocText(i.toLong,
        Harness.words(if (i % 4 == 0) i / 4 else 1000L + i, 40, 500),
        ts("2024-03-05 01:00:00")))
    val src = MemoryStream[StreamingChunkDedup.DocText](spark)
    val out = StreamingCdcChunkDedup.dedup(src.toDS())
    val chk = Harness.drive(spark, src, out, "cdcchunk", Seq(docs)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "owner")
    // the bound is structural: the batch twin's distinct chunk count
    // over the same texts (one owner record per live distinct chunk)
    val distinctChunks = graft.ext.Dedup.cdcChunks(
        docs.toDF("docId", "text", "eventTime"),
        org.apache.spark.sql.functions.col("docId"),
        org.apache.spark.sql.functions.col("text"))
      .select("chunk_md5").distinct().count()
    Audit("StreamingCdcChunkDedup", "owner", docs.size, keys, rows,
      distinctChunks, "distinct CDC chunks in the TTL window")
  }

  def auditRateLimit(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingRateLimit
    val domains = 40
    val src = MemoryStream[StreamingRateLimit.FetchRequest](spark)
    val out = StreamingRateLimit.limit(src.toDS(), ratePerSec = 1L,
      burst = 2L)
    // 10 requests per domain: state must stay ONE bucket per domain
    val reqs = for (d <- 0 until domains; i <- 0 until 10)
      yield StreamingRateLimit.FetchRequest(s"dom$d", s"u$i",
        ts(f"2024-03-05 01:00:${i}%02d"))
    val chk = Harness.drive(spark, src, out, "ratelimit", Seq(reqs)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "bucket")
    Audit("StreamingRateLimit", "bucket", reqs.size, keys, rows,
      domains.toLong, "one fixed-size token bucket per active domain")
  }

  def auditExtractCensus(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingExtractCensus
    // 4 formats, ok + failing arms — state is one MapState row per
    // (format, reason) pair SEEN, bounded by formats × the fixed
    // reason vocabulary regardless of document count
    val docs = (0 until 240).map { i =>
      val b: Array[Byte] = (i % 6) match {
        case 0 => s"plain text $i".getBytes("UTF-8")
        case 1 => Array(0xc0.toByte) // txt → utf8_malformed
        case 2 => s"<p>html $i</p>".getBytes("UTF-8")
        case 3 => s"{\\rtf1\\ansi doc $i}".getBytes("ISO-8859-1")
        case 4 => "{\\rtf1\\ansi open".getBytes("ISO-8859-1") // structure
        case _ => "%PDF-1.4\nno eof".getBytes("ISO-8859-1") // pdf_no_eof
      }
      StreamingExtractCensus.DocBytes(i.toLong, b)
    }
    val src = MemoryStream[StreamingExtractCensus.DocBytes](spark)
    val out = StreamingExtractCensus.census(src.toDS())
    val chk = Harness.drive(spark, src, out, "extractcensus", Seq(docs)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "counts")
    Audit("StreamingExtractCensus", "counts", docs.size, keys, rows,
      6L, "(format, reason) pairs seen ≤ formats × fixed vocabulary")
  }

  def auditSemanticDedup(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingSemanticDedup
    val cap = 64
    val vecs = (0 until 200).map { i =>
      val v = Array.tabulate(8)(d =>
        (math.sin(i * 31 + d * 7) * 0.9).toFloat)
      StreamingSemanticDedup.VecEvent(i.toLong, v, ts("2024-03-05 01:00:00"))
    }
    val src = MemoryStream[StreamingSemanticDedup.VecEvent](spark)
    val out = StreamingSemanticDedup.detect(src.toDS(), bits = 4,
      maxCellEntries = cap)
    val chk = Harness.drive(spark, src, out, "semantic", Seq(vecs)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "entries")
    Audit("StreamingSemanticDedup", "entries", vecs.size, keys, rows,
      keys * cap, "cells touched × LRU cap")
  }

  def auditDrift(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingDrift
    val nBuckets = 10
    val metrics = 3
    val ref = StreamingDrift.Reference(0.0, 1.0,
      Array.fill(nBuckets)(100L))
    val values = for (m <- 0 until metrics; i <- 0 until 2000)
      yield StreamingDrift.MetricValue(s"m$m", (i % 97) / 97.0)
    val src = MemoryStream[StreamingDrift.MetricValue](spark)
    val out = StreamingDrift.monitor(src.toDS(), ref)
    val chk = Harness.drive(spark, src, out, "drift", Seq(values)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "hist")
    Audit("StreamingDrift", "hist", values.size, keys, rows,
      metrics.toLong * nBuckets, "metrics × histogram buckets")
  }

  def auditProfile(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingProfile
    val cols = 4
    val values = for (c <- 0 until cols; i <- 0 until 2000)
      yield StreamingProfile.ColValue(s"c$c",
        if (i % 11 == 0) None else Some(i.toDouble))
    val src = MemoryStream[StreamingProfile.ColValue](spark)
    val out = StreamingProfile.monitor(src.toDS())
    val chk = Harness.drive(spark, src, out, "profile", Seq(values)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "profile")
    Audit("StreamingProfile", "profile", values.size, keys, rows,
      cols.toLong, "one fixed-size record per column")
  }

  def auditHeavyHitters(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingHeavyHitters
    val nBuckets = 16
    // zipf-ish: token t appears ~5000/t times
    val tokens = (1 to 200).flatMap(t =>
      (0 until (5000 / t)).map(_ =>
        StreamingHeavyHitters.TokenEvent(s"t$t", ts("2024-03-05 01:00:00"))))
    val src = MemoryStream[StreamingHeavyHitters.TokenEvent](spark)
    val out = StreamingHeavyHitters.track(src.toDS(), nBuckets = nBuckets,
      capacity = 64)
    val chk = Harness.drive(spark, src, out, "hitters", Seq(tokens)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "counters")
    Audit("StreamingHeavyHitters", "counters", tokens.size, keys, rows,
      nBuckets.toLong, "one SpaceSaving record per shard bucket")
  }

  def auditAffinity(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingAffinity
    val nBaskets = 50
    val events = (0 until nBaskets).flatMap(b =>
      (0 until 30).map(i => StreamingAffinity.ItemEvent(b.toLong,
        s"item${(b * 7 + i) % 40}", ts("2024-03-05 01:00:00"))))
    val src = MemoryStream[StreamingAffinity.ItemEvent](spark)
    val out = StreamingAffinity.pairDeltas(src.toDS(), maxBasket = 100)
    val chk = Harness.drive(spark, src, out, "affinity", Seq(events)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "basket")
    Audit("StreamingAffinity", "basket", events.size, keys, rows,
      nBaskets.toLong, "one capped item-list record per live basket")
  }

  def auditCusum(spark: SparkSession): Audit = {
    import spark.implicits._
    import streaming.StreamingCusum
    val nKeys = 12
    val days = 40
    val src = MemoryStream[StreamingCusum.DayPoint](spark)
    val out = StreamingCusum.detect(src.toDS(), mu0Cents = 200L,
      slackCents = 20L, threshCents = 600L)
    val points = for (k <- 0 until nKeys; d <- 0 until days)
      yield StreamingCusum.DayPoint(s"series$k", d.toLong,
        200L + (d * 13 + k * 7) % 29 - 14)
    val chk = Harness.drive(spark, src, out, "cusum", Seq(points)).checkpoint
    val (rows, keys) = stateRows(spark, chk, "cusum")
    Audit("StreamingCusum", "cusum", points.size, keys, rows,
      nKeys.toLong, "one fixed-size drift account per series key")
  }

  def all(spark: SparkSession): Seq[Audit] = Seq(
    auditQuota(spark), auditMinhashDedup(spark),
    auditCdcChunkDedup(spark), auditRateLimit(spark),
    auditExtractCensus(spark), auditSemanticDedup(spark),
    auditDrift(spark), auditProfile(spark), auditHeavyHitters(spark),
    auditAffinity(spark), auditCusum(spark))

  def main(args: Array[String]): Unit = {
    val spark = Harness.session()
    val audits = all(spark)
    import Harness.{obj, str}
    val json = obj(audits.map(a => a.operator -> obj(
      "stateVar" -> str(a.stateVar), "eventsIn" -> a.eventsIn,
      "groupingKeys" -> a.groupingKeys, "stateRows" -> a.stateRows,
      "bound" -> a.bound, "held" -> a.held)): _*)
    java.nio.file.Files.write(java.nio.file.Paths.get("state.json"),
      (json + "\n").getBytes("UTF-8"))

    val md = new StringBuilder
    md ++= "# STATE — measured streaming state vs structural bounds\n\n"
    md ++= "Protocol: `graft.StateAudit` main — each stateful operator runs a\n"
    md ++= "generated workload through a fresh checkpoint (RocksDB provider),\n"
    md ++= "then its state is read BACK FROM THE CHECKPOINT via the state data\n"
    md ++= "source (the runbook path pinned by StateIntrospectionSpec) and the\n"
    md ++= "row count is compared to the structural bound the operator's\n"
    md ++= "scaladoc claims. `rows` counts state-store rows (MapState: one per\n"
    md ++= "entry; ValueState: one per grouping key). A violated\n"
    md ++= "bound exits nonzero; StateAuditSpec keeps two audits in `sbt test`.\n\n"
    md ++= "| operator | state var | events in | keys | state rows | bound | formula | held |\n"
    md ++= "|---|---|---|---|---|---|---|---|\n"
    audits.foreach { a =>
      md ++= s"| ${a.operator} | ${a.stateVar} | ${a.eventsIn} " +
        s"| ${a.groupingKeys} | ${a.stateRows} | ${a.bound} " +
        s"| ${a.formula} | ${a.held} |\n"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("STATE.md"),
      md.toString.getBytes("UTF-8"))
    println(s"[stateaudit] wrote STATE.md + state.json (${audits.size} operators)")
    val bad = audits.filterNot(_.held)
    if (bad.nonEmpty) {
      System.err.println("BOUND VIOLATIONS: " + bad.map(_.operator).mkString(", "))
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
