package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.{StreamBench, TestSpark}

/** The rebuild's delivery guarantee, proven end-to-end. The reference's
  * contract is broker redelivery + idempotent S3 keys (SURVEY §3.1
  * step 9: a crashed consumer is redelivered the message and the
  * deterministic object key makes the second put a no-op); the Spark
  * equivalent is CHECKPOINT RECOVERY + the same deterministic keys.
  * Each scenario here stops a stateful query mid-stream, restarts it
  * from the same checkpoint (same MemoryStream — offsets resume from
  * the commit log), and asserts:
  *
  *  (a) STATE PARITY — the state read back from the recovered run's
  *      checkpoint equals an uninterrupted run's, row for row;
  *  (b) NO DUPLICATE/LOST EMISSIONS — the union of pre-stop and
  *      post-restart sink output equals the uninterrupted run's output
  *      as a multiset;
  *  (c) IDEMPOTENT OBJECT KEYS — on the foreachBatch → ObjectStore
  *      path, a REPLAYED batch (what an un-committed micro-batch
  *      becomes after a crash-restart) converges to the same store
  *      contents instead of duplicating, because keys are
  *      deterministic and puts overwrite.
  *
  * (a) and (b) run for every row of the streaming census
  * ([[graft.StreamBench.entries]]) on a small slice of its own workload,
  * so an operator gains restart coverage by being declared there. Five
  * scenarios add their own assertions on top: StreamingQuota (the quota
  * actually denies), StreamingMinhashDedup (cross-restart duplicates
  * can only match from recovered state), StreamingCusum (a CUMULATIVE
  * drift account whose planted alarm only fires if recovery resumes
  * mid-accumulation), TransferTracker (event-time timers that must fire
  * after the restart) and StreamingHeavyHitters (SpaceSaving counters
  * that must keep counting).
  */
class CheckpointRecoverySpec extends AnyFunSuite with graft.TempDirs {
  /** Two shuffle partitions, not four: every micro-batch commits one
    * RocksDB store per partition, and recovery needs more than one
    * partition, not many. */
  lazy val spark = {
    val s = TestSpark.spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "2")
    s
  }
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Parquet FILE sink — the memory sink refuses checkpoint recovery
    * (it is not fault-tolerant), and the file sink's `_spark_metadata`
    * manifest is itself part of the guarantee under test: files from a
    * replayed batch are superseded in the manifest, so reading the
    * directory back IS the no-duplicate/no-loss check. */
  private def startQuery(out: DataFrame, chk: String, dir: String) =
    out.writeStream.option("checkpointLocation", chk)
      .format("parquet").option("path", dir).outputMode("append").start()

  /** Rows of `df` as a sorted multiset of JSON strings, without the
    * physical partition bookkeeping of a state read: parity is about
    * logical rows. to_json, not Row.toString: binary values (the minhash
    * packed bucket, a document's bytes) serialize as base64, where
    * toString on a byte array prints its identity hash. */
  private def canonical(df: DataFrame): Seq[String] = {
    val cols = df.columns.filterNot(_ == "partition_id").map(col).toSeq
    df.select(org.apache.spark.sql.functions.to_json(
        org.apache.spark.sql.functions.struct(cols: _*)).as("j"))
      .collect().map(_.getString(0)).toSeq.sorted
  }

  /** Committed rows of a file-sink directory. */
  private def rowsOf(dir: String): Seq[String] =
    canonical(spark.read.parquet(dir))

  /** State rows read with the given state data source options: a state
    * variable's rows, the registered timers, or (no option) an
    * operator's built-in store. */
  private def stateRows(chk: String, options: Map[String, String]): Seq[String] =
    canonical(spark.read.format("statestore").options(options).load(chk))

  /** Checkpoint and file-sink directory of one run. */
  private case class Run(chk: String, dir: String)

  /** Runs `build` over `batches` twice. The reference run takes every
    * batch without a stop. The recovered run stops after `stopAfter`
    * batches; the next batch lands while the query is DOWN, and a
    * restart from the same checkpoint processes it and the rest. Then
    * asserts (a) and (b) on `stateVar` (None: the built-in store);
    * returns the reference and recovered runs for scenario checks.
    */
  private def restartParity[A: Encoder](tag: String, batches: Seq[Seq[A]],
                                        stopAfter: Int,
                                        stateVar: Option[String])(
      build: Dataset[A] => Dataset[_]): (Run, Run) = {
    def run(name: String) = Run(
      tempDir(name).toString,
      tempDir(s"$name-out").toString)
    val ref = run(s"rec-$tag-ref")
    val refSrc = MemoryStream[A](spark)
    val refQ = startQuery(build(refSrc.toDS()).toDF(), ref.chk, ref.dir)
    batches.foreach { b => refSrc.addData(b); refQ.processAllAvailable() }
    refQ.stop()

    val rec = run(s"rec-$tag")
    val src = MemoryStream[A](spark)
    val out = build(src.toDS()).toDF()
    val q1 = startQuery(out, rec.chk, rec.dir)
    batches.take(stopAfter).foreach { b =>
      src.addData(b); q1.processAllAvailable()
    }
    q1.stop()
    src.addData(batches(stopAfter))
    val q2 = startQuery(out, rec.chk, rec.dir)
    q2.processAllAvailable()
    batches.drop(stopAfter + 1).foreach { b =>
      src.addData(b); q2.processAllAvailable()
    }
    q2.stop()

    assert(rowsOf(rec.dir) == rowsOf(ref.dir),
      "pre-stop + post-restart emissions must equal the uninterrupted run")
    val byVar = stateVar.map("stateVarName" -> _).toMap
    assert(stateRows(rec.chk, byVar) == stateRows(ref.chk, byVar),
      "recovered checkpoint state must equal the uninterrupted run's")
    (ref, rec)
  }

  // ------------------------------------------------ census entries

  /** The warm-up and first timed batch of an entry's census workload at
    * 48 events per batch; the timed batch lands while the query is down.
    * The output must not be empty, or its parity proves nothing. */
  private def censusParity[I](e: StreamBench.Entry[I]): Unit = {
    val (ref, _) = restartParity(e.name, Seq(-1, 0).map(e.batch(_, 48)),
      1, e.stateVar)(e.build)(e.enc)
    assert(rowsOf(ref.dir).nonEmpty)
  }

  StreamBench.entries.foreach { e =>
    test(s"census ${e.name}: restart from the checkpoint — state and " +
         "output parity with an uninterrupted run") {
      censusParity(e)
    }
  }

  // ------------------------------------------------------- Cusum

  private def cusumBatches: Seq[Seq[StreamingCusum.DayPoint]] = {
    // stationary then shifted — the alarm fires only if the recovered
    // drift account resumes from its checkpointed value; a reset
    // account would need the whole post-shift run again
    val series = Seq.tabulate(24) { d =>
      StreamingCusum.DayPoint("rev", d.toLong,
        (if (d < 16) 200L else 360L) + Seq(7L, -12L, 3L, -9L)(d % 4))
    }
    series.grouped(8).toSeq
  }

  test("Cusum: restart from the checkpoint — the drift account resumes " +
       "mid-accumulation, alarms and state match an uninterrupted run") {
    // the post-shift batch lands while the query is down
    val (ref, _) = restartParity("cusum", cusumBatches, 2, Some("cusum"))(
      StreamingCusum.detect(_, mu0Cents = 200L, slackCents = 20L,
        threshCents = 500L))
    // the scenario is non-degenerate: the shift actually alarms
    assert(rowsOf(ref.dir).exists(_.contains("true")),
      "planted shift must trip the alarm in the reference run")
  }

  // ------------------------------------------------------- Quota

  private def quotaBatches: Seq[Seq[StreamingQuota.FileEvent]] = Seq(
    (0 until 50).map(i => StreamingQuota.FileEvent(s"src${i % 5}",
      s"a$i.pdf", 120L, ts("2024-03-05 01:00:00"))),
    (0 until 50).map(i => StreamingQuota.FileEvent(s"src${i % 5}",
      s"b$i.pdf", 130L, ts("2024-03-06 01:00:00"))),
    (0 until 50).map(i => StreamingQuota.FileEvent(s"src${i % 5}",
      s"c$i.pdf", 140L, ts("2024-03-07 01:00:00"))))

  test("Quota: restart from the checkpoint — MapState ledger parity, " +
       "admissions neither duplicated nor lost") {
    // stop after batch 1: batch 2 arrives while down, batch 3 after
    val (ref, _) = restartParity("quota", quotaBatches, 1, Some("used"))(
      StreamingQuota.enforce(_, quotaBytes = 900L, retainDays = 7))
    // the quota must have actually denied something, or the ledger
    // parity proves less than it claims
    assert(spark.read.parquet(ref.dir)
      .filter(col("admitted") === false).count() > 0)
  }

  // ------------------------------------------- MinhashDedup (round 11)

  /** Deterministic 40-word docs; batch 3 repeats batch 1's text, so its
    * hits can ONLY come from state that survived the restart. */
  private def mhBatches: Seq[Seq[StreamingMinhashDedup.DocText]] = {
    def words(seed: Long) =
      (0 until 40).map(w => "w" + ((seed * 31 + w * 7) % 97)).mkString(" ")
    Seq(
      (0 until 30).map(i => StreamingMinhashDedup.DocText(i.toLong,
        words(i.toLong), ts("2024-03-05 01:00:00"))),
      (30 until 60).map(i => StreamingMinhashDedup.DocText(i.toLong,
        words(i.toLong), ts("2024-03-05 01:01:00"))),
      (60 until 70).map(i => StreamingMinhashDedup.DocText(i.toLong,
        words(i.toLong - 60), ts("2024-03-05 01:02:00"))))
  }

  test("MinhashDedup: restart from the checkpoint — packed-bucket state " +
       "parity, cross-restart duplicates still detected exactly once") {
    // the duplicates arrive while the query is down
    val (ref, _) = restartParity("mh", mhBatches, 2, Some("bucket"))(
      StreamingMinhashDedup.detect(_, n = 3, threshold = 0.9))
    // the replayed duplicates matched their batch-1 originals FROM
    // RECOVERED STATE: doc 60+i hits doc i (est 1.0, all 32 bands)
    val hits = spark.read.parquet(ref.dir)
      .select("docId", "matchedId").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((60L until 70L).forall(d => hits.contains((d, d - 60))),
      s"missing cross-restart duplicate hits: $hits")
  }

  // --------------------------------------------- TransferTracker

  /** c0-c29 start in batch 1 and c30-c39 in batch 2; c0-c19 complete
    * before the stop. Batch 3 moves the watermark past every timeout
    * while the query is down, so c20-c39 can only stall from timers
    * recovered from the checkpoint; s0-s4 stay in flight. */
  private def trackerBatches: Seq[Seq[TransferTracker.StatusEvent]] = {
    import TransferTracker.StatusEvent
    Seq(
      (0 until 30).map(i => StatusEvent(s"c$i", "RECEIVED",
        ts("2024-03-05 07:00:00"))) ++
        (0 until 10).map(i => StatusEvent(s"c$i", "PROCESSED",
          ts("2024-03-05 07:01:00"))),
      (10 until 20).map(i => StatusEvent(s"c$i",
        if (i % 2 == 0) "PROCESSED" else "FAILED", ts("2024-03-05 07:05:00"))) ++
        (30 until 40).map(i => StatusEvent(s"c$i", "RECEIVED",
          ts("2024-03-05 07:05:00"))),
      (0 until 5).map(i => StatusEvent(s"s$i", "RECEIVED",
        ts("2024-03-05 07:30:00"))))
  }

  test("TransferTracker: restart with transfers in flight — recovered " +
       "timers stall them exactly once, state and timers match") {
    val (ref, rec) = restartParity("tracker", trackerBatches, 2,
      Some("transfer"))(
      ds => TransferTracker.track(ds.withWatermark("eventTime", "1 minute")
        .as[TransferTracker.StatusEvent]))
    val timers = Map("readRegisteredTimers" -> "true")
    val refTimers = stateRows(ref.chk, timers)
    assert(refTimers.size == 5 && stateRows(rec.chk, timers) == refTimers,
      "recovered timers must equal the uninterrupted run's: s0-s4")
    val byStatus = spark.read.parquet(ref.dir)
      .groupBy("finalStatus").count().as[(String, Long)].collect().toMap
    assert(byStatus == Map("PROCESSED" -> 15L, "FAILED" -> 5L,
      "STALLED" -> 20L), s"unexpected outcome counts: $byStatus")
  }

  // ----------------------------------------------- HeavyHitters

  /** One bucket of 8 counters: "hot" arrives 5 times a batch ahead of a
    * churning tail, so its last snapshot counts 15 only if the counters
    * survived the restart. */
  private def hhBatches: Seq[Seq[StreamingHeavyHitters.TokenEvent]] =
    (0 until 3).map { b =>
      val at = ts(f"2024-03-05 08:0$b%d:00")
      val late = ts(f"2024-03-05 08:0$b%d:30")
      Seq.fill(5)(StreamingHeavyHitters.TokenEvent("hot", at)) ++
        (0 until 12).map(i =>
          StreamingHeavyHitters.TokenEvent(s"tail${b * 12 + i}", late))
    }

  test("HeavyHitters: restart from the checkpoint — SpaceSaving counters " +
       "resume, snapshots and state match an uninterrupted run") {
    val (ref, _) = restartParity("hh", hhBatches, 2, Some("counters"))(
      StreamingHeavyHitters.track(_, nBuckets = 1, capacity = 8))
    val hot = spark.read.parquet(ref.dir).filter(col("token") === "hot")
      .select("count").as[Long].collect()
    assert(hot.max == 15L, s"hot counts across batches: ${hot.toSeq}")
  }

  // -------------------------------------- foreachBatch object keys

  // ------------------------------- foreachBatch → AtomicPublish (WAP)

  test("foreachBatch → AtomicPublish: each micro-batch publishes a " +
       "complete snapshot; restart resumes from checkpointed state and " +
       "a replayed batch re-publishes idempotently") {
    import graft.sinks.AtomicPublish
    val table = tempDir("rec-wap-table").toString
    val chk = tempDir("rec-wap-chk").toString
    val src = MemoryStream[(String, Long)](spark)
    // a COMPLETE replacement snapshot per trigger: complete-mode
    // aggregate over everything seen so far
    val agg = src.toDF().groupBy(col("_1").as("k"))
      .agg(org.apache.spark.sql.functions.sum(col("_2")).as("total"))
      .select(col("k"), col("total"))
    def start() = agg.writeStream
      .option("checkpointLocation", chk)
      .outputMode("complete")
      .foreachBatch(AtomicPublish.publishEachBatch(table))
      .start()
    def published(): Map[String, Long] =
      AtomicPublish.readPublished(spark, table)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    val q1 = start()
    src.addData(Seq(("a", 1L), ("b", 2L), ("a", 3L)))
    q1.processAllAvailable()
    assert(published() == Map("a" -> 4L, "b" -> 2L))
    q1.stop()
    // data arrives while the query is DOWN; the published view stays
    // the last complete snapshot the whole time
    src.addData(Seq(("b", 10L), ("c", 5L)))
    assert(published() == Map("a" -> 4L, "b" -> 2L))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    // recovery resumed from checkpointed aggregate state — the new
    // snapshot covers ALL data, not just the post-restart batch
    assert(published() == Map("a" -> 4L, "b" -> 12L, "c" -> 5L))
    // the at-least-once replay case: a crash between publish and the
    // offset commit re-runs the batch on restart — re-publishing the
    // same snapshot lands a fresh generation with identical content,
    // a no-op for readers
    val before = published()
    val g = AtomicPublish.currentGeneration(table).get
    AtomicPublish.publishEachBatch(table)(
      AtomicPublish.readPublished(spark, table), 999L)
    assert(AtomicPublish.currentGeneration(table) == Some(g + 1))
    assert(published() == before,
      "a replayed publish must not change what readers see")
    // every generation on disk is itself one complete, homogeneous
    // snapshot (never a partial write): its 'a' count is 0 or the full
    // prefix value
    (0L to g + 1).foreach { gen =>
      val m = spark.read.parquet(s"$table/gen=$gen")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(Set(Map("a" -> 4L, "b" -> 2L),
                 Map("a" -> 4L, "b" -> 12L, "c" -> 5L)).contains(m),
        s"gen=$gen is not a complete prefix snapshot: $m")
    }
  }

  test("web ingest: WARC extract → canonicalize → StreamingDedup → " +
       "AtomicPublish — state survives restart, a cross-restart dup is " +
       "caught, and a replayed publish converges") {
    // the reference's S1→K1→X1→K2 contract on web payloads
    // (camel/file-pipeline.yaml:17-252) as a STREAM: archives arrive,
    // records are extracted and canonicalized map-side, near-dup state
    // spans the restart, and the duplicate registry is published
    // atomically per batch (VERDICT r15 item 3 / r14 item 7).
    import graft.ext.{Multimodal, UrlOps, Warc}
    import graft.sinks.AtomicPublish
    import org.apache.spark.sql.functions.{to_timestamp, xxhash64, concat}
    {
      val table = tempDir("rec-web-table").toString
      val chk = tempDir("rec-web-chk").toString
      def warc(id: Long, url: String, date: String, body: String) =
        Multimodal.MediaRecord(id, "application/warc", Warc.encode(Seq(
          ("response",
            Seq("WARC-Target-URI" -> url, "WARC-Date" -> date),
            (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body")
              .getBytes("UTF-8")))))
      val src = MemoryStream[Multimodal.MediaRecord](spark)
      // extract (map-side WARC walk) → canonicalize → content key:
      // the dedup key folds in the CANONICAL url, so the cross-restart
      // duplicate below is only found if tracking-param stripping ran
      // inside the stream
      val docs = Warc.extractWarc(src.toDS()).toDF()
        .filter(col("ok") &&
          col("http_status") === org.apache.spark.sql.functions.lit(200))
        .select(col("media_id").as("docId"),
          xxhash64(concat(col("body_md5"),
            UrlOps.canonicalizeUrl(col("target_uri")))).as("simhash"),
          to_timestamp(col("warc_date")).as("eventTime"))
        .as[StreamingDedup.DocEvent]
      val hits = StreamingDedup.detect(docs, maxDistance = 3,
        watermarkDelay = "10 minutes")
      // duplicate registry: accumulate hits into a complete snapshot,
      // re-published atomically each batch (read-modify-publish —
      // distinct() makes the replayed-batch case a fixpoint)
      def pub(df: DataFrame, batchId: Long): Unit = {
        val fresh = df.select(col("docId"), col("matchedId")).distinct()
        val next = AtomicPublish.currentGeneration(table) match {
          case Some(_) => AtomicPublish.readPublished(spark, table)
            .unionByName(fresh).distinct()
          case None => fresh
        }
        AtomicPublish.publishEachBatch(table)(next, batchId)
      }
      def start() = hits.toDF().writeStream
        .option("checkpointLocation", chk)
        .outputMode("append").foreachBatch(pub _).start()
      def published(): Set[(Long, Long)] =
        AtomicPublish.readPublished(spark, table)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

      val q1 = start()
      src.addData(Seq(
        warc(1L, "https://site.test/doc/1?utm_source=mail",
          "2024-03-05T10:00:00Z", "<html>same body</html>"),
        warc(2L, "https://site.test/doc/2",
          "2024-03-05T10:00:00Z", "<html>other body</html>")))
      q1.processAllAvailable()
      q1.stop()
      assert(published().isEmpty, "no duplicates in the first batch")
      // archives arrive while the query is DOWN: doc 3 duplicates doc 1
      // (same body, same canonical url modulo tracking params); doc 4
      // has the same body under a DIFFERENT canonical url — not a dup
      src.addData(Seq(
        warc(3L, "https://site.test/doc/1",
          "2024-03-05T10:01:00Z", "<html>same body</html>"),
        warc(4L, "https://site.test/doc/9",
          "2024-03-05T10:01:00Z", "<html>same body</html>")))
      val q2 = start()
      q2.processAllAvailable()
      q2.stop()
      // the match is only possible if doc 1's bucket state was
      // recovered from the checkpoint
      assert(published() == Set((3L, 1L)),
        "cross-restart duplicate must be caught, and only it")
      // at-least-once replay: re-publishing the same registry is a
      // fixpoint — a fresh generation, identical content
      val g = AtomicPublish.currentGeneration(table).get
      pub(AtomicPublish.readPublished(spark, table)
        .select(col("docId"), col("matchedId")), 999L)
      assert(AtomicPublish.currentGeneration(table) == Some(g + 1))
      assert(published() == Set((3L, 1L)),
        "a replayed publish must not change what readers see")
    }
  }

  test("foreachBatch → ObjectStore: deterministic keys make a replayed " +
       "batch (the crash-recovery case) converge, not duplicate") {
    val dir = tempDir("rec-store").toString
    val chk = tempDir("rec-store-chk").toString
    val src = MemoryStream[(Long, String)](spark)
    var replayRows: Option[Seq[(String, Array[Byte])]] = None
    def sink(df: DataFrame, batchId: Long): Unit = {
      val keyed = df.select(
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("incoming/2024/03/05/corr"),
          col("_1"), org.apache.spark.sql.functions.lit("/doc.pdf"))
          .as("s3IncomingKey"),
        org.apache.spark.sql.functions.encode(col("_2"), "UTF-8")
          .as("body"))
      putIncoming(keyed, dir)
      if (batchId == 1) {
        // materialize to DRIVER rows NOW, while the micro-batch's
        // backing RDD is live — a cache()d frame would recompute from a
        // dead streaming batch plan if its blocks were evicted before
        // the post-stop replay below
        replayRows = Some(keyed.collect().toSeq
          .map(r => (r.getString(0), r.getAs[Array[Byte]](1))))
      }
    }
    def start() = src.toDS().toDF().writeStream
      .option("checkpointLocation", chk)
      .foreachBatch(sink _).start()

    val q1 = start()
    src.addData((0 until 20).map(i => (i.toLong, s"payload-$i")))
    q1.processAllAvailable()
    src.addData((20 until 40).map(i => (i.toLong, s"payload-$i")))
    q1.processAllAvailable()
    q1.stop()
    // restart after the stop; batch 3 arrives
    val q2 = start()
    src.addData((40 until 50).map(i => (i.toLong, s"payload-$i")))
    q2.processAllAvailable()
    q2.stop()
    // simulate the at-least-once replay: re-put batch 2 wholesale (what
    // a crash between sink write and offset commit produces on restart),
    // rebuilt as a LOCAL frame from the driver rows captured above
    putIncoming(replayRows.get.toDF("s3IncomingKey", "body"), dir)

    val back = graft.sinks.ObjectStore.Bucket(spark, dir).list("incoming")
    assert(back.size == 50, "exactly one object per logical document")
    val ids = back.map(_.split("/")(4).stripPrefix("corr").toLong).sorted
    assert(ids == (0L until 50L))
  }

  /** `(s3IncomingKey, body)` rows put at their keys by the pipeline's writer. */
  private def putIncoming(keyed: DataFrame, dir: String): Unit =
    graft.sinks.ObjectStore.writeObjects(
      keyed.select(col("s3IncomingKey").as("key"), col("body"),
        org.apache.spark.sql.functions.lit(false).as("report")),
      graft.sinks.ObjectStore.Bucket(keyed.sparkSession, dir))
}
