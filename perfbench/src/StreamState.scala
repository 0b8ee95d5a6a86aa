package perfbench

import java.nio.file.Files
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming._

/** Order-insensitive content hash of a result: row count plus the sum of
  * xxhash64 over each row's JSON (columns sorted by name), as a decimal
  * string (no overflow).
  */
object ContentHash {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}

/** Expected values kept in `perfbench/expected/<name>.json`: a flat object
  * of key -> string.
  */
object Expected {
  def load(ctx: Ctx, name: String): Map[String, String] = {
    val p = ctx.expectDir.resolve(s"$name.json")
    if (!Files.exists(p)) Map.empty
    else Json.parse(new String(Files.readAllBytes(p), "UTF-8")).properties()
      .asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  def save(ctx: Ctx, name: String, m: Map[String, String]): Unit = {
    val p = ctx.expectDir.resolve(s"$name.json")
    Files.createDirectories(p.getParent)
    val body = scala.collection.immutable.ListMap(m.toSeq.sortBy(_._1): _*)
    Files.write(p, (Json.render(body).replace("\",\"", "\",\n \"") + "\n")
      .getBytes("UTF-8"))
  }
}

/** The `stream_state` workload: closed-loop addData -> processAllAvailable
  * cycles over seeded event streams, each operator through a fresh RocksDB
  * checkpoint, one untimed warm-up batch per operator. Event time advances
  * every batch, so watermarks, timers and TTL purges fall inside the timed
  * window (checked: the tracker emits STALLED rows and the CDC dedup
  * purges owners in every run). The seed permutes the order of events
  * inside each micro-batch; the operators' outputs must not depend on it.
  */
object StreamState {
  val PerBatch = 1000

  /** Timed batches per operator for a run of `seconds`. */
  def batchesFor(seconds: Int): Int =
    math.max(2, math.min(MaxBatches, math.round(seconds * 0.25f)))
  /** Expected outputs are stored for every run length up to this. */
  val MaxBatches = 12

  final case class OpRun(name: String, eventsIn: Long, outRows: Long,
                         sinkRows: Long, hash: String, cycleMs: Seq[Double],
                         progress: Seq[StreamingQueryProgress],
                         stateRows: Long, bound: Long, removed: Long,
                         timerRows: Long, warmupMs: Double,
                         spans: Seq[(Long, Double, Double)],
                         prefixes: Seq[(Long, String)])

  private val t0 = Timestamp.valueOf("2024-03-05 00:00:00").getTime
  private def at(minutes: Double): Timestamp =
    new Timestamp(t0 + (minutes * 60000).toLong)

  private def lcg(x: Long): Long = x * 6364136223846793005L + 1442695040888963407L
  private def words(seed: Long, n: Int, vocab: Int): String = {
    var s = seed
    (0 until n).map { _ => s = lcg(s); "w" + Math.floorMod(s, vocab) }.mkString(" ")
  }

  /** Batches -1 (warm-up) .. n-1, each shuffled by the seed. */
  def batches[A](seed: Long, n: Int)(gen: Int => Seq[A]): Seq[Seq[A]] =
    (-1 until n).map { b =>
      val r = new scala.util.Random(seed * 7919L + b)
      r.shuffle(gen(b))
    }

  /** Drives one operator; returns its timed cycles and final output. */
  private def drive[I: Encoder](ctx: Ctx, name: String, parent: Long,
                                 input: Seq[Seq[I]],
                                 build: Dataset[I] => Dataset[_],
                                 bound: (Seq[Seq[I]], DataFrame) => Long,
                                 timerRows: DataFrame => Long = _ => 0L): OpRun = {
    val spark = ctx.spark
    val src = MemoryStream[I](spark, ctx.cores)
    val table = s"pb_${name}_${System.nanoTime()}"
    val chk = ctx.work.resolve(s"chk-$name").toString
    val w0 = Clock.nowMs
    val q = build(src.toDS()).writeStream.option("checkpointLocation", chk)
      .format("memory").queryName(table).outputMode("append").start()
    src.addData(input.head)
    q.processAllAvailable()
    val warmRows = spark.table(table).count()
    val warmBatches = q.recentProgress.length
    val warmupMs = Clock.nowMs - w0
    val cycles = mutable.ArrayBuffer.empty[Double]
    val spans = mutable.ArrayBuffer.empty[(Long, Double, Double)]
    val prefixes = mutable.ArrayBuffer.empty[(Long, String)]
    input.tail.zipWithIndex.foreach { case (b, i) =>
      val c0 = Clock.nowMs
      val sid = ctx.rec.span(parent, s"$name.batch$i", "streaming", name, 2) { id =>
        src.addData(b)
        q.processAllAvailable()
        id
      }
      val c1 = Clock.nowMs
      cycles += c1 - c0
      spans += ((sid, c0, c1))
      if (ctx.recordExpected) prefixes += ContentHash.of(spark.table(table))
    }
    val progress = q.recentProgress.drop(warmBatches).toSeq
    q.stop()
    val outDf = spark.table(table)
    val (n, h) = ContentHash.of(outDf)
    val stateRows = progress.lastOption.map(_.stateOperators
      .map(_.numRowsTotal).sum).getOrElse(0L)
    val bnd = bound(input, outDf)
    val fired = timerRows(outDf)
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Main.deleteTree(java.nio.file.Paths.get(chk))
    OpRun(name, input.tail.map(_.size.toLong).sum, n - warmRows, n, h,
      cycles.toSeq, progress, stateRows, bnd,
      progress.flatMap(_.stateOperators).map(_.numRowsRemoved).sum, fired,
      warmupMs, spans.toSeq,
      prefixes.toSeq)
  }

  def operators(ctx: Ctx, nb: Int, parent: Long): Seq[OpRun] = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    Seq(
      {
        // two events per transfer (RECEIVED, then its terminal status one
        // second later); every 20th transfer never completes. Batches are
        // 12 event-time minutes apart, past the 10-minute timeout plus the
        // 1-minute watermark delay, so each batch's stalls fire (STALLED
        // rows, state removals) in the no-data batch after the next one
        val in = batches(seed, nb) { b =>
          (0 until PerBatch / 2).flatMap { i =>
            val id = s"t${b + 1}-$i"
            val recv = TransferTracker.StatusEvent(id, "RECEIVED", at(b * 12.0))
            if (i % 20 == 0) Seq(recv)
            else Seq(recv, TransferTracker.StatusEvent(id,
              if (i % 10 == 1) "FAILED" else "PROCESSED", at(b * 12.0 + 1.0 / 60)))
          }
        }
        drive[TransferTracker.StatusEvent](ctx, "TransferTracker", parent, in,
          ds => TransferTracker.track(ds.withWatermark("eventTime", "1 minute")
            .as[TransferTracker.StatusEvent]),
          // in flight: only the never-completed transfers of the last
          // batch; every earlier one has timed out
          (input, _) => (input.last.count(_.status == "RECEIVED")
            - input.last.count(_.status != "RECEIVED")).toLong,
          _.filter(col("finalStatus") === "STALLED").count())
      }, {
        val in = batches(seed, nb) { b =>
          (0 until PerBatch).map { i =>
            val t = Math.floorMod(lcg((b + 1).toLong * PerBatch + i), 1000)
            StreamingHeavyHitters.TokenEvent("t" + (t * t / 1000), at(b))
          }
        }
        drive[StreamingHeavyHitters.TokenEvent](ctx, "StreamingHeavyHitters",
          parent, in, ds => StreamingHeavyHitters.track(ds),
          (_, _) => 16L) // one SpaceSaving record per shard bucket
      }, {
        // every 32nd doc repeats one doc of the previous batch (a planted
        // pair: identical texts collide in every band)
        val in = batches(seed, nb) { b =>
          (0 until PerBatch / 4).map { i =>
            val id = (b + 1).toLong * PerBatch + i
            val src = if (i % 32 == 0) id - PerBatch + 1 else id
            StreamingMinhashDedup.DocText(id, words(1000000L + src, 30, 5000), at(b))
          }
        }
        drive[StreamingMinhashDedup.DocText](ctx, "StreamingMinhashDedup",
          parent, in, ds => StreamingMinhashDedup.detect(ds),
          // one packed row per (band, bucket): at most docs x bands
          (input, _) => input.map(_.size.toLong).sum * 32)
      }, {
        // every 16th doc repeats one text of the previous batch. Batches
        // are 75 event-time minutes apart, past the 1-hour TTL plus the
        // 10-minute watermark delay: a repeat still finds its owner alive,
        // and the owners no repeat refreshed are purged by their timers in
        // the no-data batch after the next batch
        val in = batches(seed, nb) { b =>
          (0 until PerBatch / 4).map { i =>
            val id = (b + 1).toLong * PerBatch + i
            val src = if (i % 16 == 0) id - PerBatch + 1 else id
            StreamingChunkDedup.DocText(id, words(7L * src, 40, 3000), at(b * 75.0))
          }
        }
        drive[StreamingChunkDedup.DocText](ctx, "StreamingCdcChunkDedup",
          parent, in, ds => StreamingCdcChunkDedup.dedup(ds),
          // owners left: at most one per chunk occurrence of the last batch
          // (the earlier batches' owners have all aged out)
          (input, out) => out.filter(col("eventTime") ===
            lit(input.last.head.eventTime)).count())
      }, {
        // 7-minute stride over a 5-minute gap: each batch's sessions close
        // once the next batch's watermark passes them
        val in = batches(seed, nb) { b =>
          (0 until PerBatch).map { i =>
            StreamingSessions.UserEvent(i % 250L, (i % 89) / 10.0,
              at(b * 7.0 + (i % 4) * 0.25))
          }
        }
        drive[StreamingSessions.UserEvent](ctx, "StreamingSessions", parent, in,
          ds => StreamingSessions.sessions(ds, gap = "5 minutes",
            watermarkDelay = "1 minute"),
          // open sessions: one per user, for the last two batches
          (_, _) => 2L * 250)
      })
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val nb = batchesFor(ctx.seconds)
    val t0 = Clock.nowMs
    val runs = operators(ctx, nb, -1L)
    val t1 = Clock.nowMs
    val setupMs = runs.map(_.warmupMs).sum
    ctx.rec.add(-1L, "stream_state", "bench", "stream_state", t0, t1, 0)

    // ---- correctness ----
    val expected = Expected.load(ctx, "stream_state")
    val problems = mutable.ArrayBuffer.empty[String]
    var failed = 0
    runs.foreach { r =>
      val key = s"${r.name}/batches=$nb"
      val got = s"${r.sinkRows}:${r.hash}"
      var ok = true
      expected.get(key) match {
        case Some(want) if want != got =>
          problems += s"${r.name}: output $got, expected $want"; ok = false
        case None if !ctx.recordExpected =>
          problems += s"${r.name}: no expected value for $key"; ok = false
        case _ =>
      }
      if (r.stateRows > r.bound) {
        problems += s"${r.name}: ${r.stateRows} state rows exceed bound ${r.bound}"
        ok = false
      }
      // the timed window must hold the timer and TTL churn it is meant to
      // measure: the tracker's timeouts and the CDC owners' TTL purges
      val churn = r.name match {
        case "TransferTracker" => r.timerRows
        case "StreamingCdcChunkDedup" => r.removed
        case _ => 1L
      }
      if (churn == 0) {
        problems += s"${r.name}: no timer or TTL purge fired in the timed batches"
        ok = false
      }
      if (!ok) failed += 1
    }
    if (ctx.recordExpected) {
      // the sink after each timed batch, so any run length can be checked
      val rec = runs.flatMap { r =>
        r.prefixes.zipWithIndex.map { case ((n, h), i) =>
          s"${r.name}/batches=${i + 1}" -> s"$n:$h"
        }
      }
      Expected.save(ctx, "stream_state", expected ++ rec.toMap)
    }

    // ---- metrics ----
    val cycles = runs.flatMap(_.cycleMs)
    val events = runs.map(_.eventsIn).sum
    val timedS = cycles.sum / 1000.0
    val e2e = Map(
      "latency_p50_ms" -> Stats.percentile(cycles, 50),
      "latency_p90_ms" -> Stats.percentile(cycles, 90),
      "throughput_per_s" -> events / timedS,
      "work_s" -> timedS)
    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val progress = runs.flatMap(_.progress)
    def dur(k: String) = progress.map(p =>
      Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    def ops = progress.flatMap(_.stateOperators)
    def custom(k: String) = ops.map(o =>
      Option(o.customMetrics.get(k)).map(_.toDouble).getOrElse(0.0)).sum
    perLayer ++= Seq(
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.no_data_batches" -> progress.count(_.numInputRows == 0).toDouble,
      "streaming.state_rows_total" -> runs.map(_.stateRows).sum.toDouble,
      "streaming.state_rows_updated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "streaming.state_rows_removed" -> ops.map(_.numRowsRemoved).sum.toDouble,
      "streaming.state_memory_bytes" -> runs.map(_.progress.lastOption
        .map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)).sum.toDouble,
      "streaming.state_commit_ms" -> ops.map(_.commitTimeMs).sum.toDouble,
      "streaming.state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum.toDouble,
      "streaming.state_removal_ms" -> ops.map(_.allRemovalsTimeMs).sum.toDouble,
      "streaming.rocksdb_flush_ms" -> custom("rocksdbCommitFlushLatency"),
      "streaming.rocksdb_checkpoint_ms" -> custom("rocksdbCommitCheckpointLatency"),
      "streaming.output_ratio" -> runs.map(_.outRows).sum.toDouble / events)
    ctx.listener.foreach { l =>
      org.apache.spark.BenchAccess.drainListeners(spark)
      runs.foreach { r =>
        r.spans.foreach { case (sid, lo, hi) =>
          // progress components of the batches in this cycle, laid out in
          // execution order from each trigger's start
          r.progress.filter { p =>
            val s = java.time.Instant.parse(p.timestamp).toEpochMilli
            s >= lo - 1 && s < hi
          }.foreach { p =>
            var cur = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
            Seq("latestOffset", "walCommit", "queryPlanning", "addBatch",
              "commitOffsets").foreach { k =>
              val d = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
              if (d > 0) ctx.rec.add(sid, k, "streaming", r.name, cur, cur + d, 3)
              cur += d
            }
          }
          l.emitSpans(ctx.rec, sid, r.name, 4, lo, hi, _ => ("spark", ""))
        }
      }
      perLayer += "bench.listener_callback_pct" -> l.callbackNs.get / 1e6 / (t1 - t0) * 100
      // self times over the timed windows only: warm-ups are set-up
      val spans = ctx.rec.all
      perLayer ++= runs.map(r => Transfer.selfMetrics(spans, r.spans.head._2,
        r.spans.last._3)).flatten.groupMapReduce(_._1)(_._2)(_ + _)
    }

    Outcome(runs.size.toLong, failed.toLong, problems.toSeq, setupMs / 1000.0,
      e2e, perLayer.toMap,
      Map("stream_state" -> scala.collection.immutable.ListMap(
        "loop" -> "closed, one client", "events_per_batch" -> PerBatch,
        "timed_batches_per_operator" -> nb,
        "batch_samples" -> cycles.size,
        "batch_quartiles_ms" -> Transfer.quartiles(cycles),
        "batch_p90_beyond" -> Stats.beyond(cycles, 90),
        "rows_per_s" -> events / timedS,
        "operators" -> runs.map(r => scala.collection.immutable.ListMap(
          "operator" -> r.name, "events" -> r.eventsIn, "out_rows" -> r.outRows,
          "hash" -> r.hash, "state_rows" -> r.stateRows, "bound" -> r.bound,
          "state_rows_removed" -> r.removed, "timer_rows" -> r.timerRows,
          "warmup_ms" -> r.warmupMs, "batch_ms" -> r.cycleMs,
          "rows_per_s" -> r.eventsIn / (r.cycleMs.sum / 1000.0))))))
  }
}
