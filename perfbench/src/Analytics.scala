package perfbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

/** Generates the ten input tables the query registry reads (the schema of
  * the repository's TPC-H-like testdata, see TESTDATA.md) at scale factor `sf`,
  * from a fixed data seed: the analytics inputs never depend on the
  * workload seed, so the stored expected results hold for every run.
  */
object TableGen {
  val DataSeed = 42L
  private val Words = Seq("join", "hash", "row", "batch", "scan", "column",
    "customer", "filter", "small", "slow", "merge", "order", "vector", "line",
    "table", "data", "agg", "value", "key", "stream", "window", "a", "spark",
    "part", "group", "big", "sort", "query", "fast", "the")

  private val day0 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private def day(d: Int) = new Timestamp(day0 + d * 86400000L)
  private def round2(x: Double) = math.rint(x * 100) / 100

  def write(spark: SparkSession, dir: Path, sf: Double): Unit = {
    val r = new java.util.SplittableRandom(DataSeed)
    def table(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write
        .mode("overwrite").parquet(dir.resolve(s"$name.parquet").toString)
    def f(n: String, t: DataType) = StructField(n, t)
    val nCust = (150000 * sf).toInt; val nSupp = (10000 * sf).toInt
    val nPart = (200000 * sf).toInt; val nOrd = (1500000 * sf).toInt
    val nEv = (1000000 * sf).toInt; val nDoc = (50000 * sf).toInt

    table("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) })
    table("nation", StructType(Seq(f("n_nationkey", IntegerType),
      f("n_name", StringType), f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val segs = Seq("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
    table("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
      f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98), segs(r.nextInt(5)))))
    table("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        round2(-999.99 + r.nextDouble() * 10999.98))))
    val adj = Seq("blue", "cold", "hot", "large", "new", "old", "red", "small")
    val noun = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    val types = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    table("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, adj(r.nextInt(8)) + " " + noun(r.nextInt(8)),
        s"Brand#${1 + r.nextInt(25)}", types(r.nextInt(6)), 1 + r.nextInt(50),
        round2(900 + (i % 1000) * 0.1))))
    val prio = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val status = Seq("F", "O", "P")
    table("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, r.nextInt(nCust).toLong,
        status(r.nextInt(3)), round2(1000 + r.nextDouble() * 499000),
        day(r.nextInt(2405)), prio(r.nextInt(5)))))
    val nLine = nOrd * 4
    table("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (0 until nLine).map { _ =>
        val q = 1 + r.nextInt(50)
        Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong,
          1 + r.nextInt(7), q.toDouble, round2(q * (900 + r.nextDouble() * 1200)),
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          day(r.nextInt(2499)))
      })
    val evTypes = Seq("click", "error", "purchase", "signup", "view")
    val evStart = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val span = 30L * 86400L * 1000000L
    val evTs = (0 until nEv).map(_ => (r.nextDouble() * span).toLong).sorted
    table("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      evTs.zipWithIndex.map { case (us, i) =>
        val t = new Timestamp((evStart + us) / 1000)
        t.setNanos(((evStart + us) % 1000000L).toInt * 1000)
        Row(i.toLong, t, r.nextInt(math.max(1, nEv / 66)).toLong,
          evTypes(r.nextInt(5)), round2(0.01 + -math.log(1 - r.nextDouble()) * 50),
          s"""{"k": ${r.nextInt(100)}}""")
      })
    val langs = Seq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.14, "de" -> 0.14, "fr" -> 0.13)
    val texts = mutable.ArrayBuffer.empty[String]
    (0 until nDoc).foreach { i =>
      texts += (if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
      else (0 until 8 + r.nextInt(80)).map(_ => Words(r.nextInt(Words.size))).mkString(" "))
    }
    table("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.zipWithIndex.map { case (t, i) =>
        val u = r.nextDouble()
        val lang = langs.scanLeft(("", 0.0)) { case ((_, c), (l, w)) => (l, c + w) }
          .tail.find(_._2 >= u).map(_._1).getOrElse("en")
        Row(i.toLong, t, lang, s"src${i % 20}", t.length.toLong)
      }.toSeq)
    table("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (0 until nDoc).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(k => r.nextGaussian() + (if (k == label) 1.0 else 0.0))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
      })
  }
}

/** Records (start, Catalyst phase time) of every query execution that
  * finishes.
  */
final class PlanningListener extends QueryExecutionListener {
  val done = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private def add(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty)
      done.add((ph.map(_.startTimeMs).min.toDouble,
        ph.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** The `analytics` workload: one closed-loop client runs a stratified
  * subset of the batch query registry (`SparkEntry.queries`), each result
  * materialized through the `noop` sink. The seed sets only the query order.
  */
object Analytics {

  /** A rule-chosen stratified sample of the registry. Stratified set: from
    * each of the 17 modules in `SparkEntry.all`, its slowest and its median
    * query by the committed r17 sf0.1 bench minima (bench_out.json), 32
    * queries. Sample: ranks 4, 9, 14, 19, 24 and 29 of those 32 ordered by
    * that minimum (every 5th from the 4th fastest), so it spans the long
    * tail from sub-second planning-bound queries up to the q122 triangle
    * count, compute-bound at sf0.1. At the sf0.01 run here every one of them
    * is bound by per-query and per-job overhead, q122 included.
    */
  val QueryIds: Seq[String] = Seq("q73", "q186", "q19", "q07", "q161", "q122")

  val Sf = 0.01

  def queries: Seq[graft.GraftQuery] = QueryIds.map { id =>
    graft.SparkEntry.all.find(_.name.startsWith(id + "_")).getOrElse(
      throw new IllegalStateException(s"registry has no query $id"))
  }

  /** Tables are generated once per checkout (they depend on no argument). */
  def ensureTables(spark: SparkSession, root: Path): String = {
    val dir = root.resolve(s"tables-sf$Sf-seed${TableGen.DataSeed}")
    val done = dir.resolve("_COMPLETE")
    if (!Files.exists(done)) {
      Main.deleteTree(dir)
      TableGen.write(spark, dir, Sf)
      Files.write(done, Array.emptyByteArray)
    }
    dir.toString
  }

  /** Checks one result against its stored `rows:hash` (`rows:*` for a
    * query whose output is not bit-stable); returns the problem, if any.
    */
  def verdict(name: String, rows: Long, hash: String,
              expected: Option[String]): Option[String] = expected match {
    case None => Some(s"$name: no expected value")
    case Some(w) if w.endsWith(":*") =>
      if (w == s"$rows:*") None
      else Some(s"$name: $rows rows, expected ${w.dropRight(2)}")
    case Some(w) =>
      if (w == s"$rows:$hash") None
      else Some(s"$name: result $rows:$hash, expected $w")
  }

  final case class QueryRun(name: String, startMs: Double, builtMs: Double,
                            endMs: Double) {
    def wallMs: Double = endMs - startMs
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val dir = ensureTables(spark, ctx.work.getParent)
    val order = new scala.util.Random(ctx.seed).shuffle(queries)

    // ---- set-up: the untimed first pass fills the session caches and
    // checks every result ----
    val s0 = Clock.nowMs
    val expected = Expected.load(ctx, "analytics")
    val problems = mutable.ArrayBuffer.empty[String]
    val got = mutable.LinkedHashMap.empty[String, String]
    var failed = 0
    val firstPass = mutable.LinkedHashMap.empty[String, Double]
    order.foreach { q =>
      val q0 = Clock.nowMs
      val res = try {
        val (n, h) = ContentHash.of(q.run(spark, dir))
        Right((n, h))
      } catch { case e: Exception => Left(e.toString.take(300)) }
      res match {
        case Left(err) =>
          failed += 1; problems += s"${q.name}: failed: $err"
        case Right((n, h)) =>
          got(q.name) = s"$n:$h"
          firstPass(q.name) = Clock.nowMs - q0
          if (!ctx.recordExpected)
            verdict(q.name, n, h, expected.get(q.name)).foreach { p =>
              failed += 1; problems += p
            }
      }
    }
    val setupS = (Clock.nowMs - s0) / 1000.0
    if (ctx.recordExpected) {
      // a query whose hash differs from the stored one on a second recording
      // is not bit-stable: keep only its row count
      val merged = got.map { case (k, v) =>
        k -> (expected.get(k) match {
          case Some(w) if w != v => v.takeWhile(_ != ':') + ":*"
          case _ => v
        })
      }
      Expected.save(ctx, "analytics", merged.toMap)
    }

    // ---- timed passes until the run's seconds are used ----
    val planning = new PlanningListener
    if (ctx.traced) spark.listenerManager.register(planning)
    val materialized0 = ctx.listener.map { l =>
      org.apache.spark.BenchAccess.drainListeners(spark); l.materializedBytes.get
    }.getOrElse(0L)
    val runs = mutable.ArrayBuffer.empty[QueryRun]
    val passTotals = mutable.ArrayBuffer.empty[Double]
    val t0 = Clock.nowMs
    // another pass only when it is expected to end inside the run's seconds
    def meanPass = passTotals.sum / passTotals.size
    while (passTotals.isEmpty ||
           Clock.nowMs - t0 + meanPass <= ctx.seconds * 1000.0) {
      var total = 0.0
      order.foreach { q =>
        val a = Clock.nowMs
        var built = a
        ctx.rec.span(-1L, q.name, "analytics", q.name, 2) { _ =>
          val df = q.run(spark, dir)
          built = Clock.nowMs
          df.write.format("noop").mode("overwrite").save()
        }
        val r = QueryRun(q.name, a, built, Clock.nowMs)
        runs += r
        total += r.wallMs
      }
      passTotals += total
    }
    val t1 = Clock.nowMs
    ctx.rec.add(-1L, "analytics", "bench", "analytics", t0, t1, 0)
    if (ctx.traced) spark.listenerManager.unregister(planning)

    val walls = runs.map(_.wallMs).toSeq
    val e2e = Map(
      "latency_p50_ms" -> Stats.percentile(walls, 50),
      "latency_p90_ms" -> Stats.percentile(walls, 90),
      "throughput_per_s" -> runs.size / (walls.sum / 1000.0),
      "work_s" -> Stats.median(passTotals.toSeq) / 1000.0)

    val perLayer = mutable.LinkedHashMap.empty[String, Double]
    val perQuery = mutable.ArrayBuffer.empty[Map[String, Any]]
    ctx.listener.foreach { l =>
      org.apache.spark.BenchAccess.drainListeners(spark)
      val plans = planning.done.asScala.toSeq
      val totals = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      var peak = 0.0
      val spans = ctx.rec.all.filter(_.layer == "analytics")
      runs.foreach { r =>
        val jobs = l.jobsIn(r.startMs, r.endMs)
        val pre = jobs.filter(_.startMs < r.builtMs)
        val stages = jobs.flatMap(l.stagesOf)
        val parent = spans.find(s => s.name == r.name && s.startMs >= r.startMs - 0.001)
          .map(_.id).getOrElse(-1L)
        l.emitSpans(ctx.rec, parent, r.name, 3, r.startMs, r.endMs, _ => ("spark", ""))
        val m = scala.collection.immutable.ListMap(
          "wall_ms" -> r.wallMs,
          "planning_ms" -> plans.filter(p => p._1 >= r.startMs && p._1 <= r.endMs)
            .map(_._2).sum,
          "pre_action_jobs" -> pre.size.toDouble,
          "pre_action_ms" -> Attribution.covered(pre.map(j => (j.startMs, j.endMs)),
            r.startMs, r.builtMs),
          "action_ms" -> (r.endMs - r.builtMs),
          "jobs" -> jobs.size.toDouble,
          "stages" -> stages.size.toDouble,
          "tasks" -> stages.map(_.tasks).sum.toDouble,
          "executor_run_ms" -> stages.map(_.runMs).sum.toDouble,
          "executor_cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
          "gc_ms" -> stages.map(_.gcMs).sum.toDouble,
          "scheduler_delay_ms" -> stages.map(_.schedDelayMs).sum.toDouble,
          "input_bytes" -> stages.map(_.inputBytes).sum.toDouble,
          "shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
          "shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
          "spill_bytes" -> stages.map(_.spillBytes).sum.toDouble)
        m.foreach { case (k, v) => totals(k) += v }
        peak = math.max(peak, stages.map(_.peakExecMem).foldLeft(0L)(math.max).toDouble)
        perQuery += (m + ("query" -> r.name) + ("core_utilization" ->
          m("executor_run_ms") / (r.wallMs * ctx.cores)))
      }
      val passes = passTotals.size.toDouble
      totals.foreach { case (k, v) =>
        if (k != "wall_ms") perLayer += s"analytics.$k" -> v / passes
      }
      perLayer ++= Seq(
        "analytics.core_utilization" -> totals("executor_run_ms") /
          (totals("wall_ms") * ctx.cores),
        "analytics.materialized_bytes" ->
          (l.materializedBytes.get - materialized0) / passes,
        "analytics.peak_exec_mem_bytes" -> peak,
        "bench.listener_callback_pct" -> l.callbackNs.get / 1e6 / (t1 - t0) * 100)
      perLayer ++= Transfer.selfMetrics(ctx.rec.all, t0, t1)
    }

    Outcome(order.size.toLong, failed.toLong, problems.toSeq, setupS, e2e,
      perLayer.toMap,
      Map("analytics" -> scala.collection.immutable.ListMap(
        "loop" -> "closed, one client", "sf" -> Sf, "queries" -> order.size,
        "passes" -> passTotals.size, "query_samples" -> walls.size,
        "query_quartiles_ms" -> Transfer.quartiles(walls),
        "query_p90_beyond" -> Stats.beyond(walls, 90),
        "total_s" -> Stats.median(passTotals.toSeq) / 1000.0,
        "query_p50_s" -> Stats.percentile(walls, 50) / 1000.0,
        "order" -> order.map(_.name),
        "first_pass_ms" -> firstPass,
        "query_ms" -> runs.groupBy(_.name).map { case (k, v) =>
          k -> v.map(_.wallMs) },
        "per_query" -> perQuery.toSeq)))
  }
}
