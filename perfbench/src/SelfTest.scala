package perfbench

import java.nio.file.Files

/** The benchmark's own tests: `python3 perfbench/run.py --self-test`.
  * Exits 1 on the first failed check.
  */
object SelfTest {
  private var n = 0
  private def check(what: String)(ok: => Boolean): Unit = {
    n += 1
    if (!ok) { println(s"FAIL $what"); sys.exit(1) }
    println(s"ok   $what")
  }
  private def near(a: Double, b: Double) = math.abs(a - b) < 1e-9

  def main(args: Array[String]): Unit = {
    // ---- order statistics (values from numpy and Python's statistics) ----
    val xs = (1 to 10).map(_.toDouble)
    check("percentile interpolates between ranks") {
      near(Stats.percentile(xs, 50), 5.5) && near(Stats.percentile(xs, 90), 9.1) &&
        near(Stats.percentile(xs, 0), 1) && near(Stats.percentile(xs, 100), 10)
    }
    check("quartiles match statistics.quantiles(n=4)") {
      Stats.quartiles(xs) == ((2.75, 5.5, 8.25)) &&
        Stats.quartiles(Seq(3.0, 1.0)) == ((0.5, 2.0, 3.5)) &&
        Stats.quartiles(Seq(1.0, 2.0, 4.0, 8.0, 16.0)) == ((1.5, 4.0, 12.0))
    }
    check("beyond counts samples above a percentile") {
      Stats.beyond((1 to 100).map(_.toDouble), 90) == 10
    }

    // ---- generators ----
    def bytes(ps: Seq[DocPlan]) = ps.map(p => (p.fileName, p.contentType,
      p.body.toSeq, p.checksum, p.correlationId, p.outcome, p.serviceMs))
    check("transfer generator: same seed, byte-identical documents") {
      bytes(TransferGen.plan(7, 0, 50)) ==
        bytes(TransferGen.plan(7, 0, 50))
    }
    check("transfer generator: another seed changes the documents") {
      bytes(TransferGen.plan(7, 0, 50)) !=
        bytes(TransferGen.plan(8, 0, 50))
    }
    check("transfer generator: the planned mix has every outcome") {
      TransferGen.plan(3, 0, 400).map(_.outcome).toSet ==
        Set("ok", "transient", "permanent", "invalid_size", "invalid_checksum")
    }
    val gen = (b: Int) => (0 until 100).map(i => b * 1000 + i)
    check("stream_state generator: seeded order, same events") {
      StreamState.batches(5, 3)(gen) == StreamState.batches(5, 3)(gen) &&
        StreamState.batches(5, 3)(gen) != StreamState.batches(6, 3)(gen) &&
        StreamState.batches(5, 3)(gen).map(_.sorted) ==
          StreamState.batches(6, 3)(gen).map(_.sorted)
    }
    check("analytics: the seed sets only the query order") {
      val a = new scala.util.Random(1).shuffle(Analytics.QueryIds)
      val b = new scala.util.Random(2).shuffle(Analytics.QueryIds)
      a == new scala.util.Random(1).shuffle(Analytics.QueryIds) && a != b &&
        a.sorted == b.sorted
    }

    // ---- open-loop schedule ----
    var clock = 1000.0
    val sends = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val loop = new OpenLoop(100.0, 1000L, 20, () => clock,
      ms => clock += ms)
    loop.run { (i, due) =>
      sends += ((i, due, clock))
      if (i == 5) clock += 300 // the consumer stalls the generator
    }
    check("open loop: a stall sends no fewer items") { loop.sent == 20 && sends.size == 20 }
    check("open loop: items keep their scheduled creation times") {
      sends.forall { case (i, due, _) => due == 1000L + i * 10 }
    }
    check("open loop: the stall shows as generator lag") {
      loop.lagMaxMs >= 290 && sends(6)._3 - sends(6)._2 >= 290
    }
    check("open loop: latency from creation time includes the stall") {
      // an item sent late is still timed from its due time
      val (_, due, sent) = sends(7)
      sent - due >= 280
    }

    // ---- output checks catch planted faults ----
    val dir = Files.createTempDirectory("perfbench-selftest")
    try {
      val plans = TransferGen.plan(11, 0, 60)
      val created = Array.fill(plans.size)(1700000000000L)
      val results = plans.filter(p => p.outcome == "ok" || p.outcome == "transient")
        .map(p => p.correlationId -> s"""{"doc":"${p.correlationId}"}""").toMap
      def put(key: String, body: Array[Byte]): Unit = {
        val f = dir.resolve(key); Files.createDirectories(f.getParent); Files.write(f, body)
      }
      plans.foreach { p =>
        val base = s"${Transfer.createdDay(created(p.idx))}/${p.correlationId}/${p.fileName}"
        if (p.valid) put(s"incoming/$base", p.body)
        if (results.contains(p.correlationId))
          put(s"processed/$base.json", results(p.correlationId).getBytes("UTF-8"))
        else {
          val exc = if (p.valid) s"docling: permanent failure for ${p.correlationId}"
                    else p.invalidReason
          put(s"failed/$base.failure.json",
            s"""{"correlationId":"${p.correlationId}","exception":"$exc"}""".getBytes("UTF-8"))
        }
      }
      def run() = TransferCheck.check(dir, plans, created, results)
      check("transfer check: a correct store passes") {
        val r = run(); r.problems.isEmpty && r.extra.isEmpty
      }
      val victim = plans.find(_.outcome == "ok").get
      val inc = dir.resolve(s"incoming/${Transfer.createdDay(created(victim.idx))}/" +
        s"${victim.correlationId}/${victim.fileName}")
      val good = Files.readAllBytes(inc)
      Files.write(inc, "tampered".getBytes("UTF-8"))
      check("transfer check: a wrong body is caught") {
        run().problems.exists { case (i, m) => i == victim.idx && m.contains("checksum") }
      }
      Files.delete(inc)
      check("transfer check: a missing object is caught") {
        run().problems.exists { case (i, m) => i == victim.idx && m.contains("missing") }
      }
      Files.write(inc, good)
      put("processed/2020/01/01/stray/x.json", Array[Byte](1))
      check("transfer check: an extra object is caught") {
        run().extra == Seq("processed/2020/01/01/stray/x.json")
      }
    } finally Main.deleteTree(dir)
    check("analytics check: a wrong query hash is caught") {
      Analytics.verdict("q1", 5, "123", Some("5:124")).isDefined &&
        Analytics.verdict("q1", 5, "123", Some("5:123")).isEmpty &&
        Analytics.verdict("q1", 5, "999", Some("5:*")).isEmpty &&
        Analytics.verdict("q1", 4, "123", Some("5:*")).isDefined &&
        Analytics.verdict("q1", 5, "123", None).isDefined
    }

    // ---- self-time attribution ----
    check("self times split the root window exactly") {
      val spans = Seq(
        Span(1, 0, "batch", "stream", "", 0, 100, 2),
        Span(2, 1, "job", "sinks", "", 10, 60, 3),
        Span(3, 2, "call", "enrich", "", 20, 40, 5),
        Span(4, 2, "call", "enrich", "", 30, 50, 5))
      val st = Attribution.selfTimes(spans, -20, 120, "bench")
      near(st.values.sum, 140) && near(st("bench"), 40) &&
        near(st("stream"), 50) && near(st("sinks"), 20) && near(st("enrich"), 30)
    }
    // ---- the metric lists BENCHMARK.json declares are the ones printed ----
    check("BENCHMARK.json names every metric the runs print, with its unit") {
      import scala.jdk.CollectionConverters._
      val b = Json.parse(new String(Files.readAllBytes(
        java.nio.file.Paths.get("BENCHMARK.json")), "UTF-8"))
      def list(k: String) = b.get(k).elements().asScala.toSeq
        .map(m => m.get("name").asText -> m.get("unit").asText)
      list("end_to_end") == Main.EndToEnd.map(n => n -> Main.Units(n)) &&
        list("per_layer") == Main.PerLayer.map(n => n -> Main.unitOf(n))
    }
    println(s"$n checks passed")
  }
}
