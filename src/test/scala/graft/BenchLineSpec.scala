package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gate on the bench's ONE-LINE stdout contract (VERDICT r17 item 9):
  * the driver captures only the console tail, and the per-query map
  * once outgrew it (round 16, 239 queries — the round-over-round
  * comparison was lost). The 258-query round-17 line (3.7 KB) parsed,
  * so 4 KB is a measured-safe budget; this spec builds the worst-case
  * line for the CURRENT registry with Bench's own renderer at every
  * build, failing BEFORE a registry change silently grows the line past
  * the capture window.
  */
class BenchLineSpec extends AnyFunSuite {

  test("bench stdout line stays under the 4 KB capture budget") {
    // worst realistic width: every query at 100+ seconds (7 chars at 3
    // decimals), the longest sf dir and out path the driver uses
    val times = SparkEntry.queries.keys.toSeq.sorted
      .map(_ -> Seq(100.0, 100.0, 100.0))
    val line = Bench.stdoutLine("/root/testdata/sf0.1", 3, "bench_out.json",
      times)
    assert(line.length <= 4096,
      s"bench stdout line would be ${line.length} B for ${times.size} " +
        "queries — over the 4096 B capture budget; shrink the per-query " +
        "precision in Bench.stdoutLine or shorten ids")
  }
}
