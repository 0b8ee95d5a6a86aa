package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One streaming state model: no operator in `src/main` uses the
  * group-state API, in `src/test` only `TestSpark` picks the state store
  * provider, the one the mains use, and every `transformWithState`
  * operator is a row of the streaming census or named below with the
  * reason it is not yet one.
  */
class StateModelSpec extends AnyFunSuite {

  /** Names of the Scala files under `dir` whose text matches `re`. */
  private def matching(dir: String, re: String): Set[String] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala"))
      .filter(p => re.r.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString).toSet
    finally walk.close()
  }

  test("src/main calls neither flatMapGroupsWithState nor mapGroupsWithState") {
    val bad = matching("src/main",
      """\.(flatMapGroupsWithState|mapGroupsWithState)\b""")
    assert(bad.isEmpty, s"group-state operators in $bad")
  }

  test("in src/test only TestSpark sets the state store provider") {
    val bad = matching("src/test", """stateStore\.providerClass""") --
      Set("TestSpark.scala", "StateModelSpec.scala")
    assert(bad.isEmpty, s"provider set outside TestSpark in $bad")
  }

  test("only the operators whose timers emit rows list their timers") {
    // the TTL operators arm a key's timer once (EventTimeTtl) and never
    // list timers; these five emit rows at their timers' deadlines
    val emitting = Set("TransferTracker", "StreamingGapFill",
      "StreamingHeldAlert", "StreamingFunnel", "StreamingRetry")
      .map(_ + ".scala")
    val bad = matching("src/main/scala/graft/streaming",
      """\blistTimers\b""") -- emitting
    assert(bad.isEmpty, s"listTimers outside the emitting operators in $bad")
  }

  /** Operators on `transformWithState` that are not census rows yet,
    * each with the reason. */
  private val notYetCensused = Map(
    "StreamingChunkDedup" -> ("drives the owner processor of the censused " +
      "StreamingCdcChunkDedup; its fixed-window chunking has no workload"),
    "StreamingFunnel" -> "no workload yet: staged event types per user",
    "StreamingGapFill" -> "no workload yet: keys that go quiet so fills fire",
    "StreamingHeldAlert" -> "no workload yet: finalized window evaluations",
    "StreamingRetry" -> "no workload yet: failed attempts waiting out backoff")

  test("every transformWithState operator is a census row or named as not yet one") {
    // top-level objects whose own body calls transformWithState
    val walk = Files.list(Paths.get("src/main/scala/graft/streaming"))
    val stateful = try walk.iterator.asScala.toSeq.flatMap { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      val objs = """(?m)^object\s+(\w+)""".r.findAllMatchIn(text).toSeq
      objs.zip(objs.drop(1).map(_.start) :+ text.length).collect {
        case (m, end)
          if text.substring(m.end, end).contains(".transformWithState(") =>
          m.group(1)
      }
    }.toSet finally walk.close()
    val census = StreamBench.entries.map(_.name.takeWhile(_ != '(')).toSet
    val listed = notYetCensused.keySet
    assert((listed & census).isEmpty, s"censused but listed: ${listed & census}")
    assert(listed.subsetOf(stateful), s"listed but not stateful: ${listed -- stateful}")
    assert((stateful -- census -- listed).isEmpty,
      s"neither censused nor listed: ${stateful -- census -- listed}")
  }
}
