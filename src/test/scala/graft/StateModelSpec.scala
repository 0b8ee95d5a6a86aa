package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** One streaming state model: no operator in `src/main` uses the
  * group-state API, and in `src/test` only `TestSpark` picks the state
  * store provider, the one the mains use.
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
}
