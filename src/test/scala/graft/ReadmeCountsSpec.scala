package graft

import org.scalatest.funsuite.AnyFunSuite

/** README's query counts come from the registry: every three-digit query
  * count reads "N registered queries" (`SparkEntry.all`) or "N with
  * DuckDB oracle SQL" (`SparkEntry.oracleSql`), and each matches it.
  */
class ReadmeCountsSpec extends AnyFunSuite {

  test("README query and oracle counts match the registry") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    def counts(re: String): Seq[Int] =
      re.r.findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    val registered = counts("""(\d+)\s+registered\s+queries""")
    val oracle = counts("""(\d+)\s+with\s+DuckDB\s+oracle\s+SQL""")
    assert(registered.nonEmpty &&
      registered.forall(_ == SparkEntry.all.size),
      s"README registered counts $registered, registry ${SparkEntry.all.size}")
    assert(oracle.nonEmpty && oracle.forall(_ == SparkEntry.oracleSql.size),
      s"README oracle counts $oracle, registry ${SparkEntry.oracleSql.size}")
    assert(counts("""(\d{3})\s+queries""").isEmpty,
      "a query count in README names neither the registry nor the oracles")
  }
}
