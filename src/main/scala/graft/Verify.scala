package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    // Dev-only subset filter (SPARK_GRAFT_ONLY); driver sets no env, so
    // the shipped contract — dump every query — is unchanged.
    val queries = SparkEntry.queries
    Harness.selected(queries.keys).foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // every control char escaped: a tab or CR in hand-written oracle SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the correctness check
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Harness.str(k)}: ${Harness.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
