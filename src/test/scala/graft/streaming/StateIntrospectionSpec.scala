package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.streaming.StreamingQuota.FileEvent

/** The operational half of stateful streaming: a running pipeline's
  * state must be INSPECTABLE offline — quota investigations ("why is
  * sap denied?") read the ledger from the checkpoint, they don't
  * attach a debugger to the job. Spark 4's state data source
  * (`state-metadata` / `statestore` formats) serves exactly that; these
  * tests pin that our transformWithState checkpoint layout stays
  * readable by it — schema drift here breaks runbooks, not unit tests.
  */
class StateIntrospectionSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  /** Run the quota query over one batch against `chk`, then stop. */
  private def runQuota(chk: String): Unit = {
    val source = MemoryStream[FileEvent](spark)
    val q = StreamingQuota.enforce(source.toDS(), quotaBytes = 100L)
      .writeStream.option("checkpointLocation", chk)
      .format("memory").queryName(s"quota_state_${System.nanoTime()}")
      .outputMode("append").start()
    source.addData(
      FileEvent("sap", "a.pdf", 40L, ts("2024-03-05 01:00:00")),
      FileEvent("sap", "b.pdf", 30L, ts("2024-03-06 01:00:00")),
      FileEvent("crm", "x.pdf", 90L, ts("2024-03-05 02:00:00")))
    q.processAllAvailable()
    q.stop()
  }

  test("state-metadata lists the quota operator and its state variable") {
    val chk = tempDir("quota-meta").toString
    runQuota(chk)
    val meta = spark.read.format("state-metadata").load(chk)
    val ops = meta.select("operatorName").as[String].collect().toSet
    assert(ops.exists(_.toLowerCase.contains("transformwithstate")),
      s"expected a transformWithState operator in $ops")
  }

  test("statestore reads the MapState ledger back from the checkpoint") {
    val chk = tempDir("quota-ledger").toString
    runQuota(chk)
    val state = spark.read.format("statestore")
      .option("stateVarName", "used").load(chk)
    // composite-key layout: grouping key + map key structs, value struct
    val ledger = state
      .selectExpr("key.value AS sourceSystem",
        "user_map_key.value AS day", "user_map_value.value AS used")
      .as[(String, String, Long)].collect().toSet
    assert(ledger == Set(
      ("sap", "2024-03-05", 40L),
      ("sap", "2024-03-06", 30L),
      ("crm", "2024-03-05", 90L)), s"unexpected ledger: $ledger")
  }
}
