package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (suite-level sessions
  * would pay JVM+session startup repeatedly), on the RocksDB state store
  * like `Harness.session()`: transformWithState, the one streaming state
  * API, runs on no other provider.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
