package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus, which Spark keeps package-private: the traced
  * runs wait for it to drain before reading what their listeners saw.
  */
object BenchAccess {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
