package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the Column API backend-
  * agnostic (ColumnNode) and hid the classic Expression conversions
  * behind `private[sql]`; custom native expressions still need them.
  * This is the standard extension-library shim: a minimal accessor
  * placed in the sql package — no Spark internals are modified.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The bare value column beneath a possible `.asc`/`.desc` sort
    * wrapper — the Column-level view is a `private[sql]` ColumnNode, so
    * the unwrap needs the same shim. Identity for unsorted columns.
    */
  def unsort(c: Column): Column = c.node match {
    case so: org.apache.spark.sql.internal.SortOrder => Column(so.child)
    case _ => c
  }

  /** Runtime (session-scoped) function registration — sessionState is
    * `private[sql]`, so live registration needs the same shim.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** The session's Hadoop conf: the SparkContext's (`spark.hadoop.*`)
    * plus the session's runtime settings — what Spark's own file sources
    * use; `sessionState` is `private[sql]`, hence the shim.
    */
  def hadoopConf(spark: org.apache.spark.sql.SparkSession)
      : org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()
}
