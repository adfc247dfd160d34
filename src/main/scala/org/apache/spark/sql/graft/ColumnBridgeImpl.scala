package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark 4 made Column construction go through the (package-private)
  * classic.ExpressionUtils; this bridge re-exports the two conversions the
  * graft expressions need. Standard pattern for Spark extension libraries
  * that define native Catalyst expressions.
  */
object ColumnBridgeImpl {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Analyzed logical plan of a DataFrame (for composing custom plans). */
  def plan(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** DataFrame over a custom logical plan. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The session's SQLConf (ANSI mode, time zone) for expressions built
    * outside a query. */
  def sqlConf(spark: SparkSession): SQLConf =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf

  /** DataFrame over rows already on the driver: a `LocalRelation`, so
    * `Dataset.isLocal` holds and [[localRows]] knows its size. */
  def localFrame(spark: SparkSession, schema: StructType,
      rows: Seq[InternalRow]): org.apache.spark.sql.DataFrame =
    ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** Row count of a frame over a `LocalRelation`, read from the relation
    * without running a job; None for any other plan. */
  def localRows(df: org.apache.spark.sql.DataFrame): Option[Long] = plan(df) match {
    case l: LocalRelation => Some(l.data.size.toLong)
    case _ => None
  }

  /** Block until the async listener bus has delivered all queued events
    * (private[spark]); instrumentation that reads listener-fed counters
    * needs this to avoid undercounting. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
