package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Column <-> Expression bridge for graft's native Catalyst
  * expressions. Spark 4 made the Column API implementation-agnostic
  * and the classic converters `private[sql]`; this shim re-exports
  * exactly the two conversions a library-defined `Expression` needs
  * to participate in the public Column API, the frame over an already
  * resolved logical plan (`graft.core.DeltaSide.collectBounded` runs
  * one branch of an optimized union) — plus the two
  * `private[spark]`/`private[sql]` hooks `graft.core.StatementMetrics`
  * reads: the listener-bus drain and an ended execution's
  * `QueryExecution`. */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  /** Waits until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
