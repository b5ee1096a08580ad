package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal private[sql] bridge: build a DataFrame from a custom LogicalPlan
  * (the supported surface for third-party operators is SparkSessionExtensions
  * + a strategy; constructing the plan-bearing Dataset still needs
  * `Dataset.ofRows`, which is private[sql] — hence this one-file shim, the
  * standard pattern for Spark extension libraries).
  */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Column → catalyst Expression (Spark 4 moved `Column.expr` behind the
    * classic converter). The converter defers most columns to analysis;
    * a literal converts at once, so a kernel builder can read it as a plan
    * constant.
    */
  def expr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    c.node match {
      case l: internal.Literal => classic.ColumnNodeToExpressionConverter(l)
      case _ => classic.ExpressionUtils.expression(c)
    }

  /** catalyst Expression → Column — how every graft kernel reaches the
    * Column API (`graft.functions.Kernel.apply`), plan constants included
    * (e.g. a collected codebook array).
    */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Block until every listener has seen every event posted so far, so a
    * listener's view of a finished action is complete when read.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `Dataset.show`'s table, as a string. */
  def showString(df: DataFrame, rows: Int): String =
    df.asInstanceOf[classic.Dataset[Row]].showString(rows, 0)
}
