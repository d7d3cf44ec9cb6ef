package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge to `private[sql]` constructors that extension libraries need:
  * Column ↔ catalyst Expression, and DataFrame from a LogicalPlan; and to
  * the driver's result-size limit and the scheduler's task-failure limit,
  * which only `private[spark]` code can read.
  * (Same approach as other Spark extension projects; Spark 4 removed the
  * public `new Column(expr)` constructor in favor of ColumnNode.)
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** `spark.driver.maxResultSize` in bytes (0 = no limit). */
  def maxResultSize(sc: org.apache.spark.SparkContext): Long =
    sc.conf.get(org.apache.spark.internal.config.MAX_RESULT_SIZE)

  /** The scheduler's task-failure limit: `spark.task.maxFailures` on a
    * cluster, F of a `local[N, F]` master, 1 for plain `local[N]`. */
  def maxTaskFailures(sc: org.apache.spark.SparkContext): Int =
    sc.taskScheduler match {
      case t: org.apache.spark.scheduler.TaskSchedulerImpl => t.maxTaskFailures
      case _ => sc.conf.get(org.apache.spark.internal.config.TASK_MAX_FAILURES)
    }
}
