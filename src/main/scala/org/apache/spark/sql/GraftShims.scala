package org.apache.spark.sql

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.arrow.{ArrowBatchStreamWriter, ArrowConverters}
import org.apache.spark.sql.types._

/** Bridge to `private[sql]` constructors that extension libraries need:
  * Column ↔ catalyst Expression, and DataFrame from a LogicalPlan; to
  * the driver's result-size limit and the scheduler's task-failure limit,
  * which only `private[spark]` code can read; and to Spark's own Arrow
  * batch encoder and IPC stream writer.
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

  /** One task's partition in Spark's own Arrow encoding, the one behind
    * `Dataset.toArrowBatchRdd`: record batches of
    * `spark.sql.execution.arrow.maxRecordsPerBatch` rows. */
  final class ArrowPartition private[GraftShims] (
      batches: Iterator[Array[Byte]], schema: StructType, timeZone: String,
      largeVarTypes: Boolean) {
    /** The partition as ONE Arrow IPC stream (schema, batches, end
      * marker), through `ArrowBatchStreamWriter`; `out` stays open. */
    def writeTo(out: java.io.OutputStream): Unit = {
      val w = new ArrowBatchStreamWriter(schema, out, timeZone,
        true, largeVarTypes)
      w.writeBatches(batches)
      w.end()
    }
  }

  /** Runs ONE Spark job over `df` (as one SQL execution): each task gets
    * its partition as an [[ArrowPartition]], and the job returns what the
    * tasks return, in partition order, from the attempts the scheduler
    * accepted. A frame with no partitions runs one empty one, so every
    * call sees at least one stream, and it carries the schema. Zoned
    * timestamps go as naive ones holding the same UTC microseconds, so a
    * value does not depend on the session's time zone. */
  def arrowPartitions[A: ClassTag](df: DataFrame)(
      task: ArrowPartition => A): Array[A] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val conf = ds.sparkSession.sessionState.conf
    val schema = naiveTimestamps(ds.schema).asInstanceOf[StructType]
    val perBatch = conf.arrowMaxRecordsPerBatch.toLong
    val tz = conf.sessionLocalTimeZone
    val large = conf.arrowUseLargeVarTypes
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("arrowPartitions")) {
      val rows = qe.executedPlan.execute()
      val nonEmpty =
        if (rows.getNumPartitions > 0) rows
        else ds.sparkSession.sparkContext.parallelize(Seq.empty[InternalRow], 1)
      nonEmpty.mapPartitions { it =>
        val batches = ArrowConverters.toBatchIterator(it, schema, perBatch,
          tz, true, large, TaskContext.get())
        Iterator(task(new ArrowPartition(batches, schema, tz, large)))
      }.collect()
    }
  }

  private def naiveTimestamps(dt: DataType): DataType = dt match {
    case TimestampType => TimestampNTZType
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = naiveTimestamps(f.dataType))))
    case a: ArrayType => a.copy(elementType = naiveTimestamps(a.elementType))
    case m: MapType => m.copy(keyType = naiveTimestamps(m.keyType),
      valueType = naiveTimestamps(m.valueType))
    case other => other
  }
}
