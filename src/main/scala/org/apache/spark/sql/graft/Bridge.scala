package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{PartitionedFileUtil, SQLExecution}
import org.apache.spark.sql.execution.datasources.{FilePartition, FileStatusWithMetadata, PartitionDirectory}

/** Column ↔ catalyst Expression bridge for Spark 4 (where Column wraps
  * a ColumnNode, not an Expression). Lives under org.apache.spark.sql
  * to reach the private[sql] ExpressionUtils — the standard pattern for
  * libraries extending Spark with native expressions.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Run `body` over `df`'s row RDD as one SQL execution named `name`,
    * the way a Dataset action runs: the session's SQL confs reach the
    * tasks, and listeners see the execution. `name` is also the jobs'
    * description unless the caller set one.
    */
  def withExecution[T](df: DataFrame, name: String)(body: RDD[InternalRow] => T): T = {
    val qe = df.queryExecution
    described(df.sparkSession.sparkContext, name)(
      SQLExecution.withNewExecutionId(qe, Some(name))(body(qe.toRdd)))
  }

  /** The number of partitions Spark's file scan packs `files` (path,
    * bytes) into: `FilePartition.maxSplitBytes`, each file split at it,
    * then next-fit by size, largest first.
    */
  def filePartitionCount(spark: SparkSession, files: Seq[(String, Long)]): Int = {
    val statuses = files.map { case (p, n) =>
      FileStatusWithMetadata(new org.apache.hadoop.fs.FileStatus(
        n, false, 1, n, 0L, new org.apache.hadoop.fs.Path(p)))
    }
    val maxSplit = FilePartition.maxSplitBytes(spark,
      Seq(PartitionDirectory(InternalRow.empty, statuses)))
    val splits = statuses.flatMap(st => PartitionedFileUtil.splitFiles(
        st, st.getPath, isSplitable = true, maxSplit, InternalRow.empty))
      .sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, splits, maxSplit).size
  }

  /** Run `body` with `name` as its jobs' description unless the caller
    * set one.
    */
  def described[T](sc: SparkContext, name: String)(body: => T): T = {
    val set = sc.getLocalProperty(SparkContext.SPARK_JOB_DESCRIPTION) != null
    if (!set) sc.setJobDescription(name)
    try body finally if (!set) sc.setJobDescription(null)
  }
}
