// Bridge into the private[sql] Expression↔Column converters. Living in
// the org.apache.spark.sql package tree is the standard extension
// pattern for libraries that define native Catalyst expressions (the
// converters themselves are stable internals used by every Spark 4
// connector).
package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A frame over rows already in Spark's internal format, laid out as
    * `schema` (graft.util.Prepared's output and its planning leaf).
    * `sizeInBytes` is the planner's size estimate of the rows (join
    * strategies read it); without one the frame counts as huge.
    */
  def fromInternal(spark: SparkSession, rows: RDD[InternalRow], schema: StructType,
      sizeInBytes: Option[BigInt] = None): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val df = session.internalCreateDataFrame(rows, schema)
    sizeInBytes.fold(df) { size =>
      val leaf = df.queryExecution.analyzed.asInstanceOf[LogicalRDD]
      classic.Dataset.ofRows(session, leaf.copy()(session, Some(Statistics(size)), None))
    }
  }
}
