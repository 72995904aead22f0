package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{SparkSession => ClassicSparkSession}
import org.apache.spark.sql.types.StructType

/** Bridge to the `private[sql]` Spark internals graft needs. It lives in the
  * org.apache.spark.sql package for access, the same technique every
  * external connector uses.
  *  - `internalCreateDataFrame`: a streaming Source's getBatch must return a
  *    DataFrame whose logical plan is flagged isStreaming, which has no
  *    public constructor.
  *  - `column` / `ofRows`: Column↔Expression conversion and building a
  *    DataFrame from a logical plan, for the graft SQL surface. */
object GraftSqlShim {

  def internalCreateDataFrame(
      spark: SparkSession,
      rdd: RDD[InternalRow],
      schema: StructType,
      isStreaming: Boolean): DataFrame =
    spark.asInstanceOf[ClassicSparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)

  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[ClassicSparkSession], plan)
}
