package org.apache.spark.sql.graftshim

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one deliberate crossing into Spark's `private[sql]` surface:
  * wrapping a custom [[LogicalPlan]] node back into a public
  * `DataFrame`. Every extension library needs exactly this entry
  * (`Dataset.ofRows` is the canonical constructor the SQL layer itself
  * uses); keeping it in a single shim object makes the dependency on
  * Spark internals auditable and version-bump-sized.
  */
object GraftSqlShim {

  /** `Dataset.ofRows` for plans built by graft operators. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)

  /** A DataFrame over rows already in Catalyst's internal form (the
    * `private[sql]` `internalCreateDataFrame`): no per-row conversion
    * from external `Row`s. */
  def internalCreateDataFrame(
      spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSession].internalCreateDataFrame(rows, schema)

  /** Public `Column` over a custom catalyst `Expression` — for graft
    * expressions carrying non-expression parameters (e.g.
    * [[graft.functions.BucketIndex]]'s cut array) that the function
    * registry's children-only builders cannot construct. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** The inverse: the catalyst `Expression` behind a public `Column`. */
  def expression(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
