package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 hides the classic converters behind
  * `private[sql]`; custom native expressions (graft.functions.*) need them to
  * surface as user-facing Columns. This is the only file outside the graft
  * namespace, and it contains no logic.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `AbstractDataType` is private[sql]; expressions outside the sql package
    * need it to declare `ExpectsInputTypes.inputTypes` (analysis-time type
    * checking for the native expression family). */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  /** `TypeCollection` (accept-any-of input typing) is private[sql] too —
    * expressions that take more than one concrete input type (e.g.
    * array<float> | array<double>) build their `inputTypes` through here. */
  def oneOf(types: AbstractType*): AbstractType =
    org.apache.spark.sql.types.TypeCollection(types: _*)

  /** Wrap a LogicalPlan as a DataFrame (classic Dataset.ofRows is
    * private[sql]) — used to surface custom logical nodes (graft.plans). */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
