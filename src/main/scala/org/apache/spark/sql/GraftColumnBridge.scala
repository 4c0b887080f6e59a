package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** The bridge between graft's custom Catalyst expressions and the public
  * Column API; the typed constructors in `graft.functions` build every
  * kernel Column through it. Constructing the Column directly, with no
  * named slot in the session's function registry, keeps concurrent
  * plan-building on one SparkSession race-free: each expression closes
  * over ITS model's state. Lives in the spark.sql package only to reach
  * the package-private [[org.apache.spark.sql.classic.ExpressionUtils]]
  * converters and `TypeCollection`.
  */
object GraftColumnBridge {
  /** Wrap a Catalyst expression as a Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Unwrap a Column to its Catalyst expression (attribute references
    * convert statically; no session interaction). */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Spark's own analysis-time input check, failing with
    * DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE: each of `inputs` must have
    * one of its `accepted` types (nullability aside). */
  def checkInputTypes(inputs: Seq[Expression],
      accepted: Seq[Seq[types.DataType]]): catalyst.analysis.TypeCheckResult =
    catalyst.expressions.ExpectsInputTypes.checkInputDataTypes(
      inputs, accepted.map(ts => types.TypeCollection(ts: _*)))
}
