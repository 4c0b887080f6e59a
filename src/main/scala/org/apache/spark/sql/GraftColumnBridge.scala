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

/** The engine's bridge from SQL text to a DataFrame: `spark.sql(text)`
  * with a rewrite of the unresolved parse tree before analysis. Like
  * `spark.sql` it parses with the session's parser and builds the
  * DataFrame with `Dataset.ofRows`, with the session active, so commands
  * execute and analysis runs eagerly exactly as they do there. Lives in
  * the spark.sql package only to reach the package-private factory.
  */
object GraftPlanBridge {
  def sql(spark: SparkSession, text: String)(
      rewrite: catalyst.plans.logical.LogicalPlan => catalyst.plans.logical.LogicalPlan): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    session.withActive(classic.Dataset.ofRows(session, rewrite(parse(spark, text))))
  }

  /** The unresolved parse tree the session's parser gives for `text`. */
  def parse(spark: SparkSession, text: String): catalyst.plans.logical.LogicalPlan =
    classic.ClassicConversions.castToImpl(spark).sessionState.sqlParser.parsePlan(text)
}
