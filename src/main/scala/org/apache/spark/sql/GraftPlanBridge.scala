package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode,
  FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.types.DataType

/** The engine's bridge from SQL text to a DataFrame: `spark.sql(text)`
  * with a rewrite of the unresolved parse tree before analysis. Like
  * `spark.sql` it parses with the session's parser and builds the
  * DataFrame the way `Dataset.ofRows` does, with the session active, so
  * commands execute and analysis runs eagerly exactly as they do there.
  * The one difference is in the physical preparation of the statement's
  * own plan: [[BindFilterLiterals]] runs first, so the code generated for
  * its filters carries no statement literals. Lives in the spark.sql
  * package only to reach the package-private factory.
  */
object GraftPlanBridge {
  def sql(spark: SparkSession, text: String)(rewrite: LogicalPlan => LogicalPlan): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    session.withActive {
      val qe = new QueryExecution(session, rewrite(parse(spark, text)),
          shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)) {
        // before InsertAdaptiveSparkPlan, so AQE's query stages inherit it
        override protected def preparations: Seq[Rule[SparkPlan]] = BindFilterLiterals +: super.preparations
      }
      if (!qe.isLazyAnalysis) qe.assertAnalyzed()
      new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }

  /** The unresolved parse tree the session's parser gives for `text`. */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    classic.ClassicConversions.castToImpl(spark).sessionState.sqlParser.parsePlan(text)
}

/** Replaces each non-null primitive literal operand of a comparison or of
  * an IN list in a [[FilterExec]] condition with a [[BoundLiteral]].
  * Spark writes int, long, double and date literals into generated code
  * as text, so `WHERE id = 17` and `WHERE id = 18` compile two classes
  * and the codegen cache never hits; bound, every statement of one shape
  * generates the same code. Only the physical filter changes: the logical
  * plan, the scan's pushed filters and row-group pushdown keep the
  * literal.
  */
private[sql] object BindFilterLiterals extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = f.condition.transformUp {
      case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
      case i: In => i.copy(list = i.list.map(bind))
    })
  }

  private def bind(e: Expression): Expression = e match {
    case l: Literal if l.value != null && CodeGenerator.isPrimitiveType(l.dataType) => BoundLiteral(l)
    case e => e
  }
}

/** `literal`'s value as a parameter of the generated code: the class reads
  * it from `references` into a field once, and each row reads the field.
  * It evaluates, types and prints exactly as the literal does. */
private[sql] final case class BoundLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = ($javaType) $boxed;")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}
