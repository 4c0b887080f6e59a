package org.apache.spark.sql

import scala.annotation.tailrec
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, IntegerLiteral, LeafExpression,
  Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode,
  FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.ScanOperation
import org.apache.spark.sql.catalyst.plans.logical.{Command, ExecutableDuringAnalysis, Filter, Limit, LocalLimit,
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CommandExecutionMode, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.command.ExplainCommand
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** The engine's bridge from SQL text to a DataFrame: `spark.sql(text)`
  * with a rewrite of the unresolved parse tree before analysis. Like
  * `spark.sql` it parses with the session's parser and builds the
  * DataFrame the way `Dataset.ofRows` does, with the session active, so
  * commands execute and analysis runs eagerly exactly as they do there.
  * The statement's own plan differs in two ways:
  *  - its physical preparation runs [[BindFilterLiterals]] first, so the
  *    code generated for its filters carries no statement literals;
  *  - when its optimized plan is only Project/Filter/Limit over one part
  *    list of `GraftParquetBridge.readParts` whose kept parts are small,
  *    those parts are read on the calling thread into a `LocalRelation`
  *    in place of the scan ([[local]]): `ConvertToLocalRelation` folds
  *    the plan, and collecting it runs no Spark job.
  * EXPLAIN explains that plan. Lives in the spark.sql package only to
  * reach the package-private factory.
  */
object GraftPlanBridge {
  def sql(spark: SparkSession, text: String)(rewrite: LogicalPlan => LogicalPlan): DataFrame =
    frame(spark, rewrite(parse(spark, text)))

  /** `plan`, parsed or analyzed, as a DataFrame of the engine's plan. */
  def frame(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    val session = classic.ClassicConversions.castToImpl(spark)
    session.withActive {
      val qe = plan match {
        case e: ExplainCommand =>
          val lines = explain(session, e).map(l => InternalRow(UTF8String.fromString(l)))
          execution(session, LocalRelation(e.output, lines))
        case p =>
          val qe = execution(session, p)
          if (!qe.isLazyAnalysis) qe.assertAnalyzed()
          local(session, qe)
      }
      new classic.Dataset[Row](qe, () => RowEncoder.encoderFor(qe.analyzed.schema))
    }
  }

  /** The unresolved parse tree the session's parser gives for `text`. */
  def parse(spark: SparkSession, text: String): LogicalPlan =
    classic.ClassicConversions.castToImpl(spark).sessionState.sqlParser.parsePlan(text)

  private def execution(session: classic.SparkSession, plan: LogicalPlan,
      mode: CommandExecutionMode.Value = CommandExecutionMode.ALL): QueryExecution =
    new QueryExecution(session, plan, mode = mode,
        shuffleCleanupMode = QueryExecution.determineShuffleCleanupMode(session.sessionState.conf)) {
      // before InsertAdaptiveSparkPlan, so AQE's query stages inherit it
      override protected def preparations: Seq[Rule[SparkPlan]] = BindFilterLiterals +: super.preparations
    }

  /** `qe`, or a QueryExecution of its analyzed plan with the one scan read
    * into a `LocalRelation`: when the optimized plan would fold into one
    * `LocalRelation` over that scan, and `GraftParquetBridge.localRows`
    * reads the scan's kept parts under its data filters, as
    * `FileSourceStrategy` derives them, on this thread. */
  private def local(session: classic.SparkSession, qe: QueryExecution): QueryExecution = qe.analyzed match {
    case _: Command => qe
    case analyzed => analyzed.collectLeaves() match {
      case Seq(scan: LogicalRelation) if GraftParquetBridge.isPartList(scan.relation) =>
        def isScan(p: LogicalPlan) = p match {
          case l: LogicalRelation => l.relation eq scan.relation
          case _ => false
        }
        val optimized = qe.optimizedPlan
        val rows = if (!folds(optimized, isScan)) None
          else {
            val filters = optimized.collectFirst { case ScanOperation(_, _, fs, l) if isScan(l) =>
              DataSourceStrategy.normalizeExprs(fs.filter(_.deterministic), l.output)
                .filterNot(SubqueryExpression.hasSubquery)
            }.getOrElse(Nil)
            GraftParquetBridge.localRows(session, scan.relation.asInstanceOf[HadoopFsRelation], filters)
          }
        // the fold compiles each Filter it evaluates: bound, one statement shape compiles one class
        rows.fold(qe)(data => execution(session, analyzed.transformUp {
          case l if isScan(l) => LocalRelation(l.output, data)
          case f: Filter => f.copy(condition = BindFilterLiterals.bindOperands(f.condition))
        }))
      case _ => qe
    }
  }

  /** Whether `ConvertToLocalRelation` folds `plan`, with its scan replaced
    * by a `LocalRelation`, into one `LocalRelation`: the shapes it folds,
    * judged without evaluating anything. */
  @tailrec private def folds(plan: LogicalPlan, isScan: LogicalPlan => Boolean): Boolean = plan match {
    case Project(list, child) if !list.exists(ConvertToLocalRelation.hasUnevaluableExpr) => folds(child, isScan)
    case Filter(condition, child) if !ConvertToLocalRelation.hasUnevaluableExpr(condition) => folds(child, isScan)
    case Limit(IntegerLiteral(_), child) => folds(child, isScan)
    case LocalLimit(IntegerLiteral(_), child) => folds(child, isScan)
    case p => isScan(p)
  }

  /** The rows `ExplainCommand` returns, with the plan [[frame]] would run:
    * the explained statement is analyzed but, as there, never executed. */
  private def explain(session: classic.SparkSession, e: ExplainCommand): Seq[String] = try {
    val qe = execution(session, e.logicalPlan.transform { case p: ExecutableDuringAnalysis => p.stageForExplain() },
      CommandExecutionMode.SKIP)
    // a statement that fails analysis is explained as Spark explains it
    Seq((if (Try(qe.analyzed).isSuccess) local(session, qe) else qe).explainString(e.mode))
  } catch {
    case NonFatal(cause) => ("Error occurred during query planning: \n" + cause.getMessage).split("\n").toSeq
  }
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
    case f: FilterExec => f.copy(condition = bindOperands(f.condition))
  }

  /** `condition` with each constant primitive operand of a comparison or
    * IN list bound: a literal, or an expression that folds to one (the
    * `cast(118 as bigint)` of a plan not yet optimized). */
  def bindOperands(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
    case i: In => i.copy(list = i.list.map(bind))
  }

  private def bind(e: Expression): Expression = e match {
    case _: BoundLiteral => e
    case e if e.foldable && CodeGenerator.isPrimitiveType(e.dataType) =>
      Try(e.eval()).toOption.filter(_ != null).fold(e)(v => BoundLiteral(Literal(v, e.dataType)))
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
