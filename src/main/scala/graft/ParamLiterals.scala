package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose value reaches generated code as a
  * reference parameter, not as inlined source: queries that differ only
  * in such values generate the same source and share one compiled class
  * (SnappyData's `ParamLiteral` did the same for Spark's plan and codegen
  * caches). It prints like the literal it replaces.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val v = ctx.addMutableState(javaType, "param", n => s"$n = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(v, dataType))
  }
}

/** Physical rule: the literals that `FilterExec` conditions and
  * `ProjectExec` lists hold as direct operands of comparisons or
  * arithmetic become `ParamLiteral`s. Scans are not touched, so their
  * data filters and `PushedFilters` keep the literal values. It runs as
  * a columnar rule, before whole-stage codegen collapses the plan,
  * including on every AQE stage. A session has it only when built with
  * `inject`, as `ServerMain`'s is; `GraftExtensions.injectInto` adds
  * the SQL functions to a session once it is built.
  */
object ParamLiterals extends Rule[SparkPlan] {
  private val Params: Set[DataType] =
    Set(IntegerType, LongType, DoubleType, DateType, TimestampType, TimestampNTZType)

  /** Adds the rule to every session built with `ext`. */
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val c = params(f.condition)
      if (c eq f.condition) f else f.copy(condition = c)
    case p: ProjectExec =>
      val l = p.projectList.map(e => params(e).asInstanceOf[NamedExpression])
      if (l.lazyZip(p.projectList).forall(_ eq _)) p else p.copy(projectList = l)
  }

  private def params(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) => op.mapChildren {
      case Literal(v, t) if v != null && Params(t) => ParamLiteral(v, t)
      case c => c
    }
  }
}
