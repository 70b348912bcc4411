package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryArithmetic, BinaryComparison, Expression, LeafExpression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose value reaches generated code
  * through the generated class's `references` array, unboxed once into
  * a class field, instead of being written into the Java source the way
  * `Literal` writes int, long, double, date and timestamp values. Two
  * statements that differ only in such a constant then generate
  * byte-identical source and share one compiled class in Spark's codegen
  * cache (string and decimal literals already work this way).
  *
  * It prints, and compares, exactly as the `Literal` it replaces: plan
  * text and EXPLAIN output are unchanged, and since equality includes the
  * value, exchange and subquery reuse never merge two different
  * constants. It is not foldable, so no rule that runs after
  * [[ParamLiterals]] folds it back into the source text.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param",
      v => s"$v = $boxed.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral,
      value = JavaCode.global(field, dataType))
  }
}

/** The physical rule that makes whole-stage code independent of the
  * primitive constants of a statement: a non-null byte, short, int,
  * long, float, double, date or timestamp `Literal` that is a direct
  * child of a comparison or an arithmetic operator, inside a
  * `FilterExec` condition or a `ProjectExec` list, becomes a
  * [[ParamLiteral]]. Scans keep their literals, so pushed parquet
  * filters and partition pruning see the real values; IN lists, LIKE and
  * regex patterns, strings and decimals are left alone. It runs before
  * the columnar transitions, under adaptive and non-adaptive planning
  * alike (see `GraftExtensions.apply`).
  */
object ParamLiterals extends Rule[SparkPlan] {
  private def primitive(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType | FloatType |
        DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && primitive(t) => ParamLiteral(v, t)
    case other => other
  }

  private def swap(e: Expression): Expression = e.transformUp {
    case op @ (_: BinaryComparison | _: BinaryArithmetic) =>
      op.withNewChildren(op.children.map(param))
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec => f.copy(condition = swap(f.condition))
    case p: ProjectExec =>
      p.copy(projectList = p.projectList.map(swap(_).asInstanceOf[NamedExpression]))
  }
}
