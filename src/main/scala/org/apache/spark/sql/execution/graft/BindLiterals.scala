package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, GenerateExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** A literal whose value reaches generated code as a parameter instead
  * of as Java source text.
  *
  * Spark inlines every literal into the Java it generates (`1704067200L`),
  * so two plans that differ only in a time bound produce different
  * source and miss `CodeGenerator`'s class cache. This engine's traffic is
  * exactly that shape: the same PromQL panel or collection config
  * re-evaluated at the next "now", whose grid bounds, lookback windows
  * and instant filters are long literals. A `BoundParam` generates the
  * same source whatever its value — the value travels in the generated
  * class's `references` array and is unboxed once into a field when the
  * class is instantiated — so a refresh reuses the classes compiled for
  * the previous one.
  *
  * Everything else is the wrapped literal's: `eval`, `toString`/`sql`
  * (plan text is unchanged) and `canonicalized` (exchange and subquery
  * reuse compare plans exactly as before). Only non-null values are
  * bound, so the expression is never null.
  */
case class BoundParam(literal: Literal) extends LeafExpression {
  require(literal.value != null, "only non-null literals are bound")

  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql
  override lazy val canonicalized: Expression = literal.canonicalized

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("boundParam", literal.value,
      CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundParam",
      v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

/** Injected via `SparkSessionExtensions.injectQueryStagePrepRule` next to
  * [[GraftWrapCachedScans]]: rewrites the non-null Int/Long/Double/Date/
  * Timestamp literals inside `FilterExec`, `ProjectExec` and
  * `GenerateExec` to [[BoundParam]]s.
  *
  * Scans, windows, aggregates and joins are left alone on purpose:
  * cached-batch and partition pruning, pushed filters and window frames
  * pattern-match `Literal`, and a parameter there would silently turn
  * pruning off or fail planning. The one compile a refresh still pays
  * is the cached-batch stats predicate `InMemoryTableScanExec` builds
  * from its own copy of the filter.
  *
  * Runs before AQE creates query stages and again on every re-optimized
  * plan; idempotent, because a `BoundParam` is not a `Literal`.
  */
case class GraftBindLiterals() extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec | _: GenerateExec) =>
      p.transformExpressions {
        case l @ Literal(v, IntegerType | LongType | DoubleType | DateType |
            TimestampType) if v != null => BoundParam(l)
      }
  }
}
