package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.types._

/** Compile each keyed statement shape once, not once per key.
  *
  * Spark's `Literal.doGenCode` writes a primitive literal into the
  * generated Java (`o_orderkey#0L = 123L`), so every fresh key of
  * `WHERE o_orderkey = 123` is a new source text and misses the
  * compiled-class cache, on the driver and again in its tasks. This rule
  * rewrites each non-null primitive literal that is a direct operand of a
  * comparison (`=`, `<=>`, `<`, `<=`, `>`, `>=`; BETWEEN is a pair of
  * these) in a `FilterExec` or `ProjectExec` into a [[BoundValue]], whose
  * generated code reads the value from the class's `references`, as Spark
  * already does for string and decimal literals. The source text is then
  * the same for every key. The reference caches its compiled filters and
  * projections per expression (sql/gen/PageFunctionCompiler.java:98).
  *
  * It runs on the physical plan, before the codegen stages are collapsed
  * (GraftExtensions says how). So the scan's data, partition and pushed
  * filters keep their literals, and parquet row-group pruning and
  * partition pruning see them. Only comparison operands are bound: an
  * expression whose codegen specialises on a foldable argument (a LIKE
  * pattern, a `round` scale, a `substring` position) is never a
  * comparison, and keeps its literal.
  */
object BindComparisonLiterals extends Rule[SparkPlan] {

  /** The types whose literals Spark's codegen inlines into the source. */
  private val inlined: Set[DataType] = Set(IntegerType, LongType, ShortType, ByteType,
    FloatType, DoubleType, BooleanType, DateType, TimestampType, TimestampNTZType)

  private val bindOperands: PartialFunction[Expression, Expression] = {
    case c: BinaryComparison => c.mapChildren {
      case Literal(v, t) if v != null && inlined(t) => BoundValue(v, t)
      case other => other
    }
  }

  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case p @ (_: FilterExec | _: ProjectExec) => p.transformExpressionsUp(bindOperands)
  }
}

/** A non-null primitive value that generated code reads from the class's
  * `references` into a field once, when the class is initialised, instead
  * of inlining it: the per-row cost is a field read, and the source text
  * does not depend on the value. It prints (`toString`, `sql`) exactly as
  * the `Literal` it replaces, so plan text is unchanged, and equality
  * includes the value, so exchange reuse and `sameResult` keep their
  * meaning. Not foldable, so nothing folds it back after binding.
  */
case class BoundValue(value: Any, dataType: DataType) extends LeafExpression {

  override def foldable: Boolean = false
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("boundValue", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "boundValue", v => s"$v = $ref.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
