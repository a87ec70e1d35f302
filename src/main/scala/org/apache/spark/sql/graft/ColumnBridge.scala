// Lives under org.apache.spark.sql because ExpressionUtils is
// private[sql] — the standard placement for extension libraries that
// need to round-trip between Column and catalyst Expression.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, UserDefinedFunctionUtils}
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{SparkUserDefinedFunction, UserDefinedAggregator,
  UserDefinedFunction}

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Apply a `functions.udf(...)` handle to catalyst children, yielding the
    * codegen-able ScalaUDF expression (the Column-level apply wraps the call
    * in a lazily-resolved node that FunctionBuilder lambdas can't return). */
  def applyUdf(u: UserDefinedFunction, args: Seq[Expression]): Expression =
    UserDefinedFunctionUtils.toScalaUDF(u.asInstanceOf[SparkUserDefinedFunction], args.toSeq)

  /** The builder Spark's UDF registration installs for `u` under `name`,
    * without a session: `u` named `name`, so an unaliased call's output column
    * reads `name(x)`, not `UDF(x)`. A UDAF becomes a ScalaAggregator (the
    * Column-level apply fails analysis in a window); a scalar UDF checks
    * its argument count first. */
  def udfBuilder(name: String, u: UserDefinedFunction): FunctionBuilder = u.withName(name) match {
    case agg: UserDefinedAggregator[_, _, _] => children => ScalaAggregator(agg, children)
    case f: SparkUserDefinedFunction =>
      val arity = f.inputEncoders.size
      children =>
        if (children.length != arity)
          throw QueryCompilationErrors.wrongNumArgsError(name, Seq(arity.toString), children.length)
        UserDefinedFunctionUtils.toScalaUDF(f, children)
  }
}
