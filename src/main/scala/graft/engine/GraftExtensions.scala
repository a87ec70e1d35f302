package graft.engine

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import graft.functions.FunctionRegistry

/** The one place the graft engine installs into Spark, at session build
  * time (`spark.sql.extensions=graft.engine.GraftExtensions`, which
  * [[Engine.session]] sets): the `KeyPredicatePropagation` optimizer rule,
  * the `BindComparisonLiterals` and `BroadcastReuse` physical rules and
  * every graft SQL function ([[FunctionRegistry.all]]). The reference's
  * analog is Plugin.getFunctions, registered once at server start
  * (presto-spi/.../Plugin.java:53). Sessions made with `newSession()` share
  * the extensions, so they resolve the same functions and run the same
  * rules with no install call.
  *
  * Both physical rules ride in a columnar rule, `BindComparisonLiterals`
  * before the row/columnar transitions are inserted and `BroadcastReuse`
  * after, because that is the one physical hook both planning paths
  * apply before codegen stages are collapsed: `QueryExecution`'s
  * preparations (no AQE, or a plan with no exchange) and AQE's
  * post-stage-creation rules, which see each broadcast exchange as the
  * root of its new stage. A post-planner strategy rule runs under AQE
  * only.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.KeyPredicatePropagation)
    ext.injectColumnar(session => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = graft.plans.BindComparisonLiterals
      override def postColumnarTransitions: Rule[SparkPlan] = new graft.plans.BroadcastReuse(session)
    })
    FunctionRegistry.all.foreach { case (name, builder) =>
      // the ExpressionInfo Spark builds for a temporary Scala function, so
      // SHOW FUNCTIONS and DESCRIBE FUNCTION read as for one
      val info = new ExpressionInfo(
        Option(builder.getClass.getCanonicalName).getOrElse(builder.getClass.getName),
        null, name, null, "", "", "", "", "", "", "scala_udf")
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
  }
}
