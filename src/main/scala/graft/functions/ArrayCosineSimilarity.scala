package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expression for cosine similarity over double arrays —
  * the hot scalar of the similarity-search path.
  *
  * Reference: operator/scalar/MathFunctions.java cosineSimilarity (the
  * reference computes it over sparse maps; dense arrays are the
  * embedding-pipeline shape). Implemented with `doGenCode` so it runs
  * inside whole-stage codegen: Spark's higher-order functions
  * (zip_with/aggregate) are CodegenFallback — interpreted, boxing per
  * element — which is exactly what a per-pair O(dim) kernel cannot
  * afford at 100 TB. Accumulation order (index 0..n-1, doubles) matches
  * the HOF formulation bit-for-bit, so oracle results are unchanged.
  *
  * Float inputs arrive as array<double> via ImplicitCastInputTypes
  * (float->double widening is exact).
  */
case class ArrayCosineSimilarity(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects array<double> inputs, got ${left.dataType} / ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) {
      throw new IllegalArgumentException(
        s"cosine_similarity: dimension mismatch ${x.numElements()} vs ${y.numElements()}")
    }
    val n = x.numElements()
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i)
      val yv = y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "cosine_similarity: dimension mismatch " + $a.numElements() + " vs " + $b.numElements());
         |}
         |int $n = $a.numElements();
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i);
         |  double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayCosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object ArrayCosineSimilarity {
  /** Builder widens float arrays (exact) so SQL callers can pass
    * array<float> embeddings directly.
    */
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    FunctionRegistry.fn("cosine_similarity") { args =>
      ArrayCosineSimilarity(
        Cast(args(0), ArrayType(DoubleType)), Cast(args(1), ArrayType(DoubleType)))
    })
}
