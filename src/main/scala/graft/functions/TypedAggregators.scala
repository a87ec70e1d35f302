package graft.functions

import org.apache.spark.sql.{Encoder, Encoders, functions => F}
import org.apache.spark.sql.expressions.Aggregator
import FunctionRegistry.scalaUdf

/** Typed `Aggregator[IN, BUF, OUT]` implementations — the Spark mapping
  * for the reference's reduce_agg (ReduceAggregationFunction.java,
  * SURVEY §2.11: "aggregate → Aggregator[IN,BUF,OUT]"). Unlike the
  * collect_list composition, the buffer is CONSTANT-SIZE regardless of
  * group cardinality — the form any reduce_agg must take at 100 TB.
  *
  * reduce_agg(input, init, combine, merge) with closures cannot cross a
  * SQL boundary, so each reduction ships as its own named aggregate;
  * `sumOfSquares` is the worked example (state = one double).
  */
object TypedAggregators {

  val sumOfSquares: Aggregator[Double, Double, Double] =
    new Aggregator[Double, Double, Double] {
      override def zero: Double = 0.0
      override def reduce(acc: Double, x: Double): Double = acc + x * x
      override def merge(a: Double, b: Double): Double = a + b
      override def finish(acc: Double): Double = acc
      override def bufferEncoder: Encoder[Double] = Encoders.scalaDouble
      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  /** log-sum-exp — a genuinely non-algebraic reduction (numerically
    * stable streaming form; buffer = (max, scaled sum)).
    */
  val logSumExp: Aggregator[Double, (Double, Double), Double] =
    new Aggregator[Double, (Double, Double), Double] {
      override def zero: (Double, Double) = (Double.NegativeInfinity, 0.0)
      override def reduce(acc: (Double, Double), x: Double): (Double, Double) = merge(acc, (x, 1.0))
      override def merge(a: (Double, Double), b: (Double, Double)): (Double, Double) = {
        val (ma, sa) = a
        val (mb, sb) = b
        if (sa == 0.0) b
        else if (sb == 0.0) a
        else {
          val m = math.max(ma, mb)
          (m, sa * math.exp(ma - m) + sb * math.exp(mb - m))
        }
      }
      override def finish(acc: (Double, Double)): Double =
        if (acc._2 == 0.0) Double.NegativeInfinity else acc._1 + math.log(acc._2)
      override def bufferEncoder: Encoder[(Double, Double)] = Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble)
      override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
    }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    scalaUdf("reduce_sumsq", F.udaf(sumOfSquares)),
    scalaUdf("reduce_logsumexp", F.udaf(logSumExp)))
}
