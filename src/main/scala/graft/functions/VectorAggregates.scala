package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** vec_mean(array<double>) -> array<double>: elementwise mean of a group of
  * fixed-width vectors via ONE flat double buffer per group.
  *
  * This is the shuffle-shape fix for k-means / IVF cell means: the naive
  * formulation (`posexplode` then avg per (group, dim)) inflates every row
  * by the dimensionality (128x on the test fixture, 1000x+ on production
  * embeddings) and shuffles the inflated rows per Lloyd round. Here the
  * partial state is `double[dims] + count` per group — one buffer row per
  * (partition, group) through the exchange, mirroring how the sketch
  * aggregates (functions/SketchAggregates.scala) keep bytes flat.
  *
  * The reference has no vector type; its closest analog is the per-field
  * decomposed avg the optimizer builds for array columns. Dims are locked
  * by the first vector seen; a mismatched vector length in the same group
  * is an error (same contract as cosine_similarity).
  */
case class VectorMeanAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[VectorMeanAgg.Buf] with UnaryLike[Expression] {

  import VectorMeanAgg.Buf

  override def createAggregationBuffer(): Buf = new Buf(null, 0L)

  override def update(buf: Buf, input: InternalRow): Buf = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (buf.sums == null) buf.sums = new Array[Double](n)
      else if (buf.sums.length != n)
        throw new IllegalArgumentException(
          s"vec_mean: dimension mismatch ${buf.sums.length} vs $n")
      var i = 0
      while (i < n) { buf.sums(i) += arr.getDouble(i); i += 1 }
      buf.count += 1L
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    if (other.sums != null) {
      if (buf.sums == null) { buf.sums = other.sums.clone(); buf.count = other.count }
      else {
        if (buf.sums.length != other.sums.length)
          throw new IllegalArgumentException(
            s"vec_mean: dimension mismatch ${buf.sums.length} vs ${other.sums.length}")
        var i = 0
        while (i < buf.sums.length) { buf.sums(i) += other.sums(i); i += 1 }
        buf.count += other.count
      }
    }
    buf
  }

  override def eval(buf: Buf): Any = {
    if (buf.sums == null || buf.count == 0L) null
    else {
      val out = new Array[Any](buf.sums.length)
      var i = 0
      while (i < buf.sums.length) { out(i) = buf.sums(i) / buf.count; i += 1 }
      new GenericArrayData(out)
    }
  }

  override def serialize(buf: Buf): Array[Byte] = {
    val n = if (buf.sums == null) 0 else buf.sums.length
    val bb = java.nio.ByteBuffer.allocate(12 + 8 * n)
    bb.putLong(buf.count).putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(buf.sums(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val count = bb.getLong()
    val n = bb.getInt()
    if (n == 0) new Buf(null, count)
    else {
      val sums = new Array[Double](n)
      var i = 0
      while (i < n) { sums(i) = bb.getDouble(); i += 1 }
      new Buf(sums, count)
    }
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_mean"
  override protected def withNewChildInternal(newChild: Expression): VectorMeanAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): VectorMeanAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): VectorMeanAgg =
    copy(inputAggBufferOffset = offset)
}

object VectorMeanAgg {
  /** Mutable partial state: elementwise sums (sized lazily on first vector)
    * plus the vector count.
    */
  final class Buf(var sums: Array[Double], var count: Long)

  /** Float arrays widen to double via the cast (exact), same convention as
    * cosine_similarity.
    */
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    FunctionRegistry.fn("vec_mean") { args => VectorMeanAgg(Cast(args.head, ArrayType(DoubleType))) })
}
