package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** convex_hull_agg(x, y) -> array<struct<x,y>>: the convex hull of a
  * group of points, as a TypedImperativeAggregate — the reference's
  * geometry aggregation (presto-geospatial/.../aggregation/
  * ConvexHullAggregation.java), with a coordinate-pair signature
  * instead of a serialized-geometry one (this engine's geometry
  * carrier is plain columns).
  *
  * Scale shape: the partial state is the hull OF THE POINTS SEEN, not
  * the points themselves — hull(A ∪ {p}) = hull(hullVertices(A) ∪ {p}),
  * so the buffer re-compresses to its own hull whenever it exceeds a
  * small bound and stays O(hull complexity) through the shuffle
  * (the reference accumulates raw geometries and unions at the end;
  * the incremental-compression form is strictly smaller on the wire).
  *
  * Hull algorithm: Andrew's monotone chain (Andrew 1979, the standard
  * published O(n log n) method) with STRICT turns — collinear boundary
  * points are not vertices. Output is counterclockwise, starting at
  * the lexicographically smallest vertex; deterministic regardless of
  * input order or partitioning (the chain re-sorts its input).
  * Degenerate groups: 1 point -> that point; collinear points -> the
  * two extreme endpoints.
  */
case class ConvexHullAgg(
    left: Expression,
    right: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ConvexHullAgg.Buf] with BinaryLike[Expression] {

  import ConvexHullAgg._

  override def createAggregationBuffer(): Buf = new Buf(new scala.collection.mutable.ArrayBuffer[Double]())

  override def update(buf: Buf, input: InternalRow): Buf = {
    val xv = left.eval(input)
    val yv = right.eval(input)
    if (xv != null && yv != null) {
      buf.coords += xv.asInstanceOf[Double]
      buf.coords += yv.asInstanceOf[Double]
      if (buf.coords.length > CompressAt * 2) compress(buf)
    }
    buf
  }

  override def merge(buf: Buf, other: Buf): Buf = {
    buf.coords ++= other.coords
    if (buf.coords.length > CompressAt * 2) compress(buf)
    buf
  }

  override def eval(buf: Buf): Any = {
    if (buf.coords.isEmpty) return null
    val h = hull(toPoints(buf))
    new GenericArrayData(h.map { case (x, y) =>
      new GenericInternalRow(Array[Any](x, y))
    })
  }

  override def serialize(buf: Buf): Array[Byte] = {
    compress(buf)
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.coords.length)
    bb.putInt(buf.coords.length)
    buf.coords.foreach(bb.putDouble)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val coords = new scala.collection.mutable.ArrayBuffer[Double](n)
    var i = 0
    while (i < n) { coords += bb.getDouble(); i += 1 }
    new Buf(coords)
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "convex_hull_agg"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ConvexHullAgg =
    copy(left = newLeft, right = newRight)
  override def withNewMutableAggBufferOffset(offset: Int): ConvexHullAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ConvexHullAgg =
    copy(inputAggBufferOffset = offset)
}

object ConvexHullAgg {

  /** Buffer re-compresses to its own hull past this point count. */
  val CompressAt = 256

  final class Buf(val coords: scala.collection.mutable.ArrayBuffer[Double])

  private def toPoints(buf: Buf): Array[(Double, Double)] = {
    val n = buf.coords.length / 2
    Array.tabulate(n)(i => (buf.coords(2 * i), buf.coords(2 * i + 1)))
  }

  private def compress(buf: Buf): Unit = {
    if (buf.coords.length <= 6) return // <= 3 points: already minimal
    val h = hull(toPoints(buf))
    buf.coords.clear()
    h.foreach { case (x, y) => buf.coords += x; buf.coords += y }
  }

  /** Monotone chain, strict turns, CCW from the smallest vertex. */
  def hull(points: Array[(Double, Double)]): Array[(Double, Double)] = {
    val p = points.distinct.sorted
    if (p.length <= 2) return p
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = new scala.collection.mutable.ArrayBuffer[(Double, Double)]
    for (pt <- p) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, pt) <= 0)
        lower.remove(lower.length - 1)
      lower += pt
    }
    val upper = new scala.collection.mutable.ArrayBuffer[(Double, Double)]
    for (pt <- p.reverseIterator) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, pt) <= 0)
        upper.remove(upper.length - 1)
      upper += pt
    }
    (lower.dropRight(1) ++ upper.dropRight(1)).toArray
  }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    FunctionRegistry.fn("convex_hull_agg") { args =>
      ConvexHullAgg(Cast(args(0), DoubleType), Cast(args(1), DoubleType))
    })
}
