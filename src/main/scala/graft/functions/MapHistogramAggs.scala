package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import FunctionRegistry.fn

/** map_union(map<K,V>) — unions all input maps into one; on duplicate
  * keys the first-seen value wins (the reference leaves the winner
  * unspecified). Rebuilt as a Spark `TypedImperativeAggregate` so
  * partial/final split and buffer shuffle come from Spark; the buffer is
  * bounded by the union's distinct-key count, as in the reference.
  *
  * Reference: presto-main/.../operator/aggregation/MapUnionAggregation.java:46,
  * KeyValuePairs.java.
  */
case class MapUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.LinkedHashMap[Any, Any]]
  with UnaryLike[Expression] {

  private lazy val mapType = child.dataType.asInstanceOf[MapType]

  override def createAggregationBuffer(): scala.collection.mutable.LinkedHashMap[Any, Any] =
    scala.collection.mutable.LinkedHashMap.empty[Any, Any]

  override def update(buf: scala.collection.mutable.LinkedHashMap[Any, Any],
      input: InternalRow): scala.collection.mutable.LinkedHashMap[Any, Any] = {
    child.eval(input) match {
      case m: MapData =>
        m.foreach(mapType.keyType, mapType.valueType, (k, v) => {
          val key = InternalRow.copyValue(k)
          if (!buf.contains(key)) buf(key) = InternalRow.copyValue(v)
        })
      case _ =>
    }
    buf
  }

  override def merge(a: scala.collection.mutable.LinkedHashMap[Any, Any],
      b: scala.collection.mutable.LinkedHashMap[Any, Any]): scala.collection.mutable.LinkedHashMap[Any, Any] = {
    b.foreach { case (k, v) => if (!a.contains(k)) a(k) = v }
    a
  }

  override def eval(buf: scala.collection.mutable.LinkedHashMap[Any, Any]): Any =
    new ArrayBasedMapData(
      new GenericArrayData(buf.keys.toArray),
      new GenericArrayData(buf.values.toArray))

  // Buffers cross the shuffle via Java serialization; Catalyst internal
  // values (UTF8String, Decimal, Unsafe*Data) are all Externalizable.
  override def serialize(buf: scala.collection.mutable.LinkedHashMap[Any, Any]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(buf.toSeq)
    oos.close()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LinkedHashMap[Any, Any] = {
    val ois = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes))
    val entries = ois.readObject().asInstanceOf[Seq[(Any, Any)]]
    ois.close()
    scala.collection.mutable.LinkedHashMap(entries: _*)
  }

  override def dataType: DataType = child.dataType
  override def nullable: Boolean = false
  override def prettyName: String = "map_union"
  override protected def withNewChildInternal(newChild: Expression): MapUnionAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): MapUnionAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MapUnionAgg =
    copy(inputAggBufferOffset = offset)
}

/** Ben-Haim/Tom-Tov streaming histogram state: at most `maxBuckets`
  * (value, weight) centroids plus a small insert buffer; on overflow the
  * closest adjacent centroids (by value) merge into their weighted mean.
  * Mergeable and bounded — safe as a partial-aggregate buffer at 100 TB.
  */
final class NumHist(val maxBuckets: Int) extends Serializable {
  private val cap = maxBuckets + math.max(maxBuckets / 5, 1)
  var values: Array[Double] = new Array[Double](cap)
  var weights: Array[Double] = new Array[Double](cap)
  var n: Int = 0

  def add(v: Double, w: Double): Unit = {
    if (n == values.length) compact(maxBuckets)
    values(n) = v
    weights(n) = w
    n += 1
  }

  def mergeWith(o: NumHist): Unit = {
    var i = 0
    while (i < o.n) { add(o.values(i), o.weights(i)); i += 1 }
    compact(maxBuckets)
  }

  /** Sort by value, fold equal values together, then greedily merge the
    * closest adjacent pair until at most `target` centroids remain.
    */
  def compact(target: Int): Unit = {
    val idx = (0 until n).sortBy(i => values(i))
    val vs = idx.map(values).toBuffer
    val ws = idx.map(weights).toBuffer
    var i = 0
    while (i < vs.length - 1) {
      if (vs(i) == vs(i + 1)) {
        ws(i) += ws(i + 1)
        vs.remove(i + 1); ws.remove(i + 1)
      } else i += 1
    }
    while (vs.length > target) {
      var best = 0
      var bestGap = Double.MaxValue
      var j = 0
      while (j < vs.length - 1) {
        val gap = vs(j + 1) - vs(j)
        if (gap < bestGap) { bestGap = gap; best = j }
        j += 1
      }
      val w = ws(best) + ws(best + 1)
      vs(best) = (vs(best) * ws(best) + vs(best + 1) * ws(best + 1)) / w
      ws(best) = w
      vs.remove(best + 1); ws.remove(best + 1)
    }
    n = vs.length
    var k = 0
    while (k < n) { values(k) = vs(k); weights(k) = ws(k); k += 1 }
  }
}

/** numeric_histogram(buckets, value[, weight]) — approximate equi-depth
  * histogram as map<double,double> (bucket mean -> weight), exact while
  * distinct values <= buckets.
  *
  * Reference: presto-main/.../operator/aggregation/NumericHistogram.java:36,
  * NumericHistogramAggregation.java.
  */
case class NumericHistogramAgg(
    bucketsExpr: Expression,
    child: Expression,
    weightExpr: Option[Expression],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[NumHist] {

  private lazy val maxBuckets: Int = {
    val b = bucketsExpr.eval(InternalRow.empty).asInstanceOf[Number].intValue()
    require(b >= 2 && b <= 10000, "numeric_histogram buckets must be in [2, 10000]")
    b
  }

  override def children: Seq[Expression] = Seq(bucketsExpr, child) ++ weightExpr

  override def createAggregationBuffer(): NumHist = new NumHist(maxBuckets)

  override def update(buf: NumHist, input: InternalRow): NumHist = {
    val v = child.eval(input)
    if (v != null) {
      val w = weightExpr.map(_.eval(input)).map {
        case null => 0.0
        case x => x.asInstanceOf[Number].doubleValue()
      }.getOrElse(1.0)
      if (w > 0) buf.add(v.asInstanceOf[Number].doubleValue(), w)
    }
    buf
  }

  override def merge(a: NumHist, b: NumHist): NumHist = { a.mergeWith(b); a }

  override def eval(buf: NumHist): Any = {
    buf.compact(buf.maxBuckets)
    val vs = new Array[Any](buf.n)
    val ws = new Array[Any](buf.n)
    var i = 0
    while (i < buf.n) { vs(i) = buf.values(i); ws(i) = buf.weights(i); i += 1 }
    new ArrayBasedMapData(new GenericArrayData(vs), new GenericArrayData(ws))
  }

  override def serialize(buf: NumHist): Array[Byte] = {
    buf.compact(buf.maxBuckets)
    val bb = java.nio.ByteBuffer.allocate(8 + 16 * buf.n)
    bb.putInt(buf.maxBuckets).putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putDouble(buf.values(i)); bb.putDouble(buf.weights(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): NumHist = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val h = new NumHist(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { h.add(bb.getDouble(), bb.getDouble()); i += 1 }
    h
  }

  override def dataType: DataType = MapType(DoubleType, DoubleType)
  override def nullable: Boolean = false
  override def prettyName: String = "numeric_histogram"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): NumericHistogramAgg =
    copy(bucketsExpr = newChildren(0), child = newChildren(1),
      weightExpr = if (newChildren.size > 2) Some(newChildren(2)) else None)
  override def withNewMutableAggBufferOffset(offset: Int): NumericHistogramAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): NumericHistogramAgg =
    copy(inputAggBufferOffset = offset)
}

object MapHistogramAggs {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    fn("map_union")(
      args => MapUnionAgg(args.head).toAggregateExpression()),
    fn("numeric_histogram")(
      args => NumericHistogramAgg(args(0), args(1), args.lift(2)).toAggregateExpression()))
}
