package graft.functions

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType}
import FunctionRegistry.{fn, scalaUdf}

/** Mergeable quantile sketch — the role of the reference's qdigest
  * (QuantileDigestType.java, QuantileDigestAggregationFunction.java:58,
  * QuantileDigestFunctions.java value_at_quantile). A uniform
  * merging-buffer sketch (Manku/Rajagopalan/Lindsay-style collapse):
  * weighted (value, weight) samples capped at K entries; on overflow,
  * adjacent pairs collapse (weights add, the heavier value survives).
  * Bounded K*16-byte state per group — 100 TB-safe; numeric parity for
  * quantile ANSWERS also exists via percentile_approx (Spark built-in);
  * this type carries the *mergeable sketch value* like the reference.
  */
object QuantileSketch {
  val K = 2048

  /** values/weights sorted by value, length <= K. */
  final case class Sketch(values: Array[Double], weights: Array[Long]) {
    def n: Int = values.length
    def totalWeight: Long = { var s = 0L; var i = 0; while (i < n) { s += weights(i); i += 1 }; s }
  }

  val empty: Sketch = Sketch(Array.empty, Array.empty)

  def add(s: Sketch, v: Double): Sketch = mergeSorted(s, Sketch(Array(v), Array(1L)))

  /** Merge two sketches (both sorted), then collapse to <= K entries. */
  def mergeSorted(a: Sketch, b: Sketch): Sketch = {
    val n = a.n + b.n
    val vs = new Array[Double](n)
    val ws = new Array[Long](n)
    var i = 0; var j = 0; var k = 0
    while (i < a.n && j < b.n) {
      if (a.values(i) <= b.values(j)) { vs(k) = a.values(i); ws(k) = a.weights(i); i += 1 }
      else { vs(k) = b.values(j); ws(k) = b.weights(j); j += 1 }
      k += 1
    }
    while (i < a.n) { vs(k) = a.values(i); ws(k) = a.weights(i); i += 1; k += 1 }
    while (j < b.n) { vs(k) = b.values(j); ws(k) = b.weights(j); j += 1; k += 1 }
    collapse(Sketch(vs, ws))
  }

  private def collapse(s: Sketch): Sketch = {
    var cur = s
    while (cur.n > K) {
      val half = (cur.n + 1) / 2
      val vs = new Array[Double](half)
      val ws = new Array[Long](half)
      var i = 0; var o = 0
      while (i < cur.n) {
        if (i + 1 < cur.n) {
          val w = cur.weights(i) + cur.weights(i + 1)
          vs(o) = if (cur.weights(i + 1) > cur.weights(i)) cur.values(i + 1) else cur.values(i)
          ws(o) = w
          i += 2
        } else { vs(o) = cur.values(i); ws(o) = cur.weights(i); i += 1 }
        o += 1
      }
      cur = Sketch(vs, ws)
    }
    cur
  }

  def valueAtQuantile(s: Sketch, q: Double): Double = {
    if (s.n == 0) return Double.NaN
    val target = q * s.totalWeight
    var acc = 0L
    var i = 0
    while (i < s.n) {
      acc += s.weights(i)
      if (acc >= target) return s.values(i)
      i += 1
    }
    s.values(s.n - 1)
  }

  def toBytes(s: Sketch): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + s.n * 16)
    bb.putInt(s.n)
    var i = 0
    while (i < s.n) { bb.putDouble(s.values(i)); bb.putLong(s.weights(i)); i += 1 }
    bb.array()
  }

  def fromBytes(b: Array[Byte]): Sketch = {
    val bb = java.nio.ByteBuffer.wrap(b)
    val n = bb.getInt
    val vs = new Array[Double](n)
    val ws = new Array[Long](n)
    var i = 0
    while (i < n) { vs(i) = bb.getDouble; ws(i) = bb.getLong; i += 1 }
    Sketch(vs, ws)
  }
}

/** Mutable agg buffer: raw values batch in a primitive double array
  * (no boxing — ArrayBuffer[Double] boxes and dominated the profile);
  * sort+collapse only on overflow / merge / serialize.
  */
final class QBuffer {
  var sketch: QuantileSketch.Sketch = QuantileSketch.empty
  private var pending = new Array[Double](256)
  private var n = 0

  def append(v: Double): Unit = {
    if (n == pending.length) pending = java.util.Arrays.copyOf(pending, n * 2)
    pending(n) = v
    n += 1
  }

  def isFull: Boolean = n >= 2 * QuantileSketch.K

  def flush(): Unit = if (n > 0) {
    val vs = java.util.Arrays.copyOf(pending, n)
    java.util.Arrays.sort(vs)
    sketch = QuantileSketch.mergeSorted(sketch, QuantileSketch.Sketch(vs, Array.fill(vs.length)(1L)))
    n = 0
  }
}

/** qdigest_agg(x) -> binary sketch; qdigest_value_at(sketch, q) scalar.
  * mergeMode=true is qdigest_merge(sketch): re-aggregates serialized
  * sketches (the reference's merge(qdigest) —
  * QuantileDigestAggregationFunction.java), same shape as merge_hll /
  * merge_set_digest.
  */
case class QuantileSketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    mergeMode: Boolean = false)
  extends TypedImperativeAggregate[QBuffer] with UnaryLike[Expression] {

  override def createAggregationBuffer(): QBuffer = new QBuffer

  override def update(buf: QBuffer, input: InternalRow): QBuffer = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeMode) {
        buf.flush()
        buf.sketch = QuantileSketch.mergeSorted(buf.sketch,
          QuantileSketch.fromBytes(v.asInstanceOf[Array[Byte]]))
        return buf
      }
      buf.append(v match {
        case d: Double => d
        case f: Float => f.toDouble
        case l: Long => l.toDouble
        case i: Int => i.toDouble
        case other => other.toString.toDouble
      })
      if (buf.isFull) buf.flush()
    }
    buf
  }

  override def merge(a: QBuffer, b: QBuffer): QBuffer = {
    a.flush(); b.flush()
    a.sketch = QuantileSketch.mergeSorted(a.sketch, b.sketch)
    a
  }

  override def eval(buf: QBuffer): Any = { buf.flush(); QuantileSketch.toBytes(buf.sketch) }
  override def serialize(buf: QBuffer): Array[Byte] = { buf.flush(); QuantileSketch.toBytes(buf.sketch) }
  override def deserialize(b: Array[Byte]): QBuffer = {
    val q = new QBuffer
    q.sketch = QuantileSketch.fromBytes(b)
    q
  }

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "qdigest_agg"
  override protected def withNewChildInternal(newChild: Expression): QuantileSketchAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): QuantileSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): QuantileSketchAgg =
    copy(inputAggBufferOffset = offset)
}

object QuantileSketchFunctions {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    fn("qdigest_agg")(
      args => QuantileSketchAgg(args.head)),
    fn("qdigest_merge")(
      args => QuantileSketchAgg(args.head, mergeMode = true)),
    scalaUdf("qdigest_value_at", F.udf(
      (b: Array[Byte], q: Double) =>
        if (b == null) null
        else java.lang.Double.valueOf(
          QuantileSketch.valueAtQuantile(QuantileSketch.fromBytes(b), q)))),
    // values_at_quantiles — QuantileDigestFunctions.java:99: one sketch
    // walk per batch of quantiles instead of a call per quantile.
    scalaUdf("values_at_quantiles", F.udf(
      (b: Array[Byte], qs: scala.collection.Seq[Double]) =>
        if (b == null || qs == null) null
        else {
          val sk = QuantileSketch.fromBytes(b)
          qs.map(q => QuantileSketch.valueAtQuantile(sk, q))
        })))
}
