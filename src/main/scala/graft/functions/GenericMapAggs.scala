package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** map_agg / multimap_agg / histogram as first-class aggregate functions
  * (reference: MapAggregationFunction.java:48, multimapagg/
  * MultimapAggregationFunction.java, histogram/Histogram.java:48).
  *
  * All three keep per-group state bounded by DISTINCT KEY COUNT (plus
  * value lists for multimap), exactly like the reference's single-state
  * MapBuilder — never a row buffer. Partial/final merge is map-union, so
  * Spark's two-phase hash aggregation applies map-side combining before
  * the shuffle; at 100 TB the exchanged state is one small map per
  * (partition, group), not the input rows.
  *
  * Values are Catalyst-internal (UTF8String etc.); the serializer tags
  * nothing — the child's DataType fixes the wire format at plan time
  * (supported: the fixture-relevant primitive types + string/date/
  * timestamp; an unsupported element type fails loudly at
  * serialize/eval time — the aggregate is registered generically, so
  * the first buffered row is where the type is actually seen).
  */
object GenericDatum {
  def write(out: DataOutputStream, dt: DataType, v: Any): Unit = {
    if (v == null) { out.writeBoolean(true); return }
    out.writeBoolean(false)
    dt match {
      case IntegerType => out.writeInt(v.asInstanceOf[Int])
      case LongType => out.writeLong(v.asInstanceOf[Long])
      case ShortType => out.writeShort(v.asInstanceOf[Short].toInt)
      case ByteType => out.writeByte(v.asInstanceOf[Byte].toInt)
      case DoubleType => out.writeDouble(v.asInstanceOf[Double])
      case FloatType => out.writeFloat(v.asInstanceOf[Float])
      case BooleanType => out.writeBoolean(v.asInstanceOf[Boolean])
      case DateType => out.writeInt(v.asInstanceOf[Int])
      case TimestampType | TimestampNTZType => out.writeLong(v.asInstanceOf[Long])
      case StringType =>
        val b = v.asInstanceOf[UTF8String].getBytes
        out.writeInt(b.length); out.write(b)
      case other => throw new IllegalArgumentException(s"map aggregate: unsupported element type $other")
    }
  }

  def read(in: DataInputStream, dt: DataType): Any = {
    if (in.readBoolean()) return null
    dt match {
      case IntegerType => in.readInt()
      case LongType => in.readLong()
      case ShortType => in.readShort()
      case ByteType => in.readByte()
      case DoubleType => in.readDouble()
      case FloatType => in.readFloat()
      case BooleanType => in.readBoolean()
      case DateType => in.readInt()
      case TimestampType | TimestampNTZType => in.readLong()
      case StringType =>
        val b = new Array[Byte](in.readInt()); in.readFully(b)
        UTF8String.fromBytes(b)
      case other => throw new IllegalArgumentException(s"map aggregate: unsupported element type $other")
    }
  }
}

/** histogram(x) -> map(x -> count). mode = Hist.
  * map_agg(k, v) -> map(k -> first v per key; null keys skipped, like the
  * reference's MapBuilder which rejects null keys). mode = MapFirst.
  * multimap_agg(k, v) -> map(k -> array of v). mode = Multi.
  */
case class GenericMapAgg(
    keyChild: Expression,
    valueChild: Option[Expression],
    mode: GenericMapAgg.Mode,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.LinkedHashMap[Any, Any]] {

  import GenericMapAgg._

  override def children: Seq[Expression] = keyChild +: valueChild.toSeq
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GenericMapAgg =
    copy(keyChild = newChildren.head, valueChild = valueChild.map(_ => newChildren(1)))

  private def keyType: DataType = keyChild.dataType
  private def valType: DataType = valueChild.map(_.dataType).getOrElse(LongType)

  override def dataType: DataType = mode match {
    case Hist => MapType(keyType, LongType, valueContainsNull = false)
    case MapFirst => MapType(keyType, valType, valueContainsNull = true)
    case Multi => MapType(keyType, ArrayType(valType, containsNull = true),
      valueContainsNull = false)
  }
  override def nullable: Boolean = true

  override def createAggregationBuffer(): scala.collection.mutable.LinkedHashMap[Any, Any] =
    scala.collection.mutable.LinkedHashMap.empty

  override def update(buf: scala.collection.mutable.LinkedHashMap[Any, Any],
      input: InternalRow): scala.collection.mutable.LinkedHashMap[Any, Any] = {
    val k = keyChild.eval(input)
    if (k == null) return buf // both histogram and map_agg skip null keys
    val kk = copyOf(k)
    mode match {
      case Hist =>
        buf.update(kk, buf.getOrElse(kk, 0L).asInstanceOf[Long] + 1L)
      case MapFirst =>
        if (!buf.contains(kk)) buf.update(kk, copyOf(valueChild.get.eval(input)))
      case Multi =>
        buf.getOrElseUpdate(kk, scala.collection.mutable.ArrayBuffer.empty[Any])
          .asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]] +=
          copyOf(valueChild.get.eval(input))
    }
    buf
  }

  override def merge(buf: scala.collection.mutable.LinkedHashMap[Any, Any],
      other: scala.collection.mutable.LinkedHashMap[Any, Any]):
      scala.collection.mutable.LinkedHashMap[Any, Any] = {
    other.foreach { case (k, v) =>
      mode match {
        case Hist =>
          buf.update(k, buf.getOrElse(k, 0L).asInstanceOf[Long] + v.asInstanceOf[Long])
        case MapFirst =>
          if (!buf.contains(k)) buf.update(k, v)
        case Multi =>
          buf.getOrElseUpdate(k, scala.collection.mutable.ArrayBuffer.empty[Any])
            .asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]] ++=
            v.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
      }
    }
    buf
  }

  override def eval(buf: scala.collection.mutable.LinkedHashMap[Any, Any]): Any = {
    if (buf.isEmpty) return null
    val keys = new GenericArrayData(buf.keys.toArray)
    val values = mode match {
      case Multi => new GenericArrayData(buf.values.map(v =>
        new GenericArrayData(
          v.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]].toArray)).toArray[Any])
      case _ => new GenericArrayData(buf.values.toArray)
    }
    new ArrayBasedMapData(keys, values)
  }

  override def serialize(buf: scala.collection.mutable.LinkedHashMap[Any, Any]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (k, v) =>
      GenericDatum.write(out, keyType, k)
      mode match {
        case Hist => out.writeLong(v.asInstanceOf[Long])
        case MapFirst => GenericDatum.write(out, valType, v)
        case Multi =>
          val vs = v.asInstanceOf[scala.collection.mutable.ArrayBuffer[Any]]
          out.writeInt(vs.length)
          vs.foreach(GenericDatum.write(out, valType, _))
      }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LinkedHashMap[Any, Any] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = scala.collection.mutable.LinkedHashMap.empty[Any, Any]
    var i = 0
    while (i < n) {
      val k = GenericDatum.read(in, keyType)
      val v: Any = mode match {
        case Hist => in.readLong()
        case MapFirst => GenericDatum.read(in, valType)
        case Multi =>
          val m = in.readInt()
          val vs = scala.collection.mutable.ArrayBuffer.empty[Any]
          var j = 0
          while (j < m) { vs += GenericDatum.read(in, valType); j += 1 }
          vs
      }
      buf.update(k, v)
      i += 1
    }
    buf
  }

  // UTF8String from an UnsafeRow is a view into a reused buffer — copy.
  private def copyOf(v: Any): Any = v match {
    case s: UTF8String => s.copy()
    case other => other
  }

  override def prettyName: String = mode match {
    case Hist => "histogram"
    case MapFirst => "map_agg"
    case Multi => "multimap_agg"
  }
  override def withNewMutableAggBufferOffset(offset: Int): GenericMapAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): GenericMapAgg =
    copy(inputAggBufferOffset = offset)
}

object GenericMapAgg {
  sealed trait Mode
  case object Hist extends Mode
  case object MapFirst extends Mode
  case object Multi extends Mode

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    FunctionRegistry.fn("histogram")(args => GenericMapAgg(args.head, None, Hist)),
    FunctionRegistry.fn("map_agg")(args => GenericMapAgg(args(0), Some(args(1)), MapFirst)),
    FunctionRegistry.fn("multimap_agg")(args => GenericMapAgg(args(0), Some(args(1)), Multi)))
}
