package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import FunctionRegistry.fn

/** Misra-Gries heavy hitters: approx_heavy_hitters(x, k) -> map of
  * candidate -> approximate count, holding at most k-1 counters.
  * Guarantee (Misra & Gries 1982): every value with true frequency
  * > N/k survives; counts underestimate by at most N/k. Merge subtracts
  * the k-th largest combined count (Agarwal et al. 2013 mergeable
  * summaries) — associative, bounded state, rides Spark's partial/final
  * agg split.
  *
  * The frequency member of the sketch quartet (HLL cardinality, qdigest
  * quantiles, SetDigest similarity) — e.g. frequent-token mining over a
  * training corpus without a full groupBy. The reference has no direct
  * analog (SURVEY §2.4); Presto's later approx_most_frequent plays this
  * role.
  */
object MisraGries {
  def update(m: scala.collection.mutable.HashMap[String, Long], v: String, k: Int): Unit = {
    m.get(v) match {
      case Some(c) => m.update(v, c + 1)
      case None if m.size < k - 1 => m.update(v, 1L)
      case None =>
        // decrement-all step; drop exhausted counters
        val dead = scala.collection.mutable.ArrayBuffer.empty[String]
        m.foreach { case (key, c) => if (c == 1L) dead += key else m.update(key, c - 1) }
        dead.foreach(m.remove)
    }
  }

  def merge(a: scala.collection.mutable.HashMap[String, Long],
      b: scala.collection.mutable.HashMap[String, Long], k: Int): Unit = {
    b.foreach { case (key, c) => a.update(key, a.getOrElse(key, 0L) + c) }
    if (a.size > k - 1) {
      val kth = a.values.toArray.sorted(Ordering[Long].reverse).apply(k - 1)
      val dead = scala.collection.mutable.ArrayBuffer.empty[String]
      a.foreach { case (key, c) => if (c - kth <= 0) dead += key else a.update(key, c - kth) }
      dead.foreach(a.remove)
    }
  }
}

/** `k` sizes the Misra-Gries summary (error bound N/k); `outputLimit`
  * truncates the REPORTED map to the top entries without weakening the
  * bound — Presto's approx_most_frequent(buckets, v, capacity) maps
  * capacity -> k and buckets -> outputLimit (r7 advice: ignoring
  * capacity degraded the error bound from N/capacity to N/buckets). */
case class HeavyHittersAgg(
    child: Expression,
    k: Int,
    outputLimit: Int = Int.MaxValue,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[scala.collection.mutable.HashMap[String, Long]]
  with UnaryLike[Expression] {

  override def createAggregationBuffer(): scala.collection.mutable.HashMap[String, Long] =
    scala.collection.mutable.HashMap.empty

  override def update(buf: scala.collection.mutable.HashMap[String, Long],
      input: InternalRow): scala.collection.mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) MisraGries.update(buf, v.toString, k)
    buf
  }

  override def merge(a: scala.collection.mutable.HashMap[String, Long],
      b: scala.collection.mutable.HashMap[String, Long]): scala.collection.mutable.HashMap[String, Long] = {
    MisraGries.merge(a, b, k)
    a
  }

  override def eval(buf: scala.collection.mutable.HashMap[String, Long]): Any = {
    val entries = buf.toSeq.sortBy { case (key, c) => (-c, key) }.take(outputLimit)
    ArrayBasedMapData(
      entries.map(e => UTF8String.fromString(e._1)).toArray,
      entries.map(_._2).toArray)
  }

  override def serialize(buf: scala.collection.mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) => out.writeUTF(key); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.HashMap[String, Long] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    (0 until n).foreach(_ => m.update(in.readUTF(), in.readLong()))
    m
  }

  override def dataType: DataType = MapType(StringType, LongType)
  override def nullable: Boolean = false
  override def prettyName: String = "approx_heavy_hitters"
  override protected def withNewChildInternal(newChild: Expression): HeavyHittersAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = offset)
}

object HeavyHitters {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    // Presto's public name for the same Misra-Gries summary:
    // approx_most_frequent(buckets, value, capacity) — the summary is
    // sized by CAPACITY (count error <= N/capacity) and the reported
    // map truncated to the top `buckets` entries. Two-arg calls size by
    // buckets directly.
    fn("approx_most_frequent")(
      args => {
        val buckets = args(0).eval(null).asInstanceOf[Number].intValue()
        val capacity = if (args.length > 2)
          args(2).eval(null).asInstanceOf[Number].intValue() else buckets
        require(capacity >= buckets,
          s"approx_most_frequent: capacity ($capacity) must be >= buckets ($buckets)")
        HeavyHittersAgg(args(1), capacity, outputLimit = buckets)
      }),
    fn("approx_heavy_hitters")(
      args => HeavyHittersAgg(args.head,
        args(1).eval(null).asInstanceOf[Number].intValue())))
}
