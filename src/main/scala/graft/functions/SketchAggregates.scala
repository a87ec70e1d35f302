package graft.functions

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{BitXorAgg, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import FunctionRegistry.{fn, scalaUdf}

/** Mergeable sketch aggregates — the reference's HyperLogLog / SetDigest /
  * checksum surface (SURVEY §2.4), rebuilt as Spark
  * `TypedImperativeAggregate`s so the partial/final split, shuffle of
  * serialized buffers, and AQE all come from Spark.
  *
  * References: operator/aggregation/ApproximateSetAggregation.java,
  * MergeHyperLogLogAggregation.java, HyperLogLogFunctions.java,
  * type/setdigest/SetDigestFunctions.java (jaccard_index),
  * ChecksumAggregationFunction.java:47.
  *
  * HLL implemented per Flajolet et al. 2007 (dense, p=12 → 4096 registers,
  * ~1.6% rel. error); bounded 4 KB buffer per group — safe at 100 TB.
  */
object Hll {
  val P = 12
  val M = 1 << P // 4096 registers

  def hashAny(v: Any): Long = v match {
    case null => 0L
    case l: Long => XXH64.hashLong(l, 42L)
    case i: Int => XXH64.hashLong(i.toLong, 42L)
    case s: UTF8String => XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), 42L)
    case d: Double => XXH64.hashLong(java.lang.Double.doubleToLongBits(d), 42L)
    case f: Float => XXH64.hashLong(java.lang.Float.floatToIntBits(f).toLong, 42L)
    case b: Array[Byte] =>
      XXH64.hashUnsafeBytes(b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
    case other => XXH64.hashLong(other.hashCode().toLong, 42L)
  }

  def update(regs: Array[Byte], h: Long): Unit = {
    val idx = (h >>> (64 - P)).toInt
    val w = h << P
    val rank = (if (w == 0) 64 - P else java.lang.Long.numberOfLeadingZeros(w)) + 1
    if (rank > regs(idx)) regs(idx) = rank.toByte
  }

  def merge(a: Array[Byte], b: Array[Byte]): Unit = {
    var i = 0
    while (i < M) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
  }

  def cardinality(regs: Array[Byte]): Long = {
    val alpha = 0.7213 / (1.0 + 1.079 / M)
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < M) {
      sum += 1.0 / (1L << regs(i)).toDouble
      if (regs(i) == 0) zeros += 1
      i += 1
    }
    var e = alpha * M * M / sum
    if (e <= 2.5 * M && zeros > 0) e = M * math.log(M.toDouble / zeros) // linear counting
    math.round(e)
  }
}

/** approx_set(x) / merge(hll): returns the serialized HLL sketch. */
case class HllSketchAgg(
    child: Expression,
    mergeMode: Boolean, // true: child is an existing serialized sketch
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Byte]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): Array[Byte] = new Array[Byte](Hll.M)

  override def update(buf: Array[Byte], input: InternalRow): Array[Byte] = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeMode) Hll.merge(buf, v.asInstanceOf[Array[Byte]])
      else Hll.update(buf, Hll.hashAny(v))
    }
    buf
  }

  override def merge(buf: Array[Byte], other: Array[Byte]): Array[Byte] = {
    Hll.merge(buf, other); buf
  }

  override def eval(buf: Array[Byte]): Any = buf
  override def serialize(buf: Array[Byte]): Array[Byte] = buf
  override def deserialize(bytes: Array[Byte]): Array[Byte] = bytes

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = if (mergeMode) "merge_hll" else "approx_set"
  override protected def withNewChildInternal(newChild: Expression): HllSketchAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): HllSketchAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllSketchAgg =
    copy(inputAggBufferOffset = offset)
}

/** Bottom-k set digest (k smallest distinct xxhash64 values, each with
  * an occurrence count) — mergeable minhash per Broder 1997; powers
  * jaccard_index / intersection_cardinality / hash_counts like the
  * reference's SetDigest (type/setdigest/SetDigest.java keeps the same
  * hash->short-count map beside its HLL). Bounded k*10-byte buffer per
  * group. Keys sort as UNSIGNED hashes (Long.MIN_VALUE xor flip) so
  * "bottom k" means smallest in hash space, as KMV estimation requires.
  */
object SetDigest {
  val K = 256
  type Buf = java.util.TreeMap[java.lang.Long, java.lang.Short]

  private def flip(h: Long): Long = h ^ Long.MinValue // unsigned-order key

  def newBuf(): Buf = new java.util.TreeMap[java.lang.Long, java.lang.Short]()

  def toBytes(s: Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + s.size * 10)
    bb.putInt(s.size)
    val it = s.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); bb.putLong(e.getKey); bb.putShort(e.getValue) }
    bb.array()
  }

  def fromBytes(b: Array[Byte]): Buf = {
    val bb = java.nio.ByteBuffer.wrap(b)
    val n = bb.getInt
    val s = newBuf()
    var i = 0
    while (i < n) { s.put(bb.getLong, bb.getShort); i += 1 }
    s
  }

  def add(s: Buf, h: Long): Unit = add(s, h, 1)

  def add(s: Buf, h: Long, count: Int): Unit = {
    val k = flip(h)
    val prev = s.get(k)
    val next = (if (prev == null) count else prev.toInt + count).min(Short.MaxValue).toShort
    s.put(k, next)
    while (s.size > K) s.pollLastEntry()
  }

  /** True iff the digest holds every distinct input hash (not yet
    * truncated to bottom-k) — reference SetDigest.isExact. */
  def isExact(s: Buf): Boolean = s.size < K

  /** Distinct-count estimate: exact below K; above, the KMV estimator
    * (K-1) / fraction-of-hash-space-below-the-kth-smallest.
    */
  def cardinality(s: Buf): Long = {
    if (isExact(s)) s.size.toLong
    else {
      // lastKey is sign-flipped, so its signed value v maps to unsigned
      // hash-space position u = v + 2^63; fraction = u / 2^64 = v/2^64 + 0.5
      val frac = (s.lastKey().toDouble / 1.8446744073709552e19) + 0.5
      math.round((K - 1) / math.max(frac, 1e-12))
    }
  }

  /** Jaccard estimate from two bottom-k digests (Broder): among the k
    * smallest of the union, the fraction present in both.
    */
  def jaccard(a: Buf, b: Buf): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val union = new java.util.TreeSet[java.lang.Long](a.keySet())
    union.addAll(b.keySet())
    var kept = 0
    var inBoth = 0
    val it = union.iterator()
    while (it.hasNext && kept < K) {
      val h = it.next()
      kept += 1
      if (a.containsKey(h) && b.containsKey(h)) inBoth += 1
    }
    inBoth.toDouble / kept
  }

  /** |A ∩ B| — exact when both digests are exact, else
    * min(round(jaccard * |A ∪ B|), min(|A|, |B|)), mirroring
    * SetDigestFunctions.intersectionCardinality (the jaccard-based
    * estimate can only overshoot when one set nears being a subset of
    * the other, where the smaller cardinality is the better bound).
    */
  def intersectionCardinality(a: Buf, b: Buf): Long = {
    if (isExact(a) && isExact(b)) {
      var n = 0L
      val it = a.keySet().iterator()
      while (it.hasNext) if (b.containsKey(it.next())) n += 1
      n
    } else {
      val ca = cardinality(a)
      val cb = cardinality(b)
      val j = jaccard(a, b)
      val union = newBuf()
      val ia = a.entrySet().iterator()
      while (ia.hasNext) { val e = ia.next(); add(union, flip(e.getKey), e.getValue.toInt) }
      val ib = b.entrySet().iterator()
      while (ib.hasNext) { val e = ib.next(); add(union, flip(e.getKey), e.getValue.toInt) }
      math.min(math.round(j * cardinality(union)), math.min(ca, cb))
    }
  }

  /** The stored hash -> occurrence-count map (raw hash keys) —
    * SetDigestFunctions.hashCounts. */
  def hashCounts(s: Buf): Map[Long, Short] = {
    val b = Map.newBuilder[Long, Short]
    val it = s.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); b += (flip(e.getKey) -> e.getValue.shortValue()) }
    b.result()
  }
}

/** mergeMode=false: make_set_digest(x) hashes raw values in; mergeMode=true:
  * merge_set_digest(digest) re-merges serialized digests
  * (MergeSetDigestAggregation.java:34). Bottom-k is exact under merge:
  * the bottom-k of a union of bottom-ks IS the bottom-k of the union.
  */
case class SetDigestAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0,
    mergeMode: Boolean = false)
  extends TypedImperativeAggregate[SetDigest.Buf] with UnaryLike[Expression] {

  private def addAll(buf: SetDigest.Buf, other: SetDigest.Buf): SetDigest.Buf = {
    val it = SetDigest.hashCounts(other).iterator
    while (it.hasNext) { val (h, c) = it.next(); SetDigest.add(buf, h, c.toInt) }
    buf
  }

  override def createAggregationBuffer(): SetDigest.Buf = SetDigest.newBuf()

  override def update(buf: SetDigest.Buf, input: InternalRow): SetDigest.Buf = {
    val v = child.eval(input)
    if (v != null) {
      if (mergeMode) addAll(buf, SetDigest.fromBytes(v.asInstanceOf[Array[Byte]]))
      else SetDigest.add(buf, Hll.hashAny(v))
    }
    buf
  }

  override def merge(buf: SetDigest.Buf, other: SetDigest.Buf): SetDigest.Buf =
    addAll(buf, other)

  override def eval(buf: SetDigest.Buf): Any = SetDigest.toBytes(buf)
  override def serialize(buf: SetDigest.Buf): Array[Byte] = SetDigest.toBytes(buf)
  override def deserialize(b: Array[Byte]): SetDigest.Buf = SetDigest.fromBytes(b)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "make_set_digest"
  override protected def withNewChildInternal(newChild: Expression): SetDigestAgg =
    copy(child = newChild)
  override def withNewMutableAggBufferOffset(offset: Int): SetDigestAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): SetDigestAgg =
    copy(inputAggBufferOffset = offset)
}

object SketchAggregates {
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    fn("approx_set")(
      args => HllSketchAgg(args.head, mergeMode = false)),
    fn("merge_hll")(
      args => HllSketchAgg(args.head, mergeMode = true)),
    fn("make_set_digest")(
      args => SetDigestAgg(args.head)),
    fn("merge_set_digest")(
      args => SetDigestAgg(args.head, mergeMode = true)),
    // checksum(x): order-independent xor of xxhash64 — stays fully native.
    // Reference: ChecksumAggregationFunction.java:47.
    fn("checksum")(
      args => BitXorAgg(new XxHash64(args))),

    // SQL convention: NULL/malformed sketch input -> NULL, not a crash.
    scalaUdf("hll_cardinality", F.udf((b: Array[Byte]) =>
      if (b == null || b.length != Hll.M) null
      else java.lang.Long.valueOf(Hll.cardinality(b)))),
    scalaUdf("jaccard_index", F.udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else java.lang.Double.valueOf(
        SetDigest.jaccard(SetDigest.fromBytes(a), SetDigest.fromBytes(b))))),
    // SetDigestFunctions.java:54 — exact below k, jaccard-bounded above
    scalaUdf("intersection_cardinality", F.udf((a: Array[Byte], b: Array[Byte]) =>
      if (a == null || b == null) null
      else java.lang.Long.valueOf(
        SetDigest.intersectionCardinality(SetDigest.fromBytes(a), SetDigest.fromBytes(b))))),
    // SetDigestFunctions.java:47 — cardinality(setdigest); named to avoid
    // shadowing Spark's array/map cardinality (Presto overloads by type)
    scalaUdf("set_digest_cardinality", F.udf((a: Array[Byte]) =>
      if (a == null) null
      else java.lang.Long.valueOf(SetDigest.cardinality(SetDigest.fromBytes(a))))),
    // SetDigestFunctions.java:86 — hash -> occurrence count map
    scalaUdf("hash_counts", F.udf((a: Array[Byte]) =>
      if (a == null) null
      else SetDigest.hashCounts(SetDigest.fromBytes(a)))))
}
