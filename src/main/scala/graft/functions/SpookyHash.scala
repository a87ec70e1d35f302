package graft.functions

import org.apache.spark.sql.{functions => F}
import FunctionRegistry.scalaUdf

/** SpookyHash V2 (Bob Jenkins, public domain) — the reference registers
  * spooky_hash_v2_32 / spooky_hash_v2_64 over varbinary
  * (VarbinaryFunctions.java:280-297, via airlift's port). Re-implemented
  * from the published algorithm; the short path (< 192 bytes) is gated
  * on the reference's own test vectors
  * (TestVarbinaryFunctions.java:338-341), the long path follows the
  * published block structure (96-byte Mix blocks, 3x EndPartial).
  *
  * All reads are little-endian, as the algorithm specifies.
  */
object SpookyHash {
  private final val SC_CONST = 0xdeadbeefdeadbeefL
  private final val NUM_VARS = 12
  private final val BLOCK = NUM_VARS * 8 // 96
  private final val BUF = 2 * BLOCK // 192: below this, the short path

  private def rot(x: Long, k: Int): Long = java.lang.Long.rotateLeft(x, k)

  private def le64(b: Array[Byte], i: Int): Long = {
    var v = 0L
    var j = 7
    while (j >= 0) { v = (v << 8) | (b(i + j) & 0xffL); j -= 1 }
    v
  }

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
      ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)

  /** 128-bit hash; returns (h1, h2). */
  def hash128(data: Array[Byte], seed1: Long, seed2: Long): (Long, Long) =
    if (data.length < BUF) shortHash(data, seed1, seed2)
    else longHash(data, seed1, seed2)

  def hash64(data: Array[Byte], seed: Long): Long = hash128(data, seed, seed)._1
  def hash32(data: Array[Byte], seed: Int): Int =
    hash64(data, seed & 0xffffffffL).toInt

  // ---- short path (< 192 bytes) ----

  private def shortHash(data: Array[Byte], seed1: Long, seed2: Long): (Long, Long) = {
    val length = data.length
    var remainder = length % 32
    var a = seed1; var b = seed2; var c = SC_CONST; var d = SC_CONST
    var p = 0
    if (length > 15) {
      val end = (length / 32) * 32
      while (p < end) {
        c += le64(data, p); d += le64(data, p + 8)
        // ShortMix
        c = rot(c, 50); c += d; a ^= c
        d = rot(d, 52); d += a; b ^= d
        a = rot(a, 30); a += b; c ^= a
        b = rot(b, 41); b += c; d ^= b
        c = rot(c, 54); c += d; a ^= c
        d = rot(d, 48); d += a; b ^= d
        a = rot(a, 38); a += b; c ^= a
        b = rot(b, 37); b += c; d ^= b
        c = rot(c, 62); c += d; a ^= c
        d = rot(d, 34); d += a; b ^= d
        a = rot(a, 5); a += b; c ^= a
        b = rot(b, 36); b += c; d ^= b
        a += le64(data, p + 16); b += le64(data, p + 24)
        p += 32
      }
      if (remainder >= 16) {
        c += le64(data, p); d += le64(data, p + 8)
        c = rot(c, 50); c += d; a ^= c
        d = rot(d, 52); d += a; b ^= d
        a = rot(a, 30); a += b; c ^= a
        b = rot(b, 41); b += c; d ^= b
        c = rot(c, 54); c += d; a ^= c
        d = rot(d, 48); d += a; b ^= d
        a = rot(a, 38); a += b; c ^= a
        b = rot(b, 37); b += c; d ^= b
        c = rot(c, 62); c += d; a ^= c
        d = rot(d, 34); d += a; b ^= d
        a = rot(a, 5); a += b; c ^= a
        b = rot(b, 36); b += c; d ^= b
        p += 16
        remainder -= 16
      }
    }
    d += length.toLong << 56
    // fall-through byte tail, little-endian (the published switch)
    if (remainder >= 12) {
      if (remainder >= 13) {
        if (remainder >= 14) {
          if (remainder == 15) d += (data(p + 14) & 0xffL) << 48
          d += (data(p + 13) & 0xffL) << 40
        }
        d += (data(p + 12) & 0xffL) << 32
      }
      d += le32(data, p + 8)
      c += le64(data, p)
    } else if (remainder >= 8) {
      if (remainder >= 9) {
        if (remainder >= 10) {
          if (remainder == 11) d += (data(p + 10) & 0xffL) << 16
          d += (data(p + 9) & 0xffL) << 8
        }
        d += data(p + 8) & 0xffL
      }
      c += le64(data, p)
    } else if (remainder >= 4) {
      if (remainder >= 5) {
        if (remainder >= 6) {
          if (remainder == 7) c += (data(p + 6) & 0xffL) << 48
          c += (data(p + 5) & 0xffL) << 40
        }
        c += (data(p + 4) & 0xffL) << 32
      }
      c += le32(data, p)
    } else if (remainder >= 1) {
      if (remainder >= 2) {
        if (remainder == 3) c += (data(p + 2) & 0xffL) << 16
        c += (data(p + 1) & 0xffL) << 8
      }
      c += data(p) & 0xffL
    } else {
      c += SC_CONST; d += SC_CONST
    }
    // ShortEnd
    d ^= c; c = rot(c, 15); d += c
    a ^= d; d = rot(d, 52); a += d
    b ^= a; a = rot(a, 26); b += a
    c ^= b; b = rot(b, 51); c += b
    d ^= c; c = rot(c, 28); d += c
    a ^= d; d = rot(d, 9); a += d
    b ^= a; a = rot(a, 47); b += a
    c ^= b; b = rot(b, 54); c += b
    d ^= c; c = rot(c, 32); d += c
    a ^= d; d = rot(d, 25); a += d
    b ^= a; a = rot(a, 63); b += a
    (a, b)
  }

  // ---- long path (>= 192 bytes) ----

  private def longHash(data: Array[Byte], seed1: Long, seed2: Long): (Long, Long) = {
    val h = new Array[Long](NUM_VARS)
    h(0) = seed1; h(3) = seed1; h(6) = seed1; h(9) = seed1
    h(1) = seed2; h(4) = seed2; h(7) = seed2; h(10) = seed2
    h(2) = SC_CONST; h(5) = SC_CONST; h(8) = SC_CONST; h(11) = SC_CONST
    val length = data.length
    val end = (length / BLOCK) * BLOCK
    var p = 0
    while (p < end) { mix(data, p, h); p += BLOCK }
    val buf = new Array[Byte](BLOCK)
    val remainder = length - end
    System.arraycopy(data, end, buf, 0, remainder)
    buf(BLOCK - 1) = remainder.toByte
    // End: add the final block, then 3x EndPartial
    var i = 0
    while (i < NUM_VARS) { h(i) += le64(buf, i * 8); i += 1 }
    endPartial(h); endPartial(h); endPartial(h)
    (h(0), h(1))
  }

  private def mix(d: Array[Byte], p: Int, h: Array[Long]): Unit = {
    h(0) += le64(d, p); h(2) ^= h(10); h(11) ^= h(0); h(0) = rot(h(0), 11); h(11) += h(1)
    h(1) += le64(d, p + 8); h(3) ^= h(11); h(0) ^= h(1); h(1) = rot(h(1), 32); h(0) += h(2)
    h(2) += le64(d, p + 16); h(4) ^= h(0); h(1) ^= h(2); h(2) = rot(h(2), 43); h(1) += h(3)
    h(3) += le64(d, p + 24); h(5) ^= h(1); h(2) ^= h(3); h(3) = rot(h(3), 31); h(2) += h(4)
    h(4) += le64(d, p + 32); h(6) ^= h(2); h(3) ^= h(4); h(4) = rot(h(4), 17); h(3) += h(5)
    h(5) += le64(d, p + 40); h(7) ^= h(3); h(4) ^= h(5); h(5) = rot(h(5), 28); h(4) += h(6)
    h(6) += le64(d, p + 48); h(8) ^= h(4); h(5) ^= h(6); h(6) = rot(h(6), 39); h(5) += h(7)
    h(7) += le64(d, p + 56); h(9) ^= h(5); h(6) ^= h(7); h(7) = rot(h(7), 57); h(6) += h(8)
    h(8) += le64(d, p + 64); h(10) ^= h(6); h(7) ^= h(8); h(8) = rot(h(8), 55); h(7) += h(9)
    h(9) += le64(d, p + 72); h(11) ^= h(7); h(8) ^= h(9); h(9) = rot(h(9), 54); h(8) += h(10)
    h(10) += le64(d, p + 80); h(0) ^= h(8); h(9) ^= h(10); h(10) = rot(h(10), 22); h(9) += h(11)
    h(11) += le64(d, p + 88); h(1) ^= h(9); h(10) ^= h(11); h(11) = rot(h(11), 46); h(10) += h(0)
  }

  private def endPartial(h: Array[Long]): Unit = {
    h(11) += h(1); h(2) ^= h(11); h(1) = rot(h(1), 44)
    h(0) += h(2); h(3) ^= h(0); h(2) = rot(h(2), 15)
    h(1) += h(3); h(4) ^= h(1); h(3) = rot(h(3), 34)
    h(2) += h(4); h(5) ^= h(2); h(4) = rot(h(4), 21)
    h(3) += h(5); h(6) ^= h(3); h(5) = rot(h(5), 38)
    h(4) += h(6); h(7) ^= h(4); h(6) = rot(h(6), 47)
    h(5) += h(7); h(8) ^= h(5); h(7) = rot(h(7), 54)
    h(6) += h(8); h(9) ^= h(6); h(8) = rot(h(8), 9)
    h(7) += h(9); h(10) ^= h(7); h(9) = rot(h(9), 13)
    h(8) += h(10); h(11) ^= h(8); h(10) = rot(h(10), 37)
    h(9) += h(11); h(0) ^= h(9); h(11) = rot(h(11), 58)
    h(10) += h(0); h(1) ^= h(10); h(0) = rot(h(0), 62)
  }

  /** Register spooky_hash_v2_32/64(varbinary) -> varbinary (big-endian
    * bytes, matching the reference's reverseBytes write). Seed 0, as
    * VarbinaryFunctions.java:286,296 hard-code.
    */
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    scalaUdf("spooky_hash_v2_32", F.udf((b: Array[Byte]) =>
      if (b == null) null
      else {
        val v = hash32(b, 0)
        Array((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
      })),
    scalaUdf("spooky_hash_v2_64", F.udf((b: Array[Byte]) =>
      if (b == null) null
      else {
        val v = hash64(b, 0L)
        val out = new Array[Byte](8)
        var i = 0
        while (i < 8) { out(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
        out
      })))
}
