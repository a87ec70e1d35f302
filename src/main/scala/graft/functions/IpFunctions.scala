package graft.functions

import org.apache.spark.sql.{functions => F}
import FunctionRegistry.scalaUdf

/** ipaddress type + function slice.
  *
  * The reference models `ipaddress` as a fixed 16-byte value (IPv4 held
  * in IPv4-mapped-IPv6 form) with ordering operators and varchar /
  * varbinary casts — presto-spi/.../type/StandardTypes.java:43,
  * presto-main/.../type/IpAddressType.java:36 (`Slice.class, 16`),
  * presto-main/.../type/IpAddressOperators.java:126-187 (casts; v4 text
  * parses into bytes 12..15 with 10-11 = 0xFFFF; rendering collapses a
  * v4-mapped value back to dotted-quad).
  *
  * Spark-first mapping: the value type is a 16-byte `BinaryType` column
  * (Spark binary comparisons are unsigned lexicographic, so ordering /
  * GROUP BY / joins on the byte form match the reference's operator
  * semantics for free); the casts become `ip_to_bytes` / `ip_from_bytes`.
  * On top of the type slice we add the CIDR helpers a 100 TB pipeline
  * actually filters with (`ip_prefix`, `ip_subnet_min`/`max`/`range`,
  * `is_subnet_of` — the public Presto evolution of the same type):
  * all pure per-row arithmetic, no shuffle implications.
  */
object IpFunctions {

  /** Parse an IPv4/IPv6 literal to canonical 16 bytes. No DNS: the
    * grammar is parsed right here, never via InetAddress name lookup. */
  def ipToBytes(s: String): Array[Byte] = {
    require(s != null && s.nonEmpty, "invalid IP address: empty")
    val t = s.trim
    if (t.indexOf(':') < 0) {
      val out = new Array[Byte](16)
      out(10) = 0xFF.toByte
      out(11) = 0xFF.toByte
      parseV4Into(t, out, 12)
      out
    } else parseV6(t)
  }

  private def parseV4Into(t: String, out: Array[Byte], at: Int): Unit = {
    val parts = t.split("\\.", -1)
    require(parts.length == 4, s"invalid IPv4 address: $t")
    var i = 0
    while (i < 4) {
      val p = parts(i)
      require(p.nonEmpty && p.length <= 3 && p.forall(_.isDigit), s"invalid IPv4 address: $t")
      val v = p.toInt
      require(v <= 255, s"invalid IPv4 address: $t")
      out(at + i) = v.toByte
      i += 1
    }
  }

  private def parseV6(t: String): Array[Byte] = {
    val dc = t.indexOf("::")
    require(dc < 0 || t.indexOf("::", dc + 1) < 0, s"invalid IPv6 address: $t")
    // Each token is a 16-bit hex group; an embedded dotted-quad token is
    // 32 bits and must occupy the FINAL 32 bits of the address (RFC 4291
    // §2.2.3; InetAddress and the reference reject '1.2.3.4::'). With a
    // '::' present the zero-fill is >=1 group and lands after the head,
    // so a dotted token is only ever legal in the tail segment.
    def tokGroups(part: String, allowDot: Boolean): Array[Int] = {
      if (part.isEmpty) return Array.emptyIntArray
      val toks = part.split(":", -1)
      toks.zipWithIndex.flatMap { case (tok, i) =>
        require(tok.nonEmpty, s"invalid IPv6 address: $t")
        if (tok.indexOf('.') >= 0) {
          require(allowDot && i == toks.length - 1, s"invalid IPv6 address: $t")
          val b = new Array[Byte](4)
          parseV4Into(tok, b, 0)
          Array(((b(0) & 255) << 8) | (b(1) & 255), ((b(2) & 255) << 8) | (b(3) & 255))
        } else {
          require(tok.length <= 4 && tok.forall(c => Character.digit(c, 16) >= 0),
            s"invalid IPv6 address: $t")
          Array(Integer.parseInt(tok, 16))
        }
      }
    }
    val groups: Array[Int] =
      if (dc < 0) {
        val g = tokGroups(t, allowDot = true)
        require(g.length == 8, s"invalid IPv6 address: $t")
        g
      } else {
        val head = tokGroups(t.substring(0, dc), allowDot = false)
        val tail = tokGroups(t.substring(dc + 2), allowDot = true)
        require(head.length + tail.length <= 7, s"invalid IPv6 address: $t")
        head ++ Array.fill(8 - head.length - tail.length)(0) ++ tail
      }
    val out = new Array[Byte](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = (groups(i) >> 8).toByte
      out(2 * i + 1) = groups(i).toByte
      i += 1
    }
    out
  }

  /** Canonical rendering (IpAddressOperators.java:155 semantics): a
    * v4-mapped value prints as dotted-quad; otherwise RFC 5952 —
    * lowercase hex, leftmost-longest zero run of >=2 groups → `::`. */
  /** v4-mapped-IPv6 test on the VALUE (bytes 0-9 zero, 10-11 0xFFFF) —
    * the text form is irrelevant: '::ffff:1.2.3.4' IS an IPv4 value. */
  private def isV4Mapped(b: Array[Byte]): Boolean =
    (0 until 10).forall(b(_) == 0) && b(10) == -1 && b(11) == -1

  def ipFromBytes(b: Array[Byte]): String = {
    require(b != null && b.length == 16, "ipaddress value must be exactly 16 bytes")
    if (isV4Mapped(b)) s"${b(12) & 255}.${b(13) & 255}.${b(14) & 255}.${b(15) & 255}"
    else {
      val g = Array.tabulate(8)(i => ((b(2 * i) & 255) << 8) | (b(2 * i + 1) & 255))
      var bestStart = -1; var bestLen = 1; var i = 0
      while (i < 8) {
        if (g(i) == 0) {
          var j = i
          while (j < 8 && g(j) == 0) j += 1
          if (j - i > bestLen) { bestLen = j - i; bestStart = i }
          i = j
        } else i += 1
      }
      val sb = new java.lang.StringBuilder(40)
      i = 0
      while (i < 8) {
        if (i == bestStart) { sb.append("::"); i += bestLen }
        else {
          if (sb.length > 0 && sb.charAt(sb.length - 1) != ':') sb.append(':')
          sb.append(Integer.toHexString(g(i)))
          i += 1
        }
      }
      if (sb.length == 0) "::" else sb.toString
    }
  }

  /** 0-based prefix over the 16-byte form; IPv4 prefix lengths are
    * measured over 32 bits and offset into the mapped tail. v4-ness is
    * decided from the PARSED value, not the text, so '::ffff:1.2.3.4'
    * gets IPv4 prefix semantics like the reference
    * (IpAddressOperators.java renders/treats mapped values as v4). */
  private def effectiveBits(b: Array[Byte], bits: Int): Int =
    if (isV4Mapped(b)) {
      require(bits >= 0 && bits <= 32, s"IPv4 subnet size must be in [0, 32]: $bits")
      96 + bits
    } else {
      require(bits >= 0 && bits <= 128, s"IPv6 subnet size must be in [0, 128]: $bits")
      bits
    }

  /** Zero (floor=true) or fill (floor=false) every bit past `bits`. */
  private def withHostBits(b: Array[Byte], bits: Int, floor: Boolean): Array[Byte] = {
    val out = b.clone()
    var k = 0
    while (k < 16) {
      val hostBits = math.max(0, math.min(8, (k + 1) * 8 - bits))
      if (hostBits > 0) {
        val mask = (0xFF << hostBits) & 0xFF
        out(k) = (if (floor) out(k) & mask else out(k) | ~mask).toByte
      }
      k += 1
    }
    out
  }

  private def splitCidr(cidr: String): (String, Int) = {
    require(cidr != null, "invalid CIDR: null")
    val slash = cidr.lastIndexOf('/')
    require(slash > 0 && slash < cidr.length - 1, s"invalid CIDR: $cidr")
    val bits = cidr.substring(slash + 1)
    require(bits.forall(_.isDigit), s"invalid CIDR: $cidr")
    (cidr.substring(0, slash), bits.toInt)
  }

  /** ip_prefix(ip, bits) -> canonical 'network/bits'. */
  def ipPrefix(ip: String, bits: Int): String = {
    if (ip == null) return null
    val b = ipToBytes(ip)
    ipFromBytes(withHostBits(b, effectiveBits(b, bits), floor = true)) + "/" + bits
  }

  def ipSubnetMin(cidr: String): String = {
    if (cidr == null) return null
    val (ip, bits) = splitCidr(cidr)
    val b = ipToBytes(ip)
    ipFromBytes(withHostBits(b, effectiveBits(b, bits), floor = true))
  }

  def ipSubnetMax(cidr: String): String = {
    if (cidr == null) return null
    val (ip, bits) = splitCidr(cidr)
    val b = ipToBytes(ip)
    ipFromBytes(withHostBits(b, effectiveBits(b, bits), floor = false))
  }

  def ipSubnetRange(cidr: String): Array[String] =
    if (cidr == null) null else Array(ipSubnetMin(cidr), ipSubnetMax(cidr))

  private def unsignedCompare(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    while (i < 16) {
      val d = (a(i) & 255) - (b(i) & 255)
      if (d != 0) return d
      i += 1
    }
    0
  }

  /** is_subnet_of(cidr, ip) — v4 ranges live inside ::ffff:0:0/96, so a
    * non-mapped v6 probe can never fall in a v4 range (and vice versa). */
  def isSubnetOf(cidr: String, ip: String): java.lang.Boolean = {
    if (cidr == null || ip == null) return null
    val (net, bits) = splitCidr(cidr)
    val base = ipToBytes(net)
    val eff = effectiveBits(base, bits)
    val probe = ipToBytes(ip)
    unsignedCompare(withHostBits(base, eff, floor = true), probe) <= 0 &&
      unsignedCompare(probe, withHostBits(base, eff, floor = false)) <= 0
  }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    scalaUdf("ip_to_bytes", F.udf((s: String) => if (s == null) null else ipToBytes(s))),
    scalaUdf("ip_from_bytes", F.udf((b: Array[Byte]) => if (b == null) null else ipFromBytes(b))),
    scalaUdf("ip_prefix", F.udf((s: String, bits: Int) => ipPrefix(s, bits))),
    scalaUdf("ip_subnet_min", F.udf((s: String) => ipSubnetMin(s))),
    scalaUdf("ip_subnet_max", F.udf((s: String) => ipSubnetMax(s))),
    scalaUdf("ip_subnet_range", F.udf((s: String) => ipSubnetRange(s))),
    scalaUdf("is_subnet_of", F.udf((c: String, ip: String) => isSubnetOf(c, ip))))
}
