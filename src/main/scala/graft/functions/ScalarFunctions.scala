package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import FunctionRegistry.scalaUdf

/** Custom scalar functions the reference has and Spark lacks.
  *
  * Implemented as Scala UDFs only where no native composition exists;
  * anything expressible with `org.apache.spark.sql.functions` stays
  * native for whole-stage codegen (see `Fns`).
  *
  * References (SURVEY §2.9): operator/scalar/StringFunctions.java
  * (word_stem, normalize), UrlFunctions.java, MathFunctions.java
  * (to_base/from_base, cosine_similarity), VarbinaryFunctions.java
  * (ieee754, hmac).
  */
object ScalarFunctions {

  /** Minimal Porter stemmer (published algorithm, Porter 1980) —
    * reference: operator/scalar/WordStemFunction.java (Lucene snowball).
    */
  def porterStem(w: String): String = {
    if (w == null || w.length <= 2) return w
    var s = w.toLowerCase
    def isVowel(c: Char, i: Int, str: String): Boolean = c match {
      case 'a' | 'e' | 'i' | 'o' | 'u' => true
      case 'y' => i > 0 && !isVowel(str(i - 1), i - 1, str)
      case _ => false
    }
    def measure(str: String): Int = {
      var m = 0; var prevVowel = false
      for (i <- str.indices) {
        val v = isVowel(str(i), i, str)
        if (!v && prevVowel) m += 1
        prevVowel = v
      }
      m
    }
    def hasVowel(str: String): Boolean = str.indices.exists(i => isVowel(str(i), i, str))
    // Step 1a
    if (s.endsWith("sses")) s = s.dropRight(2)
    else if (s.endsWith("ies")) s = s.dropRight(2)
    else if (s.endsWith("ss")) ()
    else if (s.endsWith("s") && s.length > 1) s = s.dropRight(1)
    // Step 1b (simplified)
    // *d rule: strip one of a DOUBLED CONSONANT (not vowel) unless l/s/z
    def doubledConsonant(str: String): Boolean =
      str.length >= 2 && str(str.length - 1) == str(str.length - 2) &&
        !"aeiou".contains(str.last) && !"lsz".contains(str.last)
    if (s.endsWith("eed")) { if (measure(s.dropRight(3)) > 0) s = s.dropRight(1) }
    else if (s.endsWith("ed") && hasVowel(s.dropRight(2))) {
      s = s.dropRight(2)
      if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s = s + "e"
      else if (doubledConsonant(s)) s = s.dropRight(1)
    } else if (s.endsWith("ing") && hasVowel(s.dropRight(3))) {
      s = s.dropRight(3)
      if (s.endsWith("at") || s.endsWith("bl") || s.endsWith("iz")) s = s + "e"
      else if (doubledConsonant(s)) s = s.dropRight(1)
    }
    // Step 1c
    if (s.endsWith("y") && hasVowel(s.dropRight(1))) s = s.dropRight(1) + "i"
    s
  }

  def urlEncode(s: String): String =
    if (s == null) null else java.net.URLEncoder.encode(s, "UTF-8").replace("+", "%20")

  def urlDecode(s: String): String =
    if (s == null) null else java.net.URLDecoder.decode(s, "UTF-8")

  def toBase(x: Long, radix: Int): String = java.lang.Long.toString(x, radix)
  def fromBase(s: String, radix: Int): Long = java.lang.Long.parseLong(s, radix)

  def toIeee754_64(d: Double): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putDouble(d); bb.array()
  }
  def fromIeee754_64(b: Array[Byte]): Double =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.BIG_ENDIAN).getDouble

  def toIeee754_32(f: Float): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.BIG_ENDIAN)
    bb.putFloat(f); bb.array()
  }
  def fromIeee754_32(b: Array[Byte]): Float =
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.BIG_ENDIAN).getFloat

  // URL-safe base64 WITH padding — VarbinaryFunctions.java:85 uses
  // java.util.Base64.getUrlEncoder() verbatim.
  def toBase64Url(b: Array[Byte]): String =
    if (b == null) null else java.util.Base64.getUrlEncoder.encodeToString(b)
  def fromBase64Url(s: String): Array[Byte] =
    if (s == null) null else java.util.Base64.getUrlDecoder.decode(s)

  // Presto to_hex is uppercase (VarbinaryFunctions.java); from_hex takes
  // either case. Spark's hex()/unhex() match, but only cover string/long
  // inputs under those names — expose the Presto names over bytes.
  def toHex(b: Array[Byte]): String = {
    if (b == null) return null
    val sb = new java.lang.StringBuilder(b.length * 2)
    b.foreach(x => sb.append(f"${x & 0xff}%02X"))
    sb.toString
  }
  def fromHex(s: String): Array[Byte] = {
    if (s == null) return null
    require(s.length % 2 == 0, "invalid hex string length")
    Array.tabulate(s.length / 2)(i =>
      Integer.parseInt(s.substring(2 * i, 2 * i + 2), 16).toByte)
  }

  /** millisecond-of-second — DateTimeFunctions.java:705 (BIGINT). */
  def millisecondOf(ts: java.sql.Timestamp): java.lang.Long =
    if (ts == null) null else java.lang.Long.valueOf(ts.getNanos / 1000000L)

  /** ISO week-based year (year_of_week/yow — DateTimeFunctions.java):
    * 2005-01-02 falls in ISO week 53 of 2004.
    */
  def yearOfWeek(d: java.sql.Date): java.lang.Long =
    if (d == null) null
    else java.lang.Long.valueOf(
      d.toLocalDate.get(java.time.temporal.IsoFields.WEEK_BASED_YEAR).toLong)

  /** at_timezone(ts, zone) — the same instant rendered in `zone`
    * (DesugarAtTimeZoneRewriter.java). Spark has no tz-carrying
    * timestamp type; the ISO-8601 offset string IS our representation
    * of TIMESTAMP WITH TIME ZONE (documented delta).
    */
  def atTimezone(ts: java.sql.Timestamp, zone: String): String =
    if (ts == null || zone == null) null
    else ts.toInstant.atZone(java.time.ZoneId.of(zone))
      .format(java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME)

  private def zoneOffsetSeconds(ts: java.sql.Timestamp, zone: String): Int =
    java.time.ZoneId.of(zone).getRules.getOffset(ts.toInstant).getTotalSeconds

  /** timezone_hour/timezone_minute of a (timestamp, zone) pair —
    * DateTimeFunctions.java timezone_hour/timezone_minute; DST-aware
    * (America/New_York is -5 in January, -4 in July).
    */
  def timezoneHour(ts: java.sql.Timestamp, zone: String): java.lang.Long =
    if (ts == null || zone == null) null
    else java.lang.Long.valueOf(zoneOffsetSeconds(ts, zone) / 3600L)
  def timezoneMinute(ts: java.sql.Timestamp, zone: String): java.lang.Long =
    if (ts == null || zone == null) null
    else java.lang.Long.valueOf((zoneOffsetSeconds(ts, zone) / 60L) % 60L)

  def hmacSha256(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }

  def normalizeNfc(s: String): String =
    if (s == null) null else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)

  /** 64-bit SimHash over whitespace tokens (Charikar 2002). Per-doc cost
    * O(tokens); deterministic (xxhash64 per token via Spark's own impl
    * would need an expression — use a splitmix-style hash here).
    */
  def simhash64(text: String): Long = {
    if (text == null) return 0L
    val weights = new Array[Int](64)
    text.toLowerCase.split("\\s+").foreach { tok =>
      var h = tok.hashCode.toLong * 0x9E3779B97F4A7C15L
      h ^= (h >>> 32); h *= 0xBF58476D1CE4E5B9L; h ^= (h >>> 29)
      var i = 0
      while (i < 64) { if (((h >>> i) & 1L) == 1L) weights(i) += 1 else weights(i) -= 1; i += 1 }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (weights(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** MySQL-pattern date formatting (Presto's date_format /
    * DateTimeFunctions.java uses MySQL patterns, not Java's). Translates
    * the MySQL specifiers to DateTimeFormatter patterns.
    */
  private val mysqlToJava: Seq[(String, String)] = Seq(
    // u = ChronoField.YEAR, matching the parse defaults (y is year-of-era)
    "%Y" -> "uuuu", "%y" -> "uu", "%M" -> "MMMM", "%m" -> "MM", "%c" -> "M",
    "%d" -> "dd", "%e" -> "d", "%H" -> "HH", "%k" -> "H", "%h" -> "hh",
    "%i" -> "mm", "%s" -> "ss", "%S" -> "ss", "%f" -> "SSSSSS",
    "%W" -> "EEEE", "%a" -> "EEE", "%b" -> "MMM", "%j" -> "DDD",
    "%p" -> "a", "%T" -> "HH:mm:ss", "%%" -> "%")

  def translateMysqlPattern(p: String): String = {
    val sb = new StringBuilder
    val lit = new StringBuilder // pending literal run
    def flushLit(): Unit = if (lit.nonEmpty) {
      // one quoted section per run — emitting each char separately would
      // merge adjacent quotes into java.time's '' escape ("a'b" not "ab")
      sb.append("'").append(lit.toString.replace("'", "''")).append("'")
      lit.clear()
    }
    var i = 0
    while (i < p.length) {
      if (p(i) == '%' && i + 1 < p.length) {
        val spec = p.substring(i, i + 2)
        mysqlToJava.find(_._1 == spec) match {
          case Some((_, j)) => flushLit(); sb.append(j)
          case None => lit.append(p(i + 1))
        }
        i += 2
      } else if (p(i).isLetter || p(i) == '\'') { lit.append(p(i)); i += 1 }
      else { flushLit(); sb.append(p(i)); i += 1 }
    }
    flushLit()
    sb.toString
  }

  def dateFormatMysql(ts: java.sql.Timestamp, pattern: String): String = {
    if (ts == null || pattern == null) return null
    ts.toInstant.atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(translateMysqlPattern(pattern)))
  }

  /** hamming_distance(a, b) — StringFunctions.java hammingDistance.
    * Presto errors on unequal lengths; ANSI-style runtime error here too.
    */
  def hammingDistance(a: String, b: String): java.lang.Long = {
    if (a == null || b == null) return null
    val ca = a.codePoints.toArray
    val cb = b.codePoints.toArray
    require(ca.length == cb.length, "The input strings to hamming_distance function must have the same length")
    var i = 0; var d = 0L
    while (i < ca.length) { if (ca(i) != cb(i)) d += 1; i += 1 }
    d
  }

  /** split_to_multimap(s, entryDelim, kvDelim) — SplitToMultimapFunction.java.
    * Keys keep first-seen order (LinkedHashMap) so rendered JSON is stable.
    */
  def splitToMultimap(s: String, entryDelim: String, kvDelim: String): scala.collection.Map[String, Seq[String]] = {
    if (s == null) return null
    val out = scala.collection.mutable.LinkedHashMap.empty[String, scala.collection.mutable.ArrayBuffer[String]]
    s.split(java.util.regex.Pattern.quote(entryDelim), -1).foreach { entry =>
      val kv = entry.split(java.util.regex.Pattern.quote(kvDelim), 2)
      // SplitToMultimapFunction.java:84-86 rejects BOTH zero and >1
      // delimiter occurrences per entry; split(limit=2) alone would
      // silently accept 'a=1=2' with value '1=2'.
      require(kv.length == 2 && !kv(1).contains(kvDelim),
        s"Key-value delimiter must appear exactly once in each entry. Bad input: '$entry'")
      out.getOrElseUpdate(kv(0), scala.collection.mutable.ArrayBuffer.empty) += kv(1)
    }
    out.map { case (k, v) => k -> v.toSeq }
  }

  /** Big-endian varbinary codecs — VarbinaryFunctions.java
    * toBigEndian64/fromBigEndian64/toBigEndian32/fromBigEndian32.
    */
  def toBigEndian64(x: Long): Array[Byte] =
    java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN).putLong(x).array()
  def fromBigEndian64(b: Array[Byte]): Long = {
    require(b.length == 8, "expected 8-byte value")
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.BIG_ENDIAN).getLong
  }
  def toBigEndian32(x: Int): Array[Byte] =
    java.nio.ByteBuffer.allocate(4).order(java.nio.ByteOrder.BIG_ENDIAN).putInt(x).array()
  def fromBigEndian32(b: Array[Byte]): Int = {
    require(b.length == 4, "expected 4-byte value")
    java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.BIG_ENDIAN).getInt
  }

  /** parse_duration('2.4s') — DataSizeFunctions.java sibling parseDuration
    * (operator/scalar/ParseDurationFunction in later trees; units
    * ns/us/ms/s/m/h/d). Returned as a day-time interval (Spark's
    * DayTimeIntervalType via java.time.Duration).
    */
  def parseDuration(s: String): java.time.Duration = {
    if (s == null) return null
    val m = java.util.regex.Pattern.compile("^\\s*(\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]+)\\s*$").matcher(s)
    require(m.matches(), s"duration is not a valid data duration string: $s")
    val v = m.group(1).toDouble
    val nanosPerUnit: Long = m.group(2) match {
      case "ns" => 1L
      case "us" => 1000L
      case "ms" => 1000L * 1000
      case "s" => 1000L * 1000 * 1000
      case "m" => 60L * 1000 * 1000 * 1000
      case "h" => 3600L * 1000 * 1000 * 1000
      case "d" => 24L * 3600 * 1000 * 1000 * 1000
      case u => throw new IllegalArgumentException(s"Unknown duration unit: $u")
    }
    java.time.Duration.ofNanos(Math.round(v * nanosPerUnit))
  }

  /** to_milliseconds(interval day to second) — DateTimeFunctions.java. */
  def durationToMillis(d: java.time.Duration): java.lang.Long =
    if (d == null) null else d.toMillis

  /** parse_presto_data_size('2.3MB') -> bytes — DataSizeFunctions.java.
    * Reference returns decimal(38,0); LONG covers 8 EB which is the
    * practical domain (documented delta).
    */
  def parseDataSize(s: String): java.lang.Long = {
    if (s == null) return null
    val m = java.util.regex.Pattern.compile("^\\s*(\\d+(?:\\.\\d+)?)\\s*([a-zA-Z]*)\\s*$").matcher(s)
    require(m.matches(), s"Invalid data size: '$s'")
    val v = m.group(1).toDouble
    val factor: Double = m.group(2) match {
      case "B" | "" => 1d
      case "kB" => 1024d
      case "MB" => math.pow(1024, 2)
      case "GB" => math.pow(1024, 3)
      case "TB" => math.pow(1024, 4)
      case "PB" => math.pow(1024, 5)
      case "EB" => math.pow(1024, 6)
      case u => throw new IllegalArgumentException(s"Invalid data size unit: $u")
    }
    (v * factor).toLong
  }

  /** Joda-pattern pair format_datetime/parse_datetime —
    * DateTimeFunctions.java formatDatetime/parseDatetime. The common
    * specifier subset (y M d H m s E) coincides with java.time; known
    * deltas (era vs year-of-era edge patterns) documented in COVERAGE.md.
    */
  def formatDatetime(ts: java.sql.Timestamp, pattern: String): String = {
    if (ts == null || pattern == null) return null
    ts.toInstant.atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern(pattern))
  }

  def parseDatetime(s: String, pattern: String): java.sql.Timestamp = {
    if (s == null || pattern == null) return null
    // Joda 'y' is the proleptic year — java.time's 'u'. Mapping it (outside
    // quoted literals) keeps parseDefaulting(YEAR) from conflicting with a
    // parsed year-of-era field.
    val p = {
      val sb = new StringBuilder; var quoted = false
      pattern.foreach { c =>
        if (c == '\'') { quoted = !quoted; sb.append(c) }
        else sb.append(if (c == 'y' && !quoted) 'u' else c)
      }
      sb.toString
    }
    val f = new java.time.format.DateTimeFormatterBuilder()
      .appendPattern(p)
      .parseDefaulting(java.time.temporal.ChronoField.YEAR, 1970)
      .parseDefaulting(java.time.temporal.ChronoField.MONTH_OF_YEAR, 1)
      .parseDefaulting(java.time.temporal.ChronoField.DAY_OF_MONTH, 1)
      .parseDefaulting(java.time.temporal.ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter()
    java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(s, f).toInstant(java.time.ZoneOffset.UTC))
  }

  // ---- JSON helpers (JsonFunctions.java) — Jackson is already on the
  // Spark classpath; one shared reader (ObjectMapper is thread-safe for
  // reads).
  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def parseJsonOrNull(s: String): com.fasterxml.jackson.databind.JsonNode =
    try jsonMapper.readTree(s) catch { case _: Exception => null }

  /** is_json_scalar(json) — JsonFunctions.java isJsonScalar. */
  def isJsonScalar(s: String): java.lang.Boolean = {
    if (s == null) return null
    val n = parseJsonOrNull(s)
    if (n == null) null else java.lang.Boolean.valueOf(!n.isContainerNode)
  }

  /** json_size(json, path) — children count of the object/array at path,
    * 0 for scalars, NULL for a missing path (JsonFunctions.java jsonSize).
    * Supports the common `$.a.b[0]` JSONPath subset.
    */
  def jsonSize(s: String, path: String): java.lang.Long = {
    if (s == null || path == null) return null
    val node = jsonAtPath(s, path)
    if (node == null) null else java.lang.Long.valueOf(if (node.isContainerNode) node.size().toLong else 0L)
  }

  private def jsonAtPath(s: String, path: String): com.fasterxml.jackson.databind.JsonNode = {
    var node = parseJsonOrNull(s)
    if (node == null) return null
    require(path.startsWith("$"), s"Invalid JSON path: '$path'")
    val steps = java.util.regex.Pattern.compile(
      "\\.([A-Za-z_][A-Za-z0-9_]*)|\\[(\\d+)\\]|\\[\"([^\"]*)\"\\]|\\['([^']*)'\\]").matcher(path)
    var consumed = 1
    while (node != null && steps.find()) {
      require(steps.start == consumed, s"Invalid JSON path: '$path'")
      consumed = steps.end
      node =
        if (steps.group(1) != null) node.get(steps.group(1))
        else if (steps.group(2) != null) node.get(steps.group(2).toInt)
        else if (steps.group(3) != null) node.get(steps.group(3))
        else node.get(steps.group(4))
    }
    require(consumed == path.length, s"Invalid JSON path: '$path'")
    node
  }

  /** json_extract_scalar(json, path) — JsonExtract.java:262
    * (ScalarValueJsonExtractor): NULL when the path resolves to an
    * object, array, JSON null, or a missing path; strings surface
    * unquoted, numbers/booleans as their JSON text. Spark's
    * get_json_object (kept for json_extract) returns the container's
    * JSON text instead, so it cannot implement this directly.
    */
  def jsonExtractScalar(s: String, path: String): String = {
    if (s == null || path == null) return null
    val node = jsonAtPath(s, path)
    if (node == null || node.isContainerNode || node.isNull) null
    else if (node.isTextual) node.textValue
    else node.asText
  }

  /** json_array_get(json, index) — element at index as JSON text; negative
    * indices count from the end (JsonFunctions.java jsonArrayGet).
    */
  def jsonArrayGet(s: String, index: Long): String = {
    if (s == null) return null
    val n = parseJsonOrNull(s)
    if (n == null || !n.isArray) return null
    val i = if (index < 0) n.size() + index else index
    val el = n.get(i.toInt)
    if (el == null) null
    else if (el.isTextual) el.textValue
    else el.toString
  }

  /** json_array_contains(json, value) — JsonFunctions.java. The value
    * arrives as its SQL text (Spark coerces to string); numeric text
    * compares numerically, 'true'/'false' as booleans, else as varchar.
    */
  def jsonArrayContains(s: String, value: String): java.lang.Boolean = {
    if (s == null || value == null) return null
    val n = parseJsonOrNull(s)
    if (n == null || !n.isArray) return null
    val asNum = try Some(java.lang.Double.parseDouble(value)) catch { case _: Exception => None }
    val it = n.elements()
    var found = false
    while (!found && it.hasNext) {
      val el = it.next()
      found =
        if (el.isNumber && asNum.isDefined) el.doubleValue == asNum.get
        else if (el.isBoolean && (value == "true" || value == "false")) el.booleanValue == (value == "true")
        else el.isTextual && el.textValue == value
    }
    found
  }

  // ---- Statistical CDFs (MathFunctions.java normalCdf/inverseNormalCdf/
  // betaCdf/inverseBetaCdf) via commons-math3 (already a Spark dependency).
  def normalCdf(mean: Double, sd: Double, v: Double): Double = {
    require(sd > 0, "standardDeviation must be > 0")
    0.5 * org.apache.commons.math3.special.Erf.erfc(-(v - mean) / (sd * math.sqrt(2.0)))
  }

  def inverseNormalCdf(mean: Double, sd: Double, p: Double): Double = {
    require(p > 0 && p < 1, "p must be 0 > p > 1")
    require(sd > 0, "standardDeviation must be > 0")
    mean + sd * math.sqrt(2.0) * org.apache.commons.math3.special.Erf.erfInv(2 * p - 1)
  }

  def betaCdf(a: Double, b: Double, v: Double): Double = {
    require(a > 0 && b > 0, "alpha and beta must be > 0")
    require(v >= 0 && v <= 1, "value must be in the interval [0, 1]")
    org.apache.commons.math3.special.Beta.regularizedBeta(v, a, b)
  }

  def inverseBetaCdf(a: Double, b: Double, p: Double): Double = {
    require(a > 0 && b > 0, "alpha and beta must be > 0")
    require(p >= 0 && p <= 1, "p must be in the interval [0, 1]")
    new org.apache.commons.math3.distribution.BetaDistribution(null, a, b)
      .inverseCumulativeProbability(p)
  }

  def dateParseMysql(s: String, pattern: String): java.sql.Timestamp = {
    if (s == null || pattern == null) return null
    // Presto's date_parse defaults every unspecified field (year 1970,
    // month/day 1, time 0) rather than erroring on date-only patterns.
    val f = new java.time.format.DateTimeFormatterBuilder()
      .appendPattern(translateMysqlPattern(pattern))
      .parseDefaulting(java.time.temporal.ChronoField.YEAR, 1970)
      .parseDefaulting(java.time.temporal.ChronoField.MONTH_OF_YEAR, 1)
      .parseDefaulting(java.time.temporal.ChronoField.DAY_OF_MONTH, 1)
      .parseDefaulting(java.time.temporal.ChronoField.HOUR_OF_DAY, 0)
      .parseDefaulting(java.time.temporal.ChronoField.MINUTE_OF_HOUR, 0)
      .parseDefaulting(java.time.temporal.ChronoField.SECOND_OF_MINUTE, 0)
      .toFormatter()
    java.sql.Timestamp.from(
      java.time.LocalDateTime.parse(s, f).toInstant(java.time.ZoneOffset.UTC))
  }

  // wilson_interval_lower/upper — WilsonInterval.java:30-57, identical
  // double-op order so the DuckDB oracle reproduces bits exactly
  private def wilson(s: Long, t: Long, z: Double, bound: Int): Double = {
    require(s >= 0, "number of successes must not be negative")
    require(t > 0, "number of trials must be positive")
    require(s <= t, "number of successes must not be larger than number of trials")
    require(z >= 0, "z-score must not be negative")
    val p = s * 1.0 / t
    val n = t.toDouble
    (p + (z * z) / (2 * n) + bound * z * math.sqrt((p * (1 - p)) / n + (z * z) / (4 * n * n))) / (1 + (z * z) / n)
  }

  def functions: Seq[FunctionRegistry.Fn] = Seq(
    scalaUdf("wilson_interval_lower", udf((s: Long, t: Long, z: Double) => wilson(s, t, z, -1))),
    scalaUdf("wilson_interval_upper", udf((s: Long, t: Long, z: Double) => wilson(s, t, z, 1))),
    // empty_approx_set() — HyperLogLogFunctions.java
    scalaUdf("empty_approx_set", udf(() => new Array[Byte](Hll.M))),
    scalaUdf("date_format_mysql", udf((ts: java.sql.Timestamp, p: String) => dateFormatMysql(ts, p))),
    scalaUdf("date_parse_mysql", udf((s: String, p: String) => dateParseMysql(s, p))),
    scalaUdf("word_stem", udf((s: String) => porterStem(s))),
    scalaUdf("url_encode", udf((s: String) => urlEncode(s))),
    scalaUdf("url_decode", udf((s: String) => urlDecode(s))),
    scalaUdf("to_base", udf((x: Long, r: Int) => toBase(x, r))),
    scalaUdf("from_base", udf((s: String, r: Int) => fromBase(s, r))),
    scalaUdf("to_ieee754_64", udf((d: Double) => toIeee754_64(d))),
    scalaUdf("from_ieee754_64", udf((b: Array[Byte]) => fromIeee754_64(b))),
    scalaUdf("to_ieee754_32", udf((f: Float) => toIeee754_32(f))),
    scalaUdf("from_ieee754_32", udf((b: Array[Byte]) => fromIeee754_32(b))),
    scalaUdf("to_base64url", udf((b: Array[Byte]) => toBase64Url(b))),
    scalaUdf("from_base64url", udf((s: String) => fromBase64Url(s))),
    scalaUdf("to_hex", udf((b: Array[Byte]) => toHex(b))),
    scalaUdf("from_hex", udf((s: String) => fromHex(s))),
    scalaUdf("millisecond", udf((ts: java.sql.Timestamp) => millisecondOf(ts))),
    scalaUdf("at_timezone", udf((ts: java.sql.Timestamp, z: String) => atTimezone(ts, z))),
    scalaUdf("timezone_hour", udf((ts: java.sql.Timestamp, z: String) => timezoneHour(ts, z))),
    scalaUdf("timezone_minute", udf((ts: java.sql.Timestamp, z: String) => timezoneMinute(ts, z))),
    scalaUdf("year_of_week", udf((d: java.sql.Date) => yearOfWeek(d))),
    scalaUdf("yow", udf((d: java.sql.Date) => yearOfWeek(d))),
    // multimap_from_entries — MultimapFromEntriesFunction.java:42: map of
    // first-appearance-ordered keys to entry-ordered value lists. Java
    // UDF API: struct inputs arrive as Row, which Scala UDF type
    // inference cannot express.
    scalaUdf("multimap_from_entries", udf(
      new org.apache.spark.sql.api.java.UDF1[
          scala.collection.Seq[org.apache.spark.sql.Row],
          java.util.LinkedHashMap[String, java.util.List[String]]] {
        override def call(entries: scala.collection.Seq[org.apache.spark.sql.Row]):
            java.util.LinkedHashMap[String, java.util.List[String]] = {
          if (entries == null) return null
          val m = new java.util.LinkedHashMap[String, java.util.List[String]]()
          entries.foreach { e =>
            m.computeIfAbsent(e.getString(0), _ => new java.util.ArrayList[String]())
              .add(e.getString(1))
          }
          m
        }
      },
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)))),
    scalaUdf("hmac_sha256", udf((k: Array[Byte], d: Array[Byte]) => hmacSha256(k, d))),
    scalaUdf("normalize_nfc", udf((s: String) => normalizeNfc(s))),
    scalaUdf("simhash64", udf((s: String) => simhash64(s))),
    scalaUdf("hamming_distance", udf((a: String, b: String) => hammingDistance(a, b))),
    scalaUdf("split_to_multimap", udf(
      (s: String, e: String, kv: String) => splitToMultimap(s, e, kv))),
    scalaUdf("to_big_endian_64", udf((x: Long) => toBigEndian64(x))),
    scalaUdf("from_big_endian_64", udf((b: Array[Byte]) => fromBigEndian64(b))),
    scalaUdf("to_big_endian_32", udf((x: Int) => toBigEndian32(x))),
    scalaUdf("from_big_endian_32", udf((b: Array[Byte]) => fromBigEndian32(b))),
    scalaUdf("parse_duration", udf((s: String) => parseDuration(s))),
    scalaUdf("to_milliseconds", udf((d: java.time.Duration) => durationToMillis(d))),
    scalaUdf("parse_presto_data_size", udf((s: String) => parseDataSize(s))),
    scalaUdf("format_datetime", udf((ts: java.sql.Timestamp, p: String) => formatDatetime(ts, p))),
    scalaUdf("parse_datetime", udf((s: String, p: String) => parseDatetime(s, p))),
    scalaUdf("is_json_scalar", udf((s: String) => isJsonScalar(s))),
    scalaUdf("json_extract_scalar", udf((s: String, p: String) => jsonExtractScalar(s, p))),
    scalaUdf("json_size", udf((s: String, p: String) => jsonSize(s, p))),
    scalaUdf("json_array_get", udf((s: String, i: Long) => jsonArrayGet(s, i))),
    scalaUdf("json_array_contains", udf((s: String, v: String) => jsonArrayContains(s, v))),
    scalaUdf("normal_cdf", udf((m: Double, sd: Double, v: Double) => normalCdf(m, sd, v))),
    scalaUdf("inverse_normal_cdf", udf((m: Double, sd: Double, p: Double) => inverseNormalCdf(m, sd, p))),
    scalaUdf("beta_cdf", udf((a: Double, b: Double, v: Double) => betaCdf(a, b, v))),
    scalaUdf("inverse_beta_cdf", udf((a: Double, b: Double, p: Double) => inverseBetaCdf(a, b, p))))
}

/** Native (codegen-friendly) Column compositions for ops the reference
  * exposes as functions but Spark expresses with higher-order functions.
  * These never leave WholeStageCodegen — preferred over UDFs at 100 TB.
  */
object Fns {

  /** Cosine similarity via the native codegen'd ArrayCosineSimilarity
    * expression (listed in FunctionRegistry.all) —
    * reference: operator/scalar/MathFunctions.java cosineSimilarity.
    */
  def cosineSim(a: Column, b: Column): Column =
    call_udf("cosine_similarity", a, b)

  /** Dot product of two numeric arrays. Elements are cast to double
    * BEFORE multiplying — float32 products would round differently from
    * any double-precision reference.
    */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0d), (acc, x) => acc + x)

  /** L2 norm (double accumulation). */
  def l2norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x.cast("double") * x.cast("double")))

  /** ngrams(arr, n): array of n-element sub-arrays —
    * reference: operator/scalar/ArrayNgramsFunction.java.
    * Guarded against Spark's descending sequence(1, 0): windows shorter
    * than n (arrays with < n elements) are filtered out.
    */
  def ngrams(arr: Column, n: Int): Column =
    filter(
      transform(
        sequence(lit(1), greatest(size(arr) - (n - 1), lit(1))),
        i => slice(arr, i, lit(n))),
      g => size(g) === n)

  /** Distinct character shingles of length n over a lowercased string —
    * the standard MinHash preprocessing step (Broder 1997).
    */
  def charShingles(text: Column, n: Int): Column = {
    val t = lower(text)
    array_distinct(transform(
      sequence(lit(1), greatest(length(t) - (n - 1), lit(1))),
      i => t.substr(i, lit(n))))
  }

  /** Distinct word tokens (whitespace split, lowercased, empties dropped). */
  def wordTokens(text: Column): Column =
    array_distinct(filter(split(lower(text), "\\s+"), t => length(t) > 0))

  /** MinHash signature (k values) over a string-array shingle set.
    * h_i(x) = xxhash64(i, x); signature[i] = min over shingles.
    * Fully native: transform + array_min, stays in codegen.
    * Reference: setdigest/SetDigestFunctions.java (minhash side).
    */
  def minhashSignature(shingles: Column, k: Int): Column =
    transform(
      sequence(lit(0), lit(k - 1)),
      i => array_min(transform(shingles, s => xxhash64(i, s))))

  /** Estimated Jaccard from two equal-length minhash signatures. */
  def minhashJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  // ---- char(n) semantics (presto-spi/.../type/Chars.java, CharType.java) ----
  //
  // The reference's char(n) is a fixed-length type: casting truncates to n
  // and pads with spaces, comparisons pad both sides to the wider length
  // (trailing spaces insignificant), and length() of a char(n) value is n.
  // Spark has no first-class char(n) outside table DDL (CAST(x AS CHAR(n))
  // is a plain string cast), so the value is modeled as its space-padded
  // rendering — exactly what the reference produces on cast-to-varchar
  // (Chars.padSpaces). All pure codegen'd string ops, no UDFs.
  //
  // Documented delta: padded comparison and rtrim-comparison disagree when
  // a value contains control characters below 0x20 ('a' vs 'a\t'); the
  // padded form used here matches the reference.

  /** CAST(s AS CHAR(n)): truncate to n chars, pad with spaces to n. */
  def charCast(s: Column, n: Int): Column = rpad(substring(s, 1, n), n, " ")

  private def charPadBoth(a: Column, b: Column)(cmp: (Column, Column) => Column): Column = {
    val w = greatest(length(a), length(b))
    cmp(rpad(a, w, lit(" ")), rpad(b, w, lit(" ")))
  }

  /** char(n) = char(m): pad both to max(n, m), then compare. */
  def charEq(a: Column, b: Column): Column = charPadBoth(a, b)(_ === _)

  /** char(n) < char(m) under padded comparison. */
  def charLt(a: Column, b: Column): Column = charPadBoth(a, b)(_ < _)
}
