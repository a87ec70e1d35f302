package graft.functions

import org.apache.spark.sql.{functions => F}
import FunctionRegistry.scalaUdf

/** Zone-carrying TIMESTAMP WITH TIME ZONE (reference:
  * presto-spi/.../DateTimeEncoding.java:26-62 — value is a BIGINT
  * packing `(millisUtc << 12) | zoneKey`, 4096 zone keys;
  * TimeZoneKey.java:41 key 0 = UTC, offset zones ±14h, named region
  * zones from a fixed index).
  *
  * Spark's TimestampType is instant-only (session-zone rendering), so a
  * faithful tstz needs the reference's packed-BIGINT carrier surfaced
  * through functions — exactly how the reference's engine treats the
  * type (a long; all zone logic lives in the functions):
  *
  *  - with_timezone(ts, zone)     wall-clock ts interpreted IN zone -> packed
  *  - at_timezone(packed, zone)   same instant, new zone           -> packed
  *  - timezone_hour/_minute(packed)  offset of the carried zone AT that
  *    instant (DST-aware via java.time rules)
  *  - tz_millis/tz_zone/tz_format(packed)  unpack + Presto rendering
  *  - current_timezone()          session zone
  *
  * Zone keys: 0 = UTC (reference TimeZoneKey.java:41); fixed-offset
  * zones get key 1024 + offsetMinutes (±840 fits the 12-bit mask);
  * named region zones get keys 2048.. from a PERSISTED zone-index file
  * (the reference's TimeZoneKey approach): first use writes the sorted
  * tzdb list, later JVMs read it back, and new zones append without
  * moving existing keys — packed values survive JVM/tzdb changes.
  *
  * Scale: pure per-row long arithmetic + java.time offset lookup;
  * map-side, shuffle-free, no driver state.
  */
object TimestampTzFunctions {

  private val MillisShift = 12
  private val ZoneMask = 0xFFFL
  private val OffsetBase = 1024
  private val NamedBase = 2048

  // ---- persisted named-zone index (TimeZoneKey.java pins a zone-index
  // file for exactly this reason: a packed value's 12-bit zone key must
  // mean the same zone on every node and across tzdb updates). First
  // use WRITES the sorted JVM tzdb list to a versioned index file;
  // every later JVM READS the file, so file order — not the local
  // tzdb — defines the keys. Zones new to a JVM are APPENDED (existing
  // keys never move) and the file atomically rewritten. Path:
  // -Dgraft.tz.index / $GRAFT_TZ_INDEX, else <user.dir>/tmp/zone-index.v1.
  // The default is a per-JVM convenience for local runs ONLY: a real
  // deployment MUST set graft.tz.index/GRAFT_TZ_INDEX to one shared
  // path cluster-wide (the way it shares its catalogs) — driver and
  // executors resolving different files would re-introduce exactly the
  // key divergence this index exists to prevent. Concurrent first-use
  // appends from multiple JVMs are serialized by a FileLock on a
  // sibling .lock file (see withFileLock).

  private val IndexHeader = "graft-zone-index v1"
  private val indexLock = new Object
  @volatile private var zonesArr: Array[String] = null
  @volatile private var zoneMap: Map[String, Int] = null

  private def indexPath: java.nio.file.Path =
    java.nio.file.Paths.get(
      sys.props.get("graft.tz.index")
        .orElse(sys.env.get("GRAFT_TZ_INDEX"))
        .getOrElse(sys.props("user.dir") + "/tmp/zone-index.v1"))

  /** Drop the in-memory index so the next use re-reads the file (spec
    * hook for simulating a fresh JVM / session). */
  private[graft] def reloadZoneIndex(): Unit = indexLock.synchronized {
    zonesArr = null
    zoneMap = null
  }

  private def writeIndex(p: java.nio.file.Path, zones: Seq[String]): Unit = {
    import java.nio.file.{Files, StandardCopyOption}
    Option(p.getParent).foreach(Files.createDirectories(_))
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp" + System.nanoTime())
    Files.write(tmp, (IndexHeader +: zones).mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING) }
  }

  /** Runs `body` while holding an exclusive cross-JVM lock on a sibling
    * `.lock` file, so two JVMs doing concurrent first-use read-merge-
    * rewrites cannot lose each other's appends (the in-JVM `indexLock`
    * only serializes threads of ONE process).
    */
  private def withFileLock[A](p: java.nio.file.Path)(body: => A): A = {
    import java.nio.file.{Files, StandardOpenOption}
    Option(p.getParent).foreach(Files.createDirectories(_))
    val ch = java.nio.channels.FileChannel.open(
      p.resolveSibling(p.getFileName.toString + ".lock"),
      StandardOpenOption.CREATE, StandardOpenOption.WRITE)
    try { val l = ch.lock(); try body finally l.release() }
    finally ch.close()
  }

  private def ensureLoaded(): Unit = if (zonesArr == null) indexLock.synchronized {
    if (zonesArr == null) {
      import scala.jdk.CollectionConverters._
      import java.nio.file.Files
      val jvmZones = java.time.ZoneId.getAvailableZoneIds.asScala.toArray.sorted
      val p = indexPath
      // the whole read-merge-rewrite is one critical section: re-read
      // under the lock so a concurrent JVM's appends are merged, not
      // clobbered
      val zones: Array[String] = withFileLock(p) {
        if (Files.exists(p)) {
          val lines = new String(Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).split("\n", -1).toSeq
          require(lines.headOption.contains(IndexHeader),
            s"unrecognized zone index header in $p: ${lines.headOption.getOrElse("")}")
          val fileZones = lines.tail.filter(_.nonEmpty).toArray
          val known = fileZones.toSet
          val appended = jvmZones.filterNot(known)
          if (appended.isEmpty) fileZones
          else {
            val merged = fileZones ++ appended
            writeIndex(p, merged.toSeq)
            merged
          }
        } else {
          writeIndex(p, jvmZones.toSeq)
          jvmZones
        }
      }
      require(zones.length <= 4096 - NamedBase,
        s"zone index exceeds the 12-bit key space: ${zones.length}")
      zoneMap = zones.zipWithIndex.map { case (z, i) => z -> (NamedBase + i) }.toMap
      zonesArr = zones
    }
  }

  private def namedZones: Array[String] = { ensureLoaded(); zonesArr }
  private def namedToKey: Map[String, Int] = { ensureLoaded(); zoneMap }

  def zoneKey(zoneId: String): Int = zoneId match {
    case "UTC" | "Z" | "+00:00" => 0
    case z if z.startsWith("+") || z.startsWith("-") =>
      val off = java.time.ZoneOffset.of(z)
      val minutes = off.getTotalSeconds / 60
      require(minutes % 1 == 0 && math.abs(minutes) <= 14 * 60,
        s"offset out of range: $z")
      OffsetBase + minutes
    case z =>
      namedToKey.getOrElse(z,
        throw new IllegalArgumentException(s"unknown time zone: $z"))
  }

  def zoneId(key: Int): String = key match {
    case 0 => "UTC"
    case k if k >= NamedBase =>
      val i = k - NamedBase
      require(i < namedZones.length, s"unknown zone key: $k")
      namedZones(i)
    case k if k >= OffsetBase - 14 * 60 && k <= OffsetBase + 14 * 60 =>
      val minutes = k - OffsetBase
      val sign = if (minutes < 0) "-" else "+"
      f"$sign${math.abs(minutes) / 60}%02d:${math.abs(minutes) % 60}%02d"
    case k => throw new IllegalArgumentException(s"unknown zone key: $k")
  }

  def pack(millisUtc: Long, zone: String): Long =
    (millisUtc << MillisShift) | (zoneKey(zone) & ZoneMask)

  def unpackMillis(packed: Long): Long = packed >> MillisShift
  def unpackZone(packed: Long): String = zoneId((packed & ZoneMask).toInt)

  private def javaZone(packed: Long): java.time.ZoneId = {
    val z = unpackZone(packed)
    if (z.startsWith("+") || z.startsWith("-")) java.time.ZoneOffset.of(z)
    else java.time.ZoneId.of(z)
  }

  /** Offset seconds of the carried zone at the carried instant
    * (DST-aware). */
  def offsetSeconds(packed: Long): Int =
    javaZone(packed).getRules
      .getOffset(java.time.Instant.ofEpochMilli(unpackMillis(packed)))
      .getTotalSeconds

  /** with_timezone: wall-clock micros-since-epoch (as read from a Spark
    * TimestampType under a UTC session) interpreted in `zone`. */
  def withTimezone(wallMicrosUtc: Long, zone: String): Long = {
    val local = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(wallMicrosUtc, 1000000L),
      (Math.floorMod(wallMicrosUtc, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)
    val zid = if (zone.startsWith("+") || zone.startsWith("-"))
      java.time.ZoneOffset.of(zone) else java.time.ZoneId.of(zone)
    pack(local.atZone(zid).toInstant.toEpochMilli, zone)
  }

  /** at_timezone: same instant, re-tagged zone. */
  def atTimezone(packed: Long, zone: String): Long =
    pack(unpackMillis(packed), zone)

  /** Presto rendering: `yyyy-MM-dd HH:mm:ss.SSS <zone>`. */
  def format(packed: Long): String = {
    val inst = java.time.Instant.ofEpochMilli(unpackMillis(packed))
    val zdt = inst.atZone(javaZone(packed))
    val f = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
    s"${f.format(zdt)} ${unpackZone(packed)}"
  }

  /** Spark's UDF registry has no overloading, and the Presto names
    * at_timezone/timezone_hour/timezone_minute are already taken by the
    * timestamp-typed convenience forms (func_datetime3). The
    * packed-BIGINT variants therefore carry a tz_ prefix — same
    * semantics, disambiguated by name instead of argument type
    * (documented delta). */
  def functions: Seq[FunctionRegistry.Fn] = Seq(
    scalaUdf("with_timezone", F.udf((ts: java.sql.Timestamp, zone: String) =>
      if (ts == null || zone == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(withTimezone(
        ts.getTime * 1000L + (ts.getNanos / 1000) % 1000, zone)))),
    scalaUdf("tz_at_timezone", F.udf((packed: java.lang.Long, zone: String) =>
      if (packed == null || zone == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(atTimezone(packed, zone)))),
    scalaUdf("tz_timezone_hour", F.udf((packed: java.lang.Long) =>
      if (packed == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(offsetSeconds(packed) / 3600L))),
    scalaUdf("tz_timezone_minute", F.udf((packed: java.lang.Long) =>
      if (packed == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf((offsetSeconds(packed) / 60L) % 60L))),
    scalaUdf("tz_millis", F.udf((packed: java.lang.Long) =>
      if (packed == null) null.asInstanceOf[java.lang.Long]
      else java.lang.Long.valueOf(unpackMillis(packed)))),
    scalaUdf("tz_zone", F.udf((packed: java.lang.Long) =>
      if (packed == null) null else unpackZone(packed))),
    scalaUdf("tz_format", F.udf((packed: java.lang.Long) =>
      if (packed == null) null else format(packed))))
}
