package graft.functions

import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{functions => F, Encoders, Row}
import FunctionRegistry.{Fn, fn, scalaUdf}

/** Presto-name parity wave (round 8): every remaining SQL name from the
  * reference's `@ScalarFunction`/`@AggregationFunction` surface that the
  * session registry did not yet resolve (audited against the annotation
  * sweep of presto-main + plugins).
  *
  * Installation preference order follows the project stance: a Catalyst
  * alias onto a Spark built-in expression (codegen'd, zero overhead)
  * wherever semantics line up; a Scala/Java UDF only where Spark has no
  * native equivalent (URL port extraction, Unicode normalization forms,
  * MySQL date_parse, Bing tile structs, WKT folds).
  *
  * Reference files are cited per registration below.
  */
object PrestoNames {

  // ---- scalar helpers (executor-side) ----

  /** All coordinates of a WKT geometry, in order (any kind — the numeric
    * tokens between parens). Enough for envelopes and linestring folds.
    */
  private def wktCoords(wkt: String): Array[(Double, Double)] = {
    val m = java.util.regex.Pattern
      .compile("(-?\\d+(?:\\.\\d+)?(?:[eE]-?\\d+)?)\\s+(-?\\d+(?:\\.\\d+)?(?:[eE]-?\\d+)?)")
      .matcher(wkt)
    val buf = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    while (m.find()) buf += ((m.group(1).toDouble, m.group(2).toDouble))
    buf.toArray
  }

  /** line_locate_point (GeoFunctions.java lineLocatePoint) — scalar twin
    * of WktGeometry.lineLocatePoint: fraction of total length at the
    * closest clamped projection; first nearest segment wins ties.
    */
  def lineLocatePointScalar(lineWkt: String, pointWkt: String): java.lang.Double = {
    if (lineWkt == null || pointWkt == null) return null
    val pts = wktCoords(lineWkt)
    val p = wktCoords(pointWkt).headOption.getOrElse(return null)
    if (pts.length < 2) return null
    val total = pts.sliding(2).map { case Array(a, b) =>
      math.hypot(b._1 - a._1, b._2 - a._2) }.sum
    if (total == 0) return 0.0
    var best = Double.MaxValue; var bestFrac = 0.0; var cum = 0.0
    pts.sliding(2).foreach { case Array(a, b) =>
      val dx = b._1 - a._1; val dy = b._2 - a._2
      val len2 = dx * dx + dy * dy
      val t =
        if (len2 == 0) 0.0
        else math.min(1.0, math.max(0.0,
          ((p._1 - a._1) * dx + (p._2 - a._2) * dy) / len2))
      val qx = a._1 + t * dx; val qy = a._2 + t * dy
      val d = math.hypot(p._1 - qx, p._2 - qy)
      if (d < best) { best = d; bestFrac = (cum + t * math.sqrt(len2)) / total }
      cum += math.sqrt(len2)
    }
    bestFrac
  }

  // ---- Bing tiles as struct<x:int, y:int, zoom:int> ----
  // BingTileFunctions.java:86-347. The struct IS the tile value (see
  // BingTiles.scala header for why no packed-bigint carrier).

  case class BingTile(x: Int, y: Int, zoom: Int)

  private def tileXOf(lng: Double, z: Int): Int = {
    val ms = 256.0 * math.pow(2.0, z)
    math.floor(math.min(math.max((lng + 180.0) / 360.0 * ms, 0.0), ms - 1.0) / 256.0).toInt
  }
  private def tileYOf(lat: Double, z: Int): Int = {
    val s = math.sin(lat * Math.PI / 180.0)
    val y = 0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * Math.PI)
    val ms = 256.0 * math.pow(2.0, z)
    math.floor(math.min(math.max(y * ms, 0.0), ms - 1.0) / 256.0).toInt
  }
  private def checkTile(x: Int, y: Int, z: Int): Unit = {
    require(z >= 0 && z <= BingTiles.MaxZoom, s"Zoom level must be <= 23: $z")
    val max = 1 << z
    require(x >= 0 && x < max && y >= 0 && y < max,
      s"tile ($x, $y) out of range at zoom $z")
  }
  private def quadkeyOf(t: BingTile): String =
    (1 to t.zoom).map(i => ((t.x >> (t.zoom - i)) & 1) + 2 * ((t.y >> (t.zoom - i)) & 1)).mkString
  private def tileFromQuadkey(qk: String): BingTile = {
    require(qk.length <= BingTiles.MaxZoom, s"QuadKey must be <= 23 digits: $qk")
    var x = 0; var y = 0
    qk.foreach { c =>
      val d = c - '0'
      require(d >= 0 && d <= 3, s"Invalid QuadKey digit: $c")
      x = x * 2 + (d & 1); y = y * 2 + (d >> 1)
    }
    BingTile(x, y, qk.length)
  }
  /** Upper-left corner of tile (x, y) at zoom — tileXYToLatitudeLongitude. */
  private def cornerLngOf(x: Int, z: Int): Double = {
    val ms = 256.0 * math.pow(2.0, z)
    (math.min(math.max(x * 256.0, 0.0), ms) / ms - 0.5) * 360.0
  }
  private def cornerLatOf(y: Int, z: Int): Double = {
    val ms = 256.0 * math.pow(2.0, z)
    val yf = 0.5 - math.min(math.max(y * 256.0, 0.0), ms) / ms
    90.0 - math.atan(math.exp(yf * (-2.0) * Math.PI)) * 360.0 / Math.PI
  }
  def tilePolygonWktOf(t: BingTile): String = {
    val xmin = cornerLngOf(t.x, t.zoom); val xmax = cornerLngOf(t.x + 1, t.zoom)
    val ymax = cornerLatOf(t.y, t.zoom); val ymin = cornerLatOf(t.y + 1, t.zoom)
    s"POLYGON (($xmin $ymin, $xmax $ymin, $xmax $ymax, $xmin $ymax, $xmin $ymin))"
  }
  /** Tiles covering a geometry's envelope at `zoom` —
    * BingTileFunctions.java geometryToBingTiles (envelope cover; the
    * reference also covers by envelope, then optionally filters by disjoint
    * for large tile counts). Tile count is guarded like the reference's
    * 1M-tile check.
    */
  def geometryToBingTiles(wkt: String, zoom: Int): Seq[BingTile] = {
    if (wkt == null) return null
    val pts = wktCoords(wkt)
    require(pts.nonEmpty, s"Empty geometry: $wkt")
    val minLng = pts.map(_._1).min; val maxLng = pts.map(_._1).max
    val minLat = pts.map(_._2).min; val maxLat = pts.map(_._2).max
    val x0 = tileXOf(minLng, zoom); val x1 = tileXOf(maxLng, zoom)
    val y0 = tileYOf(maxLat, zoom); val y1 = tileYOf(minLat, zoom)
    val n = (x1 - x0 + 1).toLong * (y1 - y0 + 1).toLong
    require(n <= 1000000L, s"geometry covers too many tiles at zoom $zoom: $n")
    for (y <- y0 to y1; x <- x0 to x1) yield BingTile(x, y, zoom)
  }

  // ---- JSON canonicalization (json type operators) ----
  // JsonOperators.java / JsonFunctions.java: json_parse validates text
  // and yields a json value; json_format renders a json value as text.
  // Our json carrier is its canonical text, so parse = validate +
  // canonical re-serialization, format = the canonical text itself.

  private lazy val jsonMapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.enable(com.fasterxml.jackson.core.JsonParser.Feature.ALLOW_UNQUOTED_CONTROL_CHARS)
    m
  }
  def jsonParse(s: String): String = {
    if (s == null) return null
    val node = jsonMapper.readTree(s) // throws on malformed — Presto errors too
    jsonMapper.writeValueAsString(node)
  }

  private def hmac(algo: String, key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    // scalar null-in-null-out (VarbinaryFunctions.java convention): a
    // NULL key or data yields NULL, not a SecretKeySpec/Mac NPE
    if (key == null || data == null) return null
    val mac = javax.crypto.Mac.getInstance(algo)
    mac.init(new javax.crypto.spec.SecretKeySpec(key, algo))
    mac.doFinal(data)
  }

  /** geometric_mean(x) — GeometricMeanAggregations.java: exp(avg(ln x)).
    * Log-sum buffer: O(1) state, partial/final merge exact.
    */
  private class GeometricMean extends Aggregator[java.lang.Double, (Double, Long), java.lang.Double] {
    def zero: (Double, Long) = (0.0, 0L)
    def reduce(b: (Double, Long), a: java.lang.Double): (Double, Long) =
      if (a == null) b else (b._1 + math.log(a.doubleValue()), b._2 + 1)
    def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
      (a._1 + b._1, a._2 + b._2)
    def finish(r: (Double, Long)): java.lang.Double =
      if (r._2 == 0) null else java.lang.Double.valueOf(math.exp(r._1 / r._2))
    def bufferEncoder: org.apache.spark.sql.Encoder[(Double, Long)] =
      Encoders.product[(Double, Long)]
    def outputEncoder: org.apache.spark.sql.Encoder[java.lang.Double] =
      Encoders.DOUBLE
  }

  /** geometry_union_agg(Geometry) — GeometryUnionAgg.java: incremental
    * pairwise union; buffer is ONE geometry (WKT), so partial/final
    * state is bounded by result complexity, never input count.
    */
  case class GeometryUnionAggExpr(
      child: Expression,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate[Array[String]]
    with org.apache.spark.sql.catalyst.trees.UnaryLike[Expression] {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types.{DataType, StringType}

    // one-slot array as a mutable box (null = empty so far)
    override def createAggregationBuffer(): Array[String] = Array[String](null)
    override def update(buf: Array[String], input: InternalRow): Array[String] = {
      val v = child.eval(input)
      if (v != null) {
        val w = v.toString
        buf(0) = if (buf(0) == null) w else GeometryConstructors.stUnion(buf(0), w)
      }
      buf
    }
    override def merge(buf: Array[String], other: Array[String]): Array[String] = {
      if (other(0) != null)
        buf(0) = if (buf(0) == null) other(0)
          else GeometryConstructors.stUnion(buf(0), other(0))
      buf
    }
    override def eval(buf: Array[String]): Any =
      if (buf(0) == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(buf(0))
    override def serialize(buf: Array[String]): Array[Byte] =
      if (buf(0) == null) Array.emptyByteArray
      else buf(0).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    override def deserialize(b: Array[Byte]): Array[String] =
      Array(if (b.isEmpty) null else new String(b, java.nio.charset.StandardCharsets.UTF_8))
    override def dataType: DataType = StringType
    override def nullable: Boolean = true
    override def prettyName: String = "geometry_union_agg"
    override protected def withNewChildInternal(newChild: Expression): GeometryUnionAggExpr =
      copy(child = newChild)
    override def withNewMutableAggBufferOffset(offset: Int): GeometryUnionAggExpr =
      copy(mutableAggBufferOffset = offset)
    override def withNewInputAggBufferOffset(offset: Int): GeometryUnionAggExpr =
      copy(inputAggBufferOffset = offset)
  }

  /** The Presto names, listed after every other graft function.
    * `builderOf` gives the builder of a name listed before them (or of a
    * Spark built-in): an alias gives a Presto name to a graft function
    * listed under an internal name (e.g. value_at_quantile ->
    * qdigest_value_at), and an arity dispatch reuses an earlier overload.
    */
  def functions(builderOf: String => FunctionBuilder): Seq[Fn] = {
    import org.apache.spark.sql.types._

    val toLong = (e: Expression) => Cast(e, LongType)
    // ---- URL extraction (UrlFunctions.java) onto Hive's parse_url —
    // same part vocabulary except PORT (UDF below) and REF-vs-FRAGMENT.
    def urlPart(part: String): FunctionBuilder =
      a => ParseUrl(Seq(a.head, Literal(part)))
    def aliasTo(name: String, target: String): Fn = fn(name)(builderOf(target))

    // ---- normalize(s[, form]) — StringFunctions.java normalize. The
    // 1-arg default is NFC; the form is a keyword in Presto's grammar,
    // arriving here as a string literal (PrestoSql quotes it).
    val normalizeForm = scalaUdf("normalize_form", F.udf((s: String, form: String) =>
      if (s == null) null
      else java.text.Normalizer.normalize(s,
        java.text.Normalizer.Form.valueOf(form.toUpperCase(java.util.Locale.ROOT)))))
    val nfc1 = builderOf("normalize_nfc")
    // ---- Bing tiles under the reference signatures (struct carrier).
    // bing_tile(x, y, zoom) | bing_tile(quadkey) — arity dispatch.
    val bingTileXyz = scalaUdf("bing_tile_xyz", F.udf((x: Int, y: Int, z: Int) => {
      checkTile(x, y, z); BingTile(x, y, z)
    }))
    val bingTileQk = scalaUdf("bing_tile_qk", F.udf((qk: String) =>
      if (qk == null) null else tileFromQuadkey(qk)))
    // bing_tile_quadkey: reference signature takes a TILE; the (x,y,z)
    // 3-arg spelling predates this wave — dispatch on arity.
    val qk3 = builderOf("bing_tile_quadkey")
    val bingTileQuadkeyT = scalaUdf("bing_tile_quadkey_t", F.udf(
      new org.apache.spark.sql.api.java.UDF1[Row, String] {
        override def call(t: Row): String =
          if (t == null) null
          else quadkeyOf(BingTile(t.getInt(0), t.getInt(1), t.getInt(2)))
      },
      StringType))

    Seq(
      // ---- bitwise functions (MathFunctions.java bitwiseAnd/Or/Xor/Not;
      // all bigint in the reference) — native Catalyst, codegen'd.
      fn("bitwise_and") { a => BitwiseAnd(toLong(a(0)), toLong(a(1))) },
      fn("bitwise_or") { a => BitwiseOr(toLong(a(0)), toLong(a(1))) },
      fn("bitwise_xor") { a => BitwiseXor(toLong(a(0)), toLong(a(1))) },
      fn("bitwise_not") { a => BitwiseNot(toLong(a(0))) },

      // ---- varbinary codecs (VarbinaryFunctions.java) — native aliases.
      fn("to_base64") { a => Base64(a.head) },
      fn("from_base64") { a => UnBase64(a.head) },
      fn("to_utf8") { a => Encode(a.head, Literal("UTF-8")) },
      fn("from_utf8") { a => StringDecode(a.head, Literal("UTF-8")) },
      // sha256/sha512 return VARBINARY in the reference; Spark's sha2
      // renders hex, so unhex back to bytes — both steps codegen'd.
      fn("sha256") { a => Unhex(Sha2(a.head, Literal(256))) },
      fn("sha512") { a => Unhex(Sha2(a.head, Literal(512))) },

      // ---- array/date aliases from the docs sweep (array.rst,
      // datetime.rst, regexp.rst): regexp_split preserves trailing empties
      // in both engines (split limit -1); zip is Spark's arrays_zip
      // (anonymous row fields arrive named by position); day_of_month is
      // the Presto spelling of dayofmonth.
      fn("regexp_split") { a => StringSplit(a(0), a(1), Literal(-1)) },
      // ROW(a, b, ...) constructor (RowType / SqlBase.g4 #rowConstructor)
      fn("row") { a => CreateStruct(a) },
      fn("zip") { a => ArraysZip(a) },
      fn("day_of_month") { a => DayOfMonth(a.head) },

      // ---- string distance (StringFunctions.java levenshteinDistance).
      fn("levenshtein_distance") { a =>
        Cast(Levenshtein(a(0), a(1)), LongType)
      },

      fn("url_extract_protocol")(urlPart("PROTOCOL")),
      fn("url_extract_host")(urlPart("HOST")),
      fn("url_extract_path")(urlPart("PATH")),
      fn("url_extract_query")(urlPart("QUERY")),
      fn("url_extract_fragment")(urlPart("REF")),
      fn("url_extract_parameter") { a =>
        ParseUrl(Seq(a(0), Literal("QUERY"), a(1)))
      },
      scalaUdf("url_extract_port", F.udf((s: String) => {
        if (s == null) null
        else {
          val p = try new java.net.URI(s).getPort catch { case _: Exception => -1 }
          if (p < 0) null else java.lang.Long.valueOf(p.toLong)
        }
      })),

      // ---- combine_hash (CombineHashFunction.java: 31 * h1 + h2).
      fn("combine_hash") { a =>
        Add(Multiply(Literal(31L), toLong(a(0))), toLong(a(1)))
      },

      // ---- localtime (DateTimeFunctions.java) — Spark has no TIME type
      // (SURVEY §1.2); render the session-zone time-of-day as varchar
      // 'HH:mm:ss.SSS', the reference's cast-to-varchar form. Documented
      // delta: value type is varchar, not time.
      fn("localtime") { _ =>
        new DateFormatClass(CurrentTimestamp(), Literal("HH:mm:ss.SSS"))
      },

      // ---- MySQL-pattern date_parse under its own name (the _mysql
      // suffix predates this wave; date_format keeps the suffix because
      // Spark's native date_format uses Java patterns and must win).
      aliasTo("date_parse", "date_parse_mysql"),

      // ---- qdigest scalar under the reference name
      // (QuantileDigestFunctions.java valueAtQuantile).
      aliasTo("value_at_quantile", "qdigest_value_at"),

      // ---- merge(sketch) — the reference overloads merge() on the sketch
      // TYPE (HLL / qdigest / setdigest). All three are binary-backed here
      // and indistinguishable at plan time, so the unqualified name merges
      // HLLs (the overwhelmingly common call); qdigest_merge /
      // merge_set_digest remain the typed spellings. Documented delta.
      aliasTo("merge", "merge_hll"),

      normalizeForm,
      fn("normalize") { a =>
        if (a.size == 1) nfc1(a) else normalizeForm._2(a)
      },

      // ---- ngrams(array, n) — ArrayNgramsFunction.java. The Column
      // combinator (Fns.ngrams) is the scale path; this SQL name covers
      // dialect scripts. String arrays (the only fixture element type).
      scalaUdf("ngrams", F.udf((arr: scala.collection.Seq[String], n: Int) =>
        if (arr == null) null
        else if (arr.length < n) Seq.empty[scala.collection.Seq[String]]
        else arr.sliding(n).toSeq)),

      // ---- json type operators.
      scalaUdf("json_parse", F.udf((s: String) => jsonParse(s))),
      // json_format renders a json value as text; our json values ARE
      // canonical text (see jsonParse), so this validates + echoes.
      scalaUdf("json_format", F.udf((s: String) => jsonParse(s))),

      // ---- HMAC family (VarbinaryFunctions.java hmacMd5/Sha1/Sha256/Sha512;
      // hmac_sha256 predates this wave in ScalarFunctions).
      scalaUdf("hmac_md5", F.udf((k: Array[Byte], d: Array[Byte]) => hmac("HmacMD5", k, d))),
      scalaUdf("hmac_sha1", F.udf((k: Array[Byte], d: Array[Byte]) => hmac("HmacSHA1", k, d))),
      scalaUdf("hmac_sha512", F.udf((k: Array[Byte], d: Array[Byte]) => hmac("HmacSHA512", k, d))),

      // ---- geometric_mean under its SQL name (the oracle query composes
      // exp(avg(ln)) inline; this registers the aggregate for dialect SQL).
      scalaUdf("geometric_mean", F.udaf(new GeometricMean(), Encoders.DOUBLE)),

      // ---- line_locate_point(line, point) scalar (GeoFunctions.java).
      scalaUdf("line_locate_point", F.udf(
        (line: String, pt: String) => lineLocatePointScalar(line, pt))),

      // ---- geometry_union(array<Geometry>) (GeoFunctions.java:619
      // geometryUnion): left fold of pairwise union.
      scalaUdf("geometry_union", F.udf((arr: scala.collection.Seq[String]) =>
        if (arr == null) null
        else arr.filter(_ != null).reduceOption(GeometryConstructors.stUnion).orNull)),

      fn("geometry_union_agg") { a => GeometryUnionAggExpr(a.head) },

      bingTileXyz,
      bingTileQk,
      fn("bing_tile") { a => if (a.size == 3) bingTileXyz._2(a) else bingTileQk._2(a) },
      scalaUdf("bing_tile_at", F.udf((lat: Double, lng: Double, z: Int) => {
        require(z >= 0 && z <= BingTiles.MaxZoom, s"Zoom level must be <= 23: $z")
        require(lat >= BingTiles.MinLatitude && lat <= BingTiles.MaxLatitude,
          s"Latitude must be between -85.05112878 and 85.05112878: $lat")
        BingTile(tileXOf(lng, z), tileYOf(lat, z), z)
      })),
      scalaUdf("bing_tiles_around", F.udf((lat: Double, lng: Double, z: Int) => {
        val tx = tileXOf(lng, z); val ty = tileYOf(lat, z)
        val max = (1 << z) - 1
        for {
          dy <- -1 to 1; dx <- -1 to 1
          x = tx + dx; y = ty + dy
          if x >= 0 && x <= max && y >= 0 && y <= max
        } yield BingTile(x, y, z)
      })),
      // struct-input accessors need the Java UDF API (Row input/output).
      scalaUdf("bing_tile_coordinates", F.udf(
        new org.apache.spark.sql.api.java.UDF1[Row, Row] {
          override def call(t: Row): Row =
            if (t == null) null else Row(t.getInt(0), t.getInt(1))
        },
        StructType(Seq(StructField("x", IntegerType), StructField("y", IntegerType))))),
      scalaUdf("bing_tile_zoom_level", F.udf(
        new org.apache.spark.sql.api.java.UDF1[Row, java.lang.Integer] {
          override def call(t: Row): java.lang.Integer =
            if (t == null) null else java.lang.Integer.valueOf(t.getInt(2))
        },
        IntegerType)),
      scalaUdf("bing_tile_polygon", F.udf(
        new org.apache.spark.sql.api.java.UDF1[Row, String] {
          override def call(t: Row): String =
            if (t == null) null
            else tilePolygonWktOf(BingTile(t.getInt(0), t.getInt(1), t.getInt(2)))
        },
        StringType)),
      bingTileQuadkeyT,
      fn("bing_tile_quadkey") { a => if (a.size == 3) qk3(a) else bingTileQuadkeyT._2(a) },
      scalaUdf("geometry_to_bing_tiles", F.udf(
        (wkt: String, zoom: Int) => geometryToBingTiles(wkt, zoom))))
  }
}
