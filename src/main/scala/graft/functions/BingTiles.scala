package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import FunctionRegistry.scalaUdf

/** Bing Maps tile system — the reference's BingTile plugin
  * (presto-geospatial/.../BingTileFunctions.java:86-347,
  * BingTile.java) re-expressed as codegen'd Column arithmetic.
  *
  * The tile math is the published Bing Maps tile-system spec
  * (Schwartz, "Bing Maps Tile System", MSDN): at zoom z the Web-Mercator
  * square is a 2^z x 2^z tile grid of 256-px tiles; a (lat, lng) point
  * maps to pixel coordinates via the Mercator projection and clips to
  * [0, mapSize-1] before the divide-by-256, exactly as the reference's
  * `axisToCoordinates` does.
  *
  * A tile is represented structurally as its (x, y, zoom) INT columns —
  * no opaque encoded bigint; Spark structs + columns are the idiomatic
  * carrier (the reference packs them into a BingTileType long only
  * because its engine needs a single stack value;
  * BingTileFunctions.java:88).
  *
  * Everything here is plain `org.apache.spark.sql.functions` arithmetic:
  * whole-stage-codegen friendly, no UDF boxing on the hot path. Bit
  * extraction uses floor(x / 2^k) % 2 (exact in double far beyond the
  * max zoom of 23), so the same expressions replay verbatim in the
  * DuckDB oracle.
  */
object BingTiles {

  /** BingTileFunctions.java:70 EARTH_RADIUS_KM. */
  val EarthRadiusKm = 6371.01
  /** BingTileFunctions.java:66-67 latitude clamp of the Mercator square. */
  val MaxLatitude = 85.05112878
  val MinLatitude = -85.05112878
  /** BingTile.java MAX_ZOOM_LEVEL. */
  val MaxZoom = 23

  /** Pixel map size at a zoom level: 256 * 2^z (mapSize()). Exact in
    * double for z <= 23 (2^31 < 2^53). */
  private def mapSize(zoom: Column): Column = pow(lit(2.0), zoom) * 256.0

  private def clip(v: Column, lo: Column, hi: Column): Column =
    least(greatest(v, lo), hi)

  /** Tile X of a longitude (longitudeToTileX): linear in lng. */
  def tileX(lng: Column, zoom: Column): Column = {
    val ms = mapSize(zoom)
    floor(clip((lng + 180.0) / 360.0 * ms, lit(0.0), ms - 1.0) / 256.0).cast("int")
  }

  /** Tile Y of a latitude (longitudeToTileY — sic, the reference's name):
    * Mercator y = 0.5 - ln((1+sin)/(1-sin)) / 4pi. The *pi/180 operation
    * order matches the reference (and the oracle) so the value entering
    * floor() is bit-identical across engines.
    */
  def tileY(lat: Column, zoom: Column): Column = {
    val sinLat = sin(lat * Math.PI / 180.0)
    val y = lit(0.5) - log((lit(1.0) + sinLat) / (lit(1.0) - sinLat)) / (4.0 * Math.PI)
    val ms = mapSize(zoom)
    floor(clip(y * ms, lit(0.0), ms - 1.0) / 256.0).cast("int")
  }

  /** bing_tile_at(lat, lng, zoom) -> struct(x, y, zoom)
    * (BingTileFunctions.java:154). */
  def tileAt(lat: Column, lng: Column, zoom: Column): Column =
    struct(tileX(lng, zoom).as("x"), tileY(lat, zoom).as("y"),
      zoom.cast("int").as("zoom"))

  /** Bit k of a small nonnegative int column, as a long — exact
    * floor/pow arithmetic (no shift-by-column in the Column API; this
    * form also replays 1:1 in the oracle SQL). */
  private def bitAt(v: Column, k: Column): Column =
    floor(v.cast("double") / pow(lit(2.0), k)).cast("long") % 2

  /** bing_tile_quadkey: digit i (MSB first) interleaves bit (z-i) of x
    * and y — BingTile.java toQuadKey. */
  def quadkey(x: Column, y: Column, zoom: Column): Column =
    // zoom 0 is the single world tile whose quadkey is the empty string;
    // sequence(0, 1, -1) would throw (illegal negative-step bounds), so
    // short-circuit it rather than building an empty descending range.
    when(zoom === 0, lit("")).otherwise(
      array_join(
        transform(sequence(zoom, lit(1), lit(-1)),
          i => (bitAt(x, i - 1) + bitAt(y, i - 1) * 2).cast("int").cast("string")),
        ""))

  /** bing_tile(quadkey) -> x: MSB-first digit fold, x bit = digit & 1
    * (BingTile.java fromQuadKey). */
  def quadkeyToX(qk: Column): Column =
    // The empty quadkey (zoom 0) is tile x=0; sequence(1, 0) descends
    // and folds nulls, so guard it out.
    when(length(qk) === 0, lit(0L)).otherwise(
      aggregate(sequence(lit(1), length(qk)), lit(0L),
        (acc, i) => acc * 2 + substr(qk, i, lit(1)).cast("long") % 2))

  /** bing_tile(quadkey) -> y: y bit = digit >> 1. */
  def quadkeyToY(qk: Column): Column =
    when(length(qk) === 0, lit(0L)).otherwise(
      aggregate(sequence(lit(1), length(qk)), lit(0L),
        (acc, i) => acc * 2 + floor(substr(qk, i, lit(1)).cast("double") / 2.0).cast("long")))

  /** bing_tile_zoom_level(quadkey-form tile). */
  def quadkeyZoom(qk: Column): Column = length(qk).cast("int")

  /** Longitude of a tile's upper-left corner (tileXYToLatitudeLongitude,
    * BingTileFunctions.java:581-589). Dyadic-rational in the tile grid,
    * so exact across engines. */
  def tileCornerLng(x: Column, zoom: Column): Column = {
    val ms = mapSize(zoom)
    (clip(x.cast("double") * 256.0, lit(0.0), ms) / ms - 0.5) * 360.0
  }

  /** Latitude of a tile's upper-left corner: inverse Mercator
    * 90 - 360*atan(exp(-y*2pi))/pi. atan/exp are libm-dependent in the
    * last ulp — queries must round this before oracle comparison. */
  def tileCornerLat(y: Column, zoom: Column): Column = {
    val ms = mapSize(zoom)
    val yf = lit(0.5) - clip(y.cast("double") * 256.0, lit(0.0), ms) / ms
    lit(90.0) - atan(exp(yf * (-2.0) * Math.PI)) * 360.0 / Math.PI
  }

  /** bing_tile_polygon as WKT of the tile envelope
    * (BingTileFunctions.java:337 tileToEnvelope): corners from the
    * upper-left of (x, y) and (x+1, y+1). */
  def tilePolygonWkt(x: Column, y: Column, zoom: Column): Column = {
    val xmin = tileCornerLng(x, zoom); val xmax = tileCornerLng(x + 1, zoom)
    val ymax = tileCornerLat(y, zoom); val ymin = tileCornerLat(y + 1, zoom)
    concat(lit("POLYGON (("),
      xmin, lit(" "), ymin, lit(", "), xmax, lit(" "), ymin, lit(", "),
      xmax, lit(" "), ymax, lit(", "), xmin, lit(" "), ymax, lit(", "),
      xmin, lit(" "), ymin, lit("))"))
  }

  /** bing_tiles_around(lat, lng, zoom) — the 3x3 neighborhood CLIPPED at
    * the grid edge (the reference drops out-of-range neighbors, it does
    * not wrap; BingTileFunctions.java:186-196). array<struct<x,y>>.
    */
  def tilesAround(lat: Column, lng: Column, zoom: Column): Column = {
    val tx = tileX(lng, zoom); val ty = tileY(lat, zoom)
    val maxIdx = (pow(lit(2.0), zoom) - 1.0).cast("int")
    filter(
      flatten(transform(sequence(lit(-1), lit(1)), dx =>
        transform(sequence(lit(-1), lit(1)), dy =>
          struct((tx + dx).as("x"), (ty + dy).as("y"))))),
      t => t.getField("x") >= 0 && t.getField("x") <= maxIdx &&
        t.getField("y") >= 0 && t.getField("y") <= maxIdx)
  }

  /** great_circle_distance(lat1, lng1, lat2, lng2) in km —
    * GeoFunctions.java:1202. The published spherical special case of
    * Vincenty's formula (atan2 form — numerically stable at antipodes,
    * unlike plain haversine):
    *   dSigma = atan2(sqrt((cos p2 sin dL)^2 + (cos p1 sin p2 - sin p1 cos p2 cos dL)^2),
    *                  sin p1 sin p2 + cos p1 cos p2 cos dL)
    * All-codegen trig; last-ulp libm differences mean oracle queries
    * round the output.
    */
  def greatCircleKm(lat1: Column, lng1: Column, lat2: Column, lng2: Column): Column = {
    val p1 = lat1 * Math.PI / 180.0
    val p2 = lat2 * Math.PI / 180.0
    val s1 = sin(p1); val c1 = cos(p1)
    val s2 = sin(p2); val c2 = cos(p2)
    val dL = lng1 * Math.PI / 180.0 - lng2 * Math.PI / 180.0
    val cdL = cos(dL)
    val t1 = c2 * sin(dL)
    val t2 = c1 * s2 - s1 * c2 * cdL
    val t3 = s1 * s2 + c1 * c2 * cdL
    atan2(sqrt(t1 * t1 + t2 * t2), t3) * EarthRadiusKm
  }

  /** SQL front-door wrappers (Presto names). Scalar UDFs mirroring the
    * Column combinators above — convenience surface for spark.sql
    * scripts; DataFrame pipelines should use the native combinators,
    * which stay inside whole-stage codegen.
    */
  def functions: Seq[FunctionRegistry.Fn] = {
    def tx(lng: Double, z: Int): Int = {
      val ms = 256.0 * math.pow(2.0, z)
      (math.floor(math.min(math.max((lng + 180.0) / 360.0 * ms, 0.0), ms - 1.0) / 256.0)).toInt
    }
    def ty(lat: Double, z: Int): Int = {
      val s = math.sin(lat * Math.PI / 180.0)
      val y = 0.5 - math.log((1.0 + s) / (1.0 - s)) / (4.0 * Math.PI)
      val ms = 256.0 * math.pow(2.0, z)
      (math.floor(math.min(math.max(y * ms, 0.0), ms - 1.0) / 256.0)).toInt
    }
    Seq(
      scalaUdf("bing_tile_x", udf((lng: Double, z: Int) => tx(lng, z))),
      scalaUdf("bing_tile_y", udf((lat: Double, z: Int) => ty(lat, z))),
      scalaUdf("bing_tile_quadkey", udf((x: Int, y: Int, z: Int) =>
        (1 to z).map(i => ((x >> (z - i)) & 1) + 2 * ((y >> (z - i)) & 1)).mkString)),
      scalaUdf("great_circle_distance", udf(
        (lat1: Double, lng1: Double, lat2: Double, lng2: Double) => {
          val p1 = lat1 * Math.PI / 180.0; val p2 = lat2 * Math.PI / 180.0
          val s1 = math.sin(p1); val c1 = math.cos(p1)
          val s2 = math.sin(p2); val c2 = math.cos(p2)
          val dL = lng1 * Math.PI / 180.0 - lng2 * Math.PI / 180.0
          val cdL = math.cos(dL)
          val t1 = c2 * math.sin(dL)
          val t2 = c1 * s2 - s1 * c2 * cdL
          val t3 = s1 * s2 + c1 * c2 * cdL
          math.atan2(math.sqrt(t1 * t1 + t2 * t2), t3) * EarthRadiusKm
        })))
  }
}
