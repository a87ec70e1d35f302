package graft.queries

import org.apache.spark.sql.functions._
import graft.functions.BingTiles

/** Geospatial tile + great-circle surface — the reference's BingTile
  * plugin and spherical distance (BingTileFunctions.java, GeoFunctions
  * .java:1202), oracle-checked end to end.
  *
  * Oracle notes: every expression that ends in an integer (tile x/y,
  * quadkey digits, counts) replays the exact arithmetic in DuckDB —
  * floor/pow bit extraction is exact in double, and last-ulp libm
  * differences inside sin/ln cannot move a floor() except exactly on a
  * tile boundary (measure zero for the fractional fixture coords).
  * Trig-valued DOUBLE outputs (inverse-Mercator latitude, great-circle
  * km) are rounded (6 dp / 3 dp) on both sides: atan/exp/atan2 are
  * libm-dependent in the last ulp, and the driver compares floats at
  * full precision.
  */
object GeoQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    // Bing tile family: bing_tile_at (x/y/zoom), quadkey round-trip,
    // bing_tiles_around edge-clipped count, tile corner coordinates
    // (bing_tile_polygon's envelope corners). Zoom varies 5..15 per row.
    Q("func_bing_tile",
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7919 % 16000) / 100.0 - 80.0 AS lat,
        |    (c_custkey * 104729 % 35000) / 100.0 - 175.0 AS lng,
        |    CAST(5 + c_custkey % 11 AS INT) AS z
        |  FROM customer),
        |sz AS (SELECT *, 256.0 * power(2.0, z) AS ms FROM pts),
        |txy AS (
        |  SELECT *,
        |    CAST(floor(least(greatest((lng + 180.0) / 360.0 * ms, 0.0), ms - 1.0) / 256.0) AS INT) AS tx,
        |    CAST(floor(least(greatest(
        |      (0.5 - ln((1.0 + sin(lat * pi() / 180.0)) / (1.0 - sin(lat * pi() / 180.0))) / (4.0 * pi())) * ms,
        |      0.0), ms - 1.0) / 256.0) AS INT) AS ty
        |  FROM sz),
        |qk AS (
        |  SELECT *,
        |    (SELECT string_agg(CAST(CAST(
        |         CAST(floor(tx / power(2.0, z - i)) AS BIGINT) % 2
        |         + 2 * (CAST(floor(ty / power(2.0, z - i)) AS BIGINT) % 2) AS INT) AS VARCHAR),
        |       '' ORDER BY i)
        |     FROM generate_series(1, 15) AS g(i) WHERE i <= z) AS quadkey
        |  FROM txy)
        |SELECT c_custkey, tx AS tile_x, ty AS tile_y, z AS zoom, quadkey,
        |  (SELECT CAST(sum((CAST(substr(quadkey, CAST(i AS INT), 1) AS BIGINT) % 2) * power(2.0, z - i)) AS BIGINT)
        |   FROM generate_series(1, 15) AS g(i) WHERE i <= z) AS rt_x,
        |  (SELECT CAST(sum(CAST(floor(CAST(substr(quadkey, CAST(i AS INT), 1) AS BIGINT) / 2.0) AS BIGINT) * power(2.0, z - i)) AS BIGINT)
        |   FROM generate_series(1, 15) AS g(i) WHERE i <= z) AS rt_y,
        |  CAST((CASE WHEN tx = 0 OR tx = CAST(power(2.0, z) - 1.0 AS INT) THEN 2 ELSE 3 END)
        |     * (CASE WHEN ty = 0 OR ty = CAST(power(2.0, z) - 1.0 AS INT) THEN 2 ELSE 3 END) AS INT) AS around_cnt,
        |  (least(greatest(tx * 256.0, 0.0), ms) / ms - 0.5) * 360.0 AS ul_lng,
        |  round(90.0 - atan(exp((0.5 - least(greatest(ty * 256.0, 0.0), ms) / ms) * (-2.0) * pi())) * 360.0 / pi(), 6) AS ul_lat
        |FROM qk""".stripMargin) { (s, _) =>
      val z = (lit(5) + col("c_custkey") % 11).cast("int")
      val lat = (col("c_custkey") * 7919 % 16000) / 100.0 - 80.0
      val lng = (col("c_custkey") * 104729 % 35000) / 100.0 - 175.0
      val base = s.table("customer").select(col("c_custkey"),
        lat.as("lat"), lng.as("lng"), z.as("z"))
      base.select(col("c_custkey"),
        BingTiles.tileX(col("lng"), col("z")).as("tile_x"),
        BingTiles.tileY(col("lat"), col("z")).as("tile_y"),
        col("z").as("zoom"),
        BingTiles.quadkey(
          BingTiles.tileX(col("lng"), col("z")),
          BingTiles.tileY(col("lat"), col("z")), col("z")).as("quadkey"),
        BingTiles.tilesAround(col("lat"), col("lng"), col("z")).as("around"),
        BingTiles.tileCornerLng(BingTiles.tileX(col("lng"), col("z")), col("z")).as("ul_lng"),
        round(BingTiles.tileCornerLat(BingTiles.tileY(col("lat"), col("z")), col("z")), 6).as("ul_lat"))
        .select(col("c_custkey"), col("tile_x"), col("tile_y"), col("zoom"), col("quadkey"),
          BingTiles.quadkeyToX(col("quadkey")).as("rt_x"),
          BingTiles.quadkeyToY(col("quadkey")).as("rt_y"),
          size(col("around")).as("around_cnt"),
          col("ul_lng"), col("ul_lat"))
    },

    // great_circle_distance (GeoFunctions.java:1202): spherical Vincenty
    // atan2 form, R = 6371.01 km. Distances to a fixed city point and
    // between two derived points per row; rounded to 3 dp (1 m) because
    // atan2/sin/cos differ across libms in the last ulp.
    Q("func_great_circle",
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7919 % 16000) / 100.0 - 80.0 AS lat1,
        |    (c_custkey * 104729 % 35000) / 100.0 - 175.0 AS lng1,
        |    (c_custkey * 15485863 % 16000) / 100.0 - 80.0 AS lat2,
        |    (c_custkey * 32452843 % 35000) / 100.0 - 175.0 AS lng2
        |  FROM customer),
        |d AS (
        |  SELECT c_custkey,
        |    atan2(sqrt((cos(lat2 * pi() / 180.0) * sin(lng1 * pi() / 180.0 - lng2 * pi() / 180.0))
        |             * (cos(lat2 * pi() / 180.0) * sin(lng1 * pi() / 180.0 - lng2 * pi() / 180.0))
        |           + (cos(lat1 * pi() / 180.0) * sin(lat2 * pi() / 180.0)
        |              - sin(lat1 * pi() / 180.0) * cos(lat2 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - lng2 * pi() / 180.0))
        |             * (cos(lat1 * pi() / 180.0) * sin(lat2 * pi() / 180.0)
        |              - sin(lat1 * pi() / 180.0) * cos(lat2 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - lng2 * pi() / 180.0))),
        |      sin(lat1 * pi() / 180.0) * sin(lat2 * pi() / 180.0)
        |        + cos(lat1 * pi() / 180.0) * cos(lat2 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - lng2 * pi() / 180.0))
        |      * 6371.01 AS pair_km,
        |    atan2(sqrt((cos(40.7128 * pi() / 180.0) * sin(lng1 * pi() / 180.0 - (-74.006) * pi() / 180.0))
        |             * (cos(40.7128 * pi() / 180.0) * sin(lng1 * pi() / 180.0 - (-74.006) * pi() / 180.0))
        |           + (cos(lat1 * pi() / 180.0) * sin(40.7128 * pi() / 180.0)
        |              - sin(lat1 * pi() / 180.0) * cos(40.7128 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - (-74.006) * pi() / 180.0))
        |             * (cos(lat1 * pi() / 180.0) * sin(40.7128 * pi() / 180.0)
        |              - sin(lat1 * pi() / 180.0) * cos(40.7128 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - (-74.006) * pi() / 180.0))),
        |      sin(lat1 * pi() / 180.0) * sin(40.7128 * pi() / 180.0)
        |        + cos(lat1 * pi() / 180.0) * cos(40.7128 * pi() / 180.0) * cos(lng1 * pi() / 180.0 - (-74.006) * pi() / 180.0))
        |      * 6371.01 AS city_km
        |  FROM pts)
        |SELECT c_custkey, round(pair_km, 3) AS pair_km, round(city_km, 3) AS city_km
        |FROM d""".stripMargin) { (s, _) =>
      val lat1 = (col("c_custkey") * 7919 % 16000) / 100.0 - 80.0
      val lng1 = (col("c_custkey") * 104729 % 35000) / 100.0 - 175.0
      val lat2 = (col("c_custkey") * 15485863 % 16000) / 100.0 - 80.0
      val lng2 = (col("c_custkey") * 32452843 % 35000) / 100.0 - 175.0
      s.table("customer").select(col("c_custkey"),
        round(BingTiles.greatCircleKm(lat1, lng1, lat2, lng2), 3).as("pair_km"),
        round(BingTiles.greatCircleKm(lat1, lng1, lit(40.7128), lit(-74.006)), 3).as("city_km"))
    },

    // Tile-binned great-circle distance join: all (customer, supplier)
    // pairs within 120 km on the sphere. The scale path mirrors the
    // planar grid join (SpatialJoinOps.distanceJoin) but bins by BING
    // TILE at a zoom where the tile ground span exceeds the radius:
    // at z=7 a tile spans ~313*cos(lat) km >= 166 km for |lat| < 56,
    // so any qualifying pair is at most one tile apart per axis and the
    // supplier's clipped 3x3 neighborhood (bing_tiles_around) always
    // covers the customer's tile -> plain equi-join on (x, y), no
    // cartesian, great-circle refine only on tile-local candidates.
    // Each pair emits once (customer hashes to exactly one tile).
    Q("join_geo_tile",
      """WITH cpts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7919 % 11000) / 100.0 - 55.0 AS lat,
        |    (c_custkey * 104729 % 30000) / 100.0 - 150.0 AS lng
        |  FROM customer),
        |spts AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 15485863 % 11000) / 100.0 - 55.0 AS lat,
        |    (s_suppkey * 32452843 % 30000) / 100.0 - 150.0 AS lng
        |  FROM supplier),
        |d AS (
        |  SELECT c_custkey, s_suppkey,
        |    atan2(sqrt((cos(s.lat * pi() / 180.0) * sin(c.lng * pi() / 180.0 - s.lng * pi() / 180.0))
        |             * (cos(s.lat * pi() / 180.0) * sin(c.lng * pi() / 180.0 - s.lng * pi() / 180.0))
        |           + (cos(c.lat * pi() / 180.0) * sin(s.lat * pi() / 180.0)
        |              - sin(c.lat * pi() / 180.0) * cos(s.lat * pi() / 180.0) * cos(c.lng * pi() / 180.0 - s.lng * pi() / 180.0))
        |             * (cos(c.lat * pi() / 180.0) * sin(s.lat * pi() / 180.0)
        |              - sin(c.lat * pi() / 180.0) * cos(s.lat * pi() / 180.0) * cos(c.lng * pi() / 180.0 - s.lng * pi() / 180.0))),
        |      sin(c.lat * pi() / 180.0) * sin(s.lat * pi() / 180.0)
        |        + cos(c.lat * pi() / 180.0) * cos(s.lat * pi() / 180.0) * cos(c.lng * pi() / 180.0 - s.lng * pi() / 180.0))
        |      * 6371.01 AS km
        |  FROM cpts c, spts s)
        |SELECT c_custkey, s_suppkey, round(km, 3) AS dist_km
        |FROM d WHERE round(km, 3) <= 120.0""".stripMargin) { (s, _) =>
      val z = lit(7)
      val cust = s.table("customer").select(col("c_custkey"),
        ((col("c_custkey") * 7919 % 11000) / 100.0 - 55.0).as("clat"),
        ((col("c_custkey") * 104729 % 30000) / 100.0 - 150.0).as("clng"))
      val supp = s.table("supplier").select(col("s_suppkey"),
        ((col("s_suppkey") * 15485863 % 11000) / 100.0 - 55.0).as("slat"),
        ((col("s_suppkey") * 32452843 % 30000) / 100.0 - 150.0).as("slng"))
      val left = cust
        .withColumn("__tx", BingTiles.tileX(col("clng"), z))
        .withColumn("__ty", BingTiles.tileY(col("clat"), z))
      val right = supp
        .withColumn("__t", explode(BingTiles.tilesAround(col("slat"), col("slng"), z)))
        .withColumn("__tx", col("__t.x")).withColumn("__ty", col("__t.y"))
        .drop("__t")
      val km = BingTiles.greatCircleKm(col("clat"), col("clng"), col("slat"), col("slng"))
      // Membership is decided on the ROUNDED distance in both engine and
      // oracle: atan2/sin/cos differ across libms in the last ulp, so a
      // raw `km <= 120.0` could disagree for a pair within an ulp of the
      // cutoff; round(_, 3) makes the predicate bit-identical on both
      // sides (same hazard note as the output column).
      left.join(right, Seq("__tx", "__ty"))
        .filter(round(km, 3) <= 120.0)
        .select(col("c_custkey"), col("s_suppkey"), round(km, 3).as("dist_km"))
    },

    // WKT accessor slice (GeoFunctions.java stGeometryType/stNumPoints/
    // stIsClosed/stIsRing/stX/stY/stStartPoint/stEndPoint/stPointN/
    // stDimension + lineLocatePoint): geometries are BUILT as WKT text
    // from integer key arithmetic, then every output is recovered by
    // parsing that text — the oracle recomputes the expected values
    // straight from the key arithmetic, fully independent of the WKT
    // parse path under test. line_locate_point on the 2-point segment
    // mirrors the fold's exact expression shape ((0 + t*L)/(0 + L)) so
    // the doubles match bit-for-bit (IEEE ops only, no libm).
    Q("func_geometry2",
      """WITH g AS (
        |  SELECT s_suppkey,
        |    s_suppkey * 13 % 97 AS px, s_suppkey * 29 % 89 AS py,
        |    s_suppkey % 50 AS lx1, s_suppkey * 7 % 50 AS ly1,
        |    s_suppkey % 50 + 1 + s_suppkey % 5 AS lx2,
        |    s_suppkey * 7 % 50 + 1 + s_suppkey * 3 % 7 AS ly2,
        |    s_suppkey * 11 % 30 + 5 AS cx, s_suppkey * 17 % 30 + 5 AS cy,
        |    s_suppkey % 4 + 1 AS r,
        |    s_suppkey % 50 + (s_suppkey % 7) - 3 AS qx,
        |    s_suppkey * 7 % 50 + (s_suppkey * 5 % 9) - 4 AS qy
        |  FROM supplier),
        |loc AS (
        |  SELECT *,
        |    CAST((qx - lx1) * (lx2 - lx1) + (qy - ly1) * (ly2 - ly1) AS DOUBLE)
        |      / CAST((lx2 - lx1) * (lx2 - lx1) + (ly2 - ly1) * (ly2 - ly1) AS DOUBLE) AS t_raw,
        |    sqrt(CAST((lx2 - lx1) * (lx2 - lx1) + (ly2 - ly1) * (ly2 - ly1) AS DOUBLE)) AS seg_len
        |  FROM g)
        |SELECT s_suppkey,
        |  'ST_Point' AS pt_type, 'ST_LineString' AS ln_type, 'ST_Polygon' AS pg_type,
        |  CAST(1 AS BIGINT) AS pt_n, CAST(2 AS BIGINT) AS ln_n, CAST(4 AS BIGINT) AS pg_n,
        |  CAST(px AS DOUBLE) AS pt_x, CAST(py AS DOUBLE) AS pt_y,
        |  false AS ln_closed, true AS ring_closed, true AS ring_is_ring, false AS ln_is_ring,
        |  CAST(lx1 AS DOUBLE) AS start_x, CAST(ly1 AS DOUBLE) AS start_y,
        |  CAST(lx2 AS DOUBLE) AS end_x, CAST(ly2 AS DOUBLE) AS end_y,
        |  CAST(cy + r AS DOUBLE) AS ring_p2y,
        |  CAST(0 AS TINYINT) AS dim_pt, CAST(1 AS TINYINT) AS dim_ln, CAST(2 AS TINYINT) AS dim_pg,
        |  CAST(2 AS TINYINT) AS coord_dim,
        |  (0.0 + least(greatest(t_raw, 0.0), 1.0) * seg_len) / (0.0 + seg_len) AS locate_frac
        |FROM loc""".stripMargin) { (s, _) =>
      import graft.functions.WktGeometry._
      val k = col("s_suppkey")
      val px = k * 13 % 97; val py = k * 29 % 89
      val lx1 = k % 50; val ly1 = k * 7 % 50
      val lx2 = k % 50 + 1 + k % 5; val ly2 = k * 7 % 50 + 1 + k * 3 % 7
      val cx = k * 11 % 30 + 5; val cy = k * 17 % 30 + 5; val r = k % 4 + 1
      val qx = (k % 50 + (k % 7) - 3).cast("double")
      val qy = (k * 7 % 50 + (k * 5 % 9) - 4).cast("double")
      val base = s.table("supplier").select(k.as("s_suppkey"),
        concat(lit("POINT ("), px, lit(" "), py, lit(")")).as("pt"),
        concat(lit("LINESTRING ("), lx1, lit(" "), ly1, lit(", "), lx2, lit(" "), ly2, lit(")")).as("ln"),
        concat(lit("LINESTRING ("),
          cx + r, lit(" "), cy, lit(", "), cx, lit(" "), cy + r, lit(", "),
          cx - r, lit(" "), cy, lit(", "), cx, lit(" "), cy - r, lit(", "),
          cx + r, lit(" "), cy, lit(")")).as("ring"),
        concat(lit("POLYGON (("),
          cx + r, lit(" "), cy, lit(", "), cx, lit(" "), cy + r, lit(", "),
          cx - r, lit(" "), cy, lit(", "), cx, lit(" "), cy - r, lit(", "),
          cx + r, lit(" "), cy, lit("))")).as("pg"),
        qx.as("qx"), qy.as("qy"))
      // Parse each WKT ONCE into a pts column, then derive everything
      // from the parsed arrays: Column trees have no cross-column CSE,
      // so accessor-per-column over raw WKT would duplicate the parse
      // subtree ~20x (and re-run it per HOF element in the folds) —
      // measured 6ms/row interpreted vs sub-ms this way.
      base
        .withColumn("pts_pt", wktPoints(col("pt")))
        .withColumn("pts_ln", wktPoints(col("ln")))
        .withColumn("pts_ring", wktPoints(col("ring")))
        .withColumn("pts_pg", wktPoints(col("pg")))
        .withColumn("segs_ln", segments(col("pts_ln")))
        .withColumn("ln_total", lineLength(col("segs_ln")))
        .select(col("s_suppkey"),
        stGeometryType(col("pt")).as("pt_type"),
        stGeometryType(col("ln")).as("ln_type"),
        stGeometryType(col("pg")).as("pg_type"),
        size(col("pts_pt")).cast("long").as("pt_n"),
        size(col("pts_ln")).cast("long").as("ln_n"),
        (size(col("pts_pg")) - 1).cast("long").as("pg_n"),
        element_at(col("pts_pt"), 1).getField("x").as("pt_x"),
        element_at(col("pts_pt"), 1).getField("y").as("pt_y"),
        isClosedPts(col("pts_ln")).as("ln_closed"),
        isClosedPts(col("pts_ring")).as("ring_closed"),
        isRingPts(col("pts_ring")).as("ring_is_ring"),
        isRingPts(col("pts_ln")).as("ln_is_ring"),
        element_at(col("pts_ln"), 1).getField("x").as("start_x"),
        element_at(col("pts_ln"), 1).getField("y").as("start_y"),
        element_at(col("pts_ln"), size(col("pts_ln"))).getField("x").as("end_x"),
        element_at(col("pts_ln"), size(col("pts_ln"))).getField("y").as("end_y"),
        element_at(col("pts_ring"), 2).getField("y").as("ring_p2y"),
        stDimension(col("pt")).as("dim_pt"),
        stDimension(col("ln")).as("dim_ln"),
        stDimension(col("pg")).as("dim_pg"),
        stCoordDim(col("pg")).as("coord_dim"),
        locateFromSegs(col("segs_ln"), col("ln_total"), col("qx"), col("qy")).as("locate_frac"))
    },

    // KDB-tree partitioned distance join (KdbTree.java,
    // SpatialPartitioningAggregateFunction.java): same contract as
    // join_spatial_grid but with QUADRATICALLY CLUSTERED coordinates —
    // the density-adaptive median splits keep per-leaf candidate counts
    // bounded where a fixed-size grid would pile the cluster into a few
    // hot cells. Equi-join on leaf id, exact refine, each pair once.
    Q("join_spatial_kdb",
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey % 100) * (c_custkey % 100) / 100.0 AS x,
        |    (c_custkey % 97) * (c_custkey % 97) / 100.0 AS y FROM customer),
        |sites AS (
        |  SELECT s_suppkey,
        |    (s_suppkey % 100) * (s_suppkey % 100) / 100.0 AS x,
        |    (s_suppkey % 97) * (s_suppkey % 97) / 100.0 AS y FROM supplier)
        |SELECT p.c_custkey, st.s_suppkey,
        |  sqrt((p.x - st.x) * (p.x - st.x) + (p.y - st.y) * (p.y - st.y)) AS dist
        |FROM pts p, sites st
        |WHERE sqrt((p.x - st.x) * (p.x - st.x) + (p.y - st.y) * (p.y - st.y)) <= 1.5""".stripMargin) { (s, _) =>
      val pts = s.table("customer").select(col("c_custkey"),
        ((col("c_custkey") % 100) * (col("c_custkey") % 100) / 100.0).as("px"),
        ((col("c_custkey") % 97) * (col("c_custkey") % 97) / 100.0).as("py"))
      val sites = s.table("supplier").select(col("s_suppkey"),
        ((col("s_suppkey") % 100) * (col("s_suppkey") % 100) / 100.0).as("sx"),
        ((col("s_suppkey") % 97) * (col("s_suppkey") % 97) / 100.0).as("sy"))
      graft.operators.KdbTreeOps.distanceJoinKdb(pts, "px", "py", sites, "sx", "sy", 1.5)
        .select("c_custkey", "s_suppkey", "dist")
    },

    // DE-9IM predicate family + set operations on envelopes
    // (GeoFunctions.java stWithin/stDisjoint/stTouches/stOverlaps/
    // stEquals/stIntersection, envelope restriction): integer-derived
    // closed boxes so every comparison is exact; intersection and
    // union-envelope corners as nullable doubles.
    Q("func_geometry3",
      """WITH b AS (
        |  SELECT p_partkey,
        |    CAST(p_partkey % 40 AS DOUBLE) AS ax1, CAST(p_partkey * 3 % 40 AS DOUBLE) AS ay1,
        |    CAST(p_partkey % 40 + 1 + p_partkey % 6 AS DOUBLE) AS ax2,
        |    CAST(p_partkey * 3 % 40 + 1 + p_partkey * 7 % 5 AS DOUBLE) AS ay2,
        |    CAST(CASE WHEN p_partkey % 5 = 0 THEN p_partkey % 40 + 1 + p_partkey % 6
        |         ELSE p_partkey * 11 % 40 END AS DOUBLE) AS bx1,
        |    CAST(p_partkey * 13 % 40 AS DOUBLE) AS by1,
        |    CAST(CASE WHEN p_partkey % 5 = 0 THEN p_partkey % 40 + 1 + p_partkey % 6
        |         ELSE p_partkey * 11 % 40 END + 1 + p_partkey % 4 AS DOUBLE) AS bx2,
        |    CAST(p_partkey * 13 % 40 + 1 + p_partkey % 7 AS DOUBLE) AS by2
        |  FROM part)
        |SELECT p_partkey,
        |  ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2 AS intersects,
        |  NOT (ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2) AS disjoint,
        |  ax1 >= bx1 AND ax2 <= bx2 AND ay1 >= by1 AND ay2 <= by2 AS within_ab,
        |  bx1 >= ax1 AND bx2 <= ax2 AND by1 >= ay1 AND by2 <= ay2 AS contains_ab,
        |  (ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2)
        |    AND NOT (ax1 < bx2 AND bx1 < ax2 AND ay1 < by2 AND by1 < ay2) AS touches,
        |  (ax1 < bx2 AND bx1 < ax2 AND ay1 < by2 AND by1 < ay2)
        |    AND NOT (ax1 >= bx1 AND ax2 <= bx2 AND ay1 >= by1 AND ay2 <= by2)
        |    AND NOT (bx1 >= ax1 AND bx2 <= ax2 AND by1 >= ay1 AND by2 <= ay2) AS overlaps,
        |  ax1 = bx1 AND ax2 = bx2 AND ay1 = by1 AND ay2 = by2 AS equals,
        |  CASE WHEN ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2
        |    THEN greatest(ax1, bx1) END AS ix_xmin,
        |  CASE WHEN ax1 <= bx2 AND bx1 <= ax2 AND ay1 <= by2 AND by1 <= ay2
        |    THEN least(ay2, by2) END AS ix_ymax,
        |  least(ax1, bx1) AS un_xmin, greatest(ay2, by2) AS un_ymax
        |FROM b""".stripMargin) { (s, _) =>
      import graft.operators.SpatialJoinOps._
      val k = col("p_partkey")
      val base = s.table("part").select(k.as("p_partkey"),
        (k % 40).cast("double").as("ax1"), (k * 3 % 40).cast("double").as("ay1"),
        (k % 40 + 1 + k % 6).cast("double").as("ax2"),
        (k * 3 % 40 + 1 + k * 7 % 5).cast("double").as("ay2"),
        when(k % 5 === 0, k % 40 + 1 + k % 6).otherwise(k * 11 % 40)
          .cast("double").as("bx1"),
        (k * 13 % 40).cast("double").as("by1"),
        (when(k % 5 === 0, k % 40 + 1 + k % 6).otherwise(k * 11 % 40) + 1 + k % 4)
          .cast("double").as("bx2"),
        (k * 13 % 40 + 1 + k % 7).cast("double").as("by2"))
      def a = (col("ax1"), col("ay1"), col("ax2"), col("ay2"))
      def b = (col("bx1"), col("by1"), col("bx2"), col("by2"))
      val ix = stIntersectionBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4)
      val un = stUnionEnvelope(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4)
      base.select(col("p_partkey"),
        stIntersectsBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("intersects"),
        stDisjointBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("disjoint"),
        stWithinBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("within_ab"),
        stWithinBoxes(b._1, b._2, b._3, b._4, a._1, a._2, a._3, a._4).as("contains_ab"),
        stTouchesBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("touches"),
        stOverlapsBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("overlaps"),
        stEqualsBoxes(a._1, a._2, a._3, a._4, b._1, b._2, b._3, b._4).as("equals"),
        ix.getField("xmin").as("ix_xmin"), ix.getField("ymax").as("ix_ymax"),
        un.getField("xmin").as("un_xmin"), un.getField("ymax").as("un_ymax"))
    },

    // ST_Contains with INTERIOR RINGS (holes) — closes the documented
    // single-ring limitation: annulus diamonds (outer radius r2, hole
    // r1) as two-ring POLYGON WKT, even-odd ray cast over all rings.
    // Integer point/center coordinates vs half-integer radii mean no
    // point ever lies on a boundary, so the oracle's closed form
    // (r1 < manhattan < r2) is exact.
    Q("join_spatial_polygon_holes",
      """WITH polys AS (
        |  SELECT s_suppkey,
        |    s_suppkey * 13 % 80 + 10 AS cx, s_suppkey * 29 % 80 + 10 AS cy,
        |    s_suppkey % 2 + 1.5 AS r1, s_suppkey % 3 + 3.5 AS r2
        |  FROM supplier),
        |pts AS (
        |  SELECT c_custkey, c_custkey * 7 % 100 AS px, c_custkey * 11 % 100 AS py
        |  FROM customer)
        |SELECT s.s_suppkey, c.c_custkey,
        |  CAST(abs(c.px - s.cx) + abs(c.py - s.cy) AS BIGINT) AS manhattan
        |FROM polys s, pts c
        |WHERE abs(c.px - s.cx) + abs(c.py - s.cy) < s.r2
        |  AND abs(c.px - s.cx) + abs(c.py - s.cy) > s.r1""".stripMargin) { (s, _) =>
      val k = col("s_suppkey")
      val cx = k * 13 % 80 + 10; val cy = k * 29 % 80 + 10
      val r1 = (k % 2).cast("double") + 1.5; val r2 = (k % 3).cast("double") + 3.5
      def diamond(cxC: org.apache.spark.sql.Column, cyC: org.apache.spark.sql.Column,
          r: org.apache.spark.sql.Column) =
        concat(lit("("), cxC + r, lit(" "), cyC, lit(", "), cxC, lit(" "), cyC + r,
          lit(", "), cxC - r, lit(" "), cyC, lit(", "), cxC, lit(" "), cyC - r,
          lit(", "), cxC + r, lit(" "), cyC, lit(")"))
      val polys = s.table("supplier").select(k.as("s_suppkey"),
        concat(lit("POLYGON ("), diamond(cx, cy, r2), lit(", "),
          diamond(cx, cy, r1), lit(")")).as("wkt"),
        cx.cast("double").as("cx"), cy.cast("double").as("cy"))
      val pts = s.table("customer").select(col("c_custkey"),
        (col("c_custkey") * 7 % 100).cast("double").as("px"),
        (col("c_custkey") * 11 % 100).cast("double").as("py"))
      graft.operators.SpatialJoinOps
        .containsPolygonRingsJoin(polys, "wkt", pts, "px", "py", 8.0)
        .select(col("s_suppkey"), col("c_custkey"),
          (abs(col("px") - col("cx")) + abs(col("py") - col("cy")))
            .cast("long").as("manhattan"))
    },

    // MULTIPOLYGON ST_Contains — two DISJOINT diamond components per
    // supplier, the first with a hole: exercises the multi=true parse
    // path (component separator normalization) and the component-
    // agnostic even-odd parity over the flat ring list. Integer
    // centers/points vs half-integer radii keep every point off every
    // boundary, so the oracle's closed form (annulus for component A,
    // full diamond for component B) is exact; components are 100 apart
    // in x so membership is exclusive and `component` is well-defined.
    Q("join_spatial_multipolygon",
      """WITH polys AS (
        |  SELECT s_suppkey,
        |    s_suppkey * 13 % 60 + 10 AS cxa, s_suppkey * 29 % 60 + 10 AS cya,
        |    s_suppkey * 13 % 60 + 110 AS cxb, s_suppkey * 17 % 60 + 10 AS cyb,
        |    s_suppkey % 2 + 1.5 AS rha, s_suppkey % 3 + 3.5 AS ra,
        |    s_suppkey % 4 + 2.5 AS rb
        |  FROM supplier),
        |pts AS (
        |  SELECT c_custkey, c_custkey * 7 % 200 AS px, c_custkey * 11 % 100 AS py
        |  FROM customer)
        |SELECT s.s_suppkey, c.c_custkey,
        |  CASE WHEN abs(c.px - s.cxa) + abs(c.py - s.cya) < s.ra THEN 1 ELSE 2 END AS component,
        |  CAST(least(abs(c.px - s.cxa) + abs(c.py - s.cya),
        |             abs(c.px - s.cxb) + abs(c.py - s.cyb)) AS BIGINT) AS manhattan
        |FROM polys s, pts c
        |WHERE (abs(c.px - s.cxa) + abs(c.py - s.cya) > s.rha
        |       AND abs(c.px - s.cxa) + abs(c.py - s.cya) < s.ra)
        |   OR abs(c.px - s.cxb) + abs(c.py - s.cyb) < s.rb""".stripMargin) { (s, _) =>
      val k = col("s_suppkey")
      val cxa = k * 13 % 60 + 10; val cya = k * 29 % 60 + 10
      val cxb = k * 13 % 60 + 110; val cyb = k * 17 % 60 + 10
      val rha = (k % 2).cast("double") + 1.5; val ra = (k % 3).cast("double") + 3.5
      val rb = (k % 4).cast("double") + 2.5
      def ring(cxC: org.apache.spark.sql.Column, cyC: org.apache.spark.sql.Column,
          r: org.apache.spark.sql.Column) =
        concat(lit("("), cxC + r, lit(" "), cyC, lit(", "), cxC, lit(" "), cyC + r,
          lit(", "), cxC - r, lit(" "), cyC, lit(", "), cxC, lit(" "), cyC - r,
          lit(", "), cxC + r, lit(" "), cyC, lit(")"))
      val polys = s.table("supplier").select(k.as("s_suppkey"),
        concat(lit("MULTIPOLYGON (("), ring(cxa, cya, ra), lit(", "),
          ring(cxa, cya, rha), lit("), ("), ring(cxb, cyb, rb), lit("))")).as("wkt"),
        cxa.cast("double").as("cxa"), cya.cast("double").as("cya"),
        cxb.cast("double").as("cxb"), cyb.cast("double").as("cyb"),
        ra.as("ra"))
      val pts = s.table("customer").select(col("c_custkey"),
        (col("c_custkey") * 7 % 200).cast("double").as("px"),
        (col("c_custkey") * 11 % 100).cast("double").as("py"))
      val mA = abs(col("px") - col("cxa")) + abs(col("py") - col("cya"))
      val mB = abs(col("px") - col("cxb")) + abs(col("py") - col("cyb"))
      graft.operators.SpatialJoinOps
        .containsPolygonRingsJoin(polys, "wkt", pts, "px", "py", 8.0, multi = true)
        .select(col("s_suppkey"), col("c_custkey"),
          when(mA < col("ra"), 1).otherwise(2).cast("int").as("component"),
          least(mA, mB).cast("long").as("manhattan"))
    },

    // convex_hull_agg (presto-geospatial/.../ConvexHullAggregation.java)
    // as a hull-of-hulls TypedImperativeAggregate: monotone chain with
    // strict turns, buffer bounded by hull complexity. The oracle finds
    // hull vertices INDEPENDENTLY via Caratheodory (a point is interior
    // iff some nondegenerate triangle / segment of other points covers
    // it — integer cross products, exact), orders them by angle around
    // their centroid, and shoelace-sums: both sides sum exact integer
    // cross terms, so hull_n AND hull_area match bit-for-bit with no
    // ordering or rounding caveats. Points capped at 40/group to keep
    // the oracle's O(n^4) vertex test tractable.
    Q("agg_convex_hull",
      """WITH base AS (
        |  SELECT s_suppkey % 8 AS g,
        |    CAST(row_number() OVER (PARTITION BY s_suppkey % 8 ORDER BY s_suppkey) AS BIGINT) AS i
        |  FROM supplier),
        |pts AS (
        |  SELECT g, i, CAST(i AS DOUBLE) AS x, CAST((i * i * 7 + i * 3) % 101 AS DOUBLE) AS y
        |  FROM base WHERE i <= 40),
        |hullpts AS (
        |  SELECT p.g, p.x, p.y FROM pts p
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b, pts c
        |    WHERE a.g = p.g AND b.g = p.g AND c.g = p.g
        |      AND a.i < b.i AND b.i < c.i
        |      AND a.i <> p.i AND b.i <> p.i AND c.i <> p.i
        |      AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) <> 0
        |      AND (((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) >= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) >= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) >= 0)
        |       OR ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) <= 0
        |        AND (c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x) <= 0
        |        AND (a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x) <= 0)))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM pts a, pts b
        |    WHERE a.g = p.g AND b.g = p.g AND a.i < b.i
        |      AND a.i <> p.i AND b.i <> p.i
        |      AND (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
        |      AND least(a.x, b.x) <= p.x AND p.x <= greatest(a.x, b.x)
        |      AND least(a.y, b.y) <= p.y AND p.y <= greatest(a.y, b.y))),
        |ctr AS (SELECT g, avg(x) AS cx, avg(y) AS cy FROM hullpts GROUP BY g),
        |ordered AS (
        |  SELECT h.g, h.x, h.y,
        |    row_number() OVER (PARTITION BY h.g ORDER BY atan2(h.y - c.cy, h.x - c.cx)) AS rn,
        |    count(*) OVER (PARTITION BY h.g) AS cnt
        |  FROM hullpts h JOIN ctr c USING (g)),
        |np AS (SELECT g, CAST(count(*) AS BIGINT) AS n_points FROM pts GROUP BY g)
        |SELECT o.g AS g, max(np.n_points) AS n_points,
        |  CAST(max(o.cnt) AS INT) AS hull_n,
        |  abs(sum(o.x * nx.y - nx.x * o.y)) / 2 AS hull_area
        |FROM ordered o
        |JOIN ordered nx ON o.g = nx.g
        |  AND nx.rn = CASE WHEN o.rn = o.cnt THEN 1 ELSE o.rn + 1 END
        |JOIN np ON np.g = o.g
        |GROUP BY o.g""".stripMargin) { (s, _) =>
      val g = (col("s_suppkey") % 8).as("g")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("s_suppkey") % 8).orderBy("s_suppkey")
      val pts = s.table("supplier")
        .select(g, row_number().over(w).cast("long").as("i"))
        .filter(col("i") <= 40)
        .select(col("g"), col("i").cast("double").as("x"),
          ((col("i") * col("i") * 7 + col("i") * 3) % 101).cast("double").as("y"))
      val agged = pts.groupBy("g")
        .agg(expr("convex_hull_agg(x, y)").as("hull"),
          count(lit(1)).as("n_points"))
      val closed = concat(col("hull"), slice(col("hull"), 1, 1))
      agged.select(col("g"), col("n_points"),
        size(col("hull")).as("hull_n"),
        (abs(graft.operators.SpatialJoinOps.stSignedAreaTwice(closed)) / 2).as("hull_area"))
    },

    // Geometry construction scalars (GeometryConstructors): scalar
    // ST_ConvexHull, simplify_geometry (Douglas-Peucker), ST_Buffer,
    // ST_Intersection (convex clip). Fixture geometry is closed-form —
    // diamonds |x-cx|+|y-cy| <= r with integer corners — so every output
    // measure has an exact arithmetic oracle: hull/simplified area 2r^2
    // (shoelace over integer corners is exact in double), quarter-plane
    // clip area r^2/2, point-buffer 32-gon area 16 d^2 sin(pi/16) with
    // d = r/2 (trig values compared at 12 significant digits).
    Q("func_geometry_construct",
      """SELECT s_suppkey,
        |  CAST(2 * r * r AS DOUBLE) AS hull_area,
        |  CAST(4 AS BIGINT) AS hull_pts,
        |  CAST(2 * r * r AS DOUBLE) AS simp_area,
        |  CAST(4 AS BIGINT) AS simp_pts,
        |  CAST(r * r AS DOUBLE) / 2 AS inter_area,
        |  round(4 * r * r * sin(pi() / 16), 6) AS buf_area,
        |  CAST(32 AS BIGINT) AS buf_pts,
        |  CAST(3 * r * r AS DOUBLE) AS holed_area,
        |  CAST(3 * r * r AS DOUBLE) AS holed_simp_area
        |FROM (SELECT s_suppkey,
        |        (s_suppkey * 13) % 35 + 2 AS cx,
        |        (s_suppkey * 29) % 35 + 2 AS cy,
        |        2 + s_suppkey % 3 AS r
        |      FROM supplier) t""".stripMargin) { (s, _) =>
      import graft.functions.WktGeometry
      val base = s.table("supplier").selectExpr("s_suppkey",
        "(s_suppkey * 13) % 35 + 2 AS cx",
        "(s_suppkey * 29) % 35 + 2 AS cy",
        "2 + s_suppkey % 3 AS r")
      // 4-corner diamond ring; same with collinear edge midpoints; the
      // hull input carries the interior center as a 5th vertex.
      val withWkt = base.selectExpr("s_suppkey", "r",
        """concat('LINESTRING (', cx+r, ' ', cy, ', ', cx, ' ', cy+r, ', ',
          |  cx-r, ' ', cy, ', ', cx, ' ', cy-r, ', ', cx, ' ', cy, ')')
          |  AS hull_in""".stripMargin,
        """concat('POLYGON ((', cx+r, ' ', cy, ', ',
          |  cx + r/2.0D, ' ', cy + r/2.0D, ', ', cx, ' ', cy+r, ', ',
          |  cx - r/2.0D, ' ', cy + r/2.0D, ', ', cx-r, ' ', cy, ', ',
          |  cx - r/2.0D, ' ', cy - r/2.0D, ', ', cx, ' ', cy-r, ', ',
          |  cx + r/2.0D, ' ', cy - r/2.0D, ', ', cx+r, ' ', cy, '))')
          |  AS diamond8""".stripMargin,
        """concat('POLYGON ((', cx+r, ' ', cy, ', ', cx, ' ', cy+r, ', ',
          |  cx-r, ' ', cy, ', ', cx, ' ', cy-r, ', ', cx+r, ' ', cy, '))')
          |  AS diamond""".stripMargin,
        """concat('POLYGON ((', cx-r, ' ', cy-r, ', ', cx, ' ', cy-r, ', ',
          |  cx, ' ', cy, ', ', cx-r, ' ', cy, ', ', cx-r, ' ', cy-r, '))')
          |  AS clipbox""".stripMargin,
        "concat('POINT (', cx, ' ', cy, ')') AS center",
        // 2r-square exterior with a collinear midpoint on the bottom
        // edge (simplify target) + centered r-square hole: area 3r^2,
        // preserved by simplification (holes are first-class — r7 fix).
        """concat('POLYGON ((', cx-r, ' ', cy-r, ', ', cx, ' ', cy-r, ', ',
          |  cx+r, ' ', cy-r, ', ', cx+r, ' ', cy+r, ', ', cx-r, ' ', cy+r, ', ',
          |  cx-r, ' ', cy-r, '), (',
          |  cx - r/2.0D, ' ', cy - r/2.0D, ', ', cx + r/2.0D, ' ', cy - r/2.0D, ', ',
          |  cx + r/2.0D, ' ', cy + r/2.0D, ', ', cx - r/2.0D, ' ', cy + r/2.0D, ', ',
          |  cx - r/2.0D, ' ', cy - r/2.0D, '))') AS holed""".stripMargin)
      val hullWkt = call_udf("st_convex_hull", col("hull_in"))
      val simpWkt = call_udf("simplify_geometry", col("diamond8"), lit(0.1))
      val interWkt = call_udf("st_intersection_convex", col("diamond"), col("clipbox"))
      val bufWkt = call_udf("st_buffer", col("center"), col("r").cast("double") / 2)
      withWkt.select(col("s_suppkey"),
        call_udf("st_wkt_area", hullWkt).as("hull_area"),
        WktGeometry.stNumPoints(hullWkt).as("hull_pts"),
        call_udf("st_wkt_area", simpWkt).as("simp_area"),
        WktGeometry.stNumPoints(simpWkt).as("simp_pts"),
        call_udf("st_wkt_area", interWkt).as("inter_area"),
        round(call_udf("st_wkt_area", bufWkt), 6).as("buf_area"),
        WktGeometry.stNumPoints(bufWkt).as("buf_pts"),
        call_udf("st_wkt_area", col("holed")).as("holed_area"),
        call_udf("st_wkt_area",
          call_udf("simplify_geometry", col("holed"), lit(0.1))).as("holed_simp_area"))
    },

    // General (non-convex x non-convex) ST_Intersection via
    // Greiner-Hormann (PolygonClip; GeoFunctions.java stIntersection's
    // arbitrary-polygon case, ESRI-delegated in the reference). Two
    // closed-form fixtures per row, scaled by r and translated:
    //  - L ∩ L-shifted-by-(r,r): one L-shaped part, area 5r^2;
    //  - U ∩ non-convex bar through both prongs: TWO parts, areas
    //    3r^2 + 4r^2 = 7r^2 (wktAreaMulti sums MULTIPOLYGON parts).
    // All vertices are integer or half-integer multiples of r -> the
    // shoelace areas are exact in double; the oracle states them.
    // (lbuf_area: the same L buffered by d=r/2 through the NON-CONVEX
    // buffer path — offset curve + outer-face walk. Closed form: A + P*d
    // + 5 convex right-angle arcs sampled at 8 steps (20 sin(pi/16) d^2)
    // minus the reflex miter overlap d^2 tan(pi/4) = d^2.)
    Q("func_geometry_intersect_general",
      """SELECT s_suppkey,
        |  CAST(5 * r * r AS DOUBLE) AS l_area,
        |  CAST(7 * r * r AS DOUBLE) AS u_area,
        |  round(12.0 * r * r + 16.0 * r * (r / 2.0)
        |    + (20 * sin(pi() / 16) - 1) * (r / 2.0) * (r / 2.0), 6) AS lbuf_area
        |FROM (SELECT s_suppkey,
        |        (s_suppkey * 13) % 40 AS cx, (s_suppkey * 29) % 40 AS cy,
        |        1 + s_suppkey % 3 AS r
        |      FROM supplier) t""".stripMargin) { (s, _) =>
      val base = s.table("supplier").selectExpr("s_suppkey",
        "(s_suppkey * 13) % 40 AS cx", "(s_suppkey * 29) % 40 AS cy",
        "1 + s_suppkey % 3 AS r")
      val withWkt = base.selectExpr("s_suppkey", "r",
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+4*r, ' ', cy, ', ',
          |  cx+4*r, ' ', cy+2*r, ', ', cx+2*r, ' ', cy+2*r, ', ',
          |  cx+2*r, ' ', cy+4*r, ', ', cx, ' ', cy+4*r, ', ',
          |  cx, ' ', cy, '))') AS lshape""".stripMargin,
        """concat('POLYGON ((', cx+r, ' ', cy+r, ', ', cx+5*r, ' ', cy+r, ', ',
          |  cx+5*r, ' ', cy+3*r, ', ', cx+3*r, ' ', cy+3*r, ', ',
          |  cx+3*r, ' ', cy+5*r, ', ', cx+r, ' ', cy+5*r, ', ',
          |  cx+r, ' ', cy+r, '))') AS lshape2""".stripMargin,
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+6*r, ' ', cy, ', ',
          |  cx+6*r, ' ', cy+6*r, ', ', cx+4*r, ' ', cy+6*r, ', ',
          |  cx+4*r, ' ', cy+2*r, ', ', cx+2*r, ' ', cy+2*r, ', ',
          |  cx+2*r, ' ', cy+6*r, ', ', cx, ' ', cy+6*r, ', ',
          |  cx, ' ', cy, '))') AS ushape""".stripMargin,
        """concat('POLYGON ((', cx-r, ' ', cy+3*r, ', ', cx+7*r, ' ', cy+3*r, ', ',
          |  cx+7*r, ' ', cy+5*r, ', ', cx+3*r, ' ', cy+5*r, ', ',
          |  cx+3*r, ' ', cy+4.5*CAST(r AS DOUBLE), ', ', cx-r, ' ', cy+4.5*CAST(r AS DOUBLE), ', ',
          |  cx-r, ' ', cy+3*r, '))') AS bar""".stripMargin)
      withWkt.select(col("s_suppkey"),
        call_udf("st_wkt_area",
          call_udf("st_intersection", col("lshape"), col("lshape2"))).as("l_area"),
        call_udf("st_wkt_area",
          call_udf("st_intersection", col("ushape"), col("bar"))).as("u_area"),
        round(call_udf("st_wkt_area",
          call_udf("st_buffer", col("lshape"),
            col("r").cast("double") / 2)), 6).as("lbuf_area"))
    },

    // ST_Union / ST_Difference / ST_SymDifference for arbitrary simple
    // polygons (GeoFunctions.java:619-634, 907-918, 979-990 — ESRI
    // overlay ops; here Greiner-Hormann with per-op entry-mark inversion,
    // PolygonClip.union/difference). Closed-form oracle: the L-shape pair
    // has area 12r^2 each and intersection 5r^2 (pinned by
    // func_geometry_intersect_general), so union = 19r^2, difference =
    // 7r^2, symdifference = 14r^2 by inclusion-exclusion. The frame case
    // unions two interlocking L pieces whose union is a 4r x 4r square
    // with a 2r x 2r hole (12r^2) — exercising the shell/hole classifier
    // AND the degeneracy joggle (the pieces share collinear edges); the
    // holed-difference case subtracts an interior r x r square (15r^2).
    Q("func_geometry_overlay",
      """SELECT s_suppkey,
        |  CAST(19 * r * r AS DOUBLE) AS union_area,
        |  CAST(7 * r * r AS DOUBLE) AS diff_area,
        |  CAST(14 * r * r AS DOUBLE) AS symdiff_area,
        |  CAST(12 * r * r AS DOUBLE) AS frame_area,
        |  CAST(15 * r * r AS DOUBLE) AS holed_diff_area
        |FROM (SELECT s_suppkey, 1 + s_suppkey % 3 AS r FROM supplier) t""".stripMargin) { (s, _) =>
      val base = s.table("supplier").selectExpr("s_suppkey",
        "(s_suppkey * 13) % 40 AS cx", "(s_suppkey * 29) % 40 AS cy",
        "1 + s_suppkey % 3 AS r")
      val withWkt = base.selectExpr("s_suppkey", "r",
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+4*r, ' ', cy, ', ',
          |  cx+4*r, ' ', cy+2*r, ', ', cx+2*r, ' ', cy+2*r, ', ',
          |  cx+2*r, ' ', cy+4*r, ', ', cx, ' ', cy+4*r, ', ',
          |  cx, ' ', cy, '))') AS lshape""".stripMargin,
        """concat('POLYGON ((', cx+r, ' ', cy+r, ', ', cx+5*r, ' ', cy+r, ', ',
          |  cx+5*r, ' ', cy+3*r, ', ', cx+3*r, ' ', cy+3*r, ', ',
          |  cx+3*r, ' ', cy+5*r, ', ', cx+r, ' ', cy+5*r, ', ',
          |  cx+r, ' ', cy+r, '))') AS lshape2""".stripMargin,
        // frame halves: bottom strip + right column / top strip + left column
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+4*r, ' ', cy, ', ',
          |  cx+4*r, ' ', cy+4*r, ', ', cx+3*r, ' ', cy+4*r, ', ',
          |  cx+3*r, ' ', cy+r, ', ', cx, ' ', cy+r, ', ',
          |  cx, ' ', cy, '))') AS frame_a""".stripMargin,
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+r, ' ', cy, ', ',
          |  cx+r, ' ', cy+3*r, ', ', cx+4*r, ' ', cy+3*r, ', ',
          |  cx+4*r, ' ', cy+4*r, ', ', cx, ' ', cy+4*r, ', ',
          |  cx, ' ', cy, '))') AS frame_b""".stripMargin,
        """concat('POLYGON ((', cx, ' ', cy, ', ', cx+4*r, ' ', cy, ', ',
          |  cx+4*r, ' ', cy+4*r, ', ', cx, ' ', cy+4*r, ', ',
          |  cx, ' ', cy, '))') AS square""".stripMargin,
        """concat('POLYGON ((', cx+r, ' ', cy+r, ', ', cx+2*r, ' ', cy+r, ', ',
          |  cx+2*r, ' ', cy+2*r, ', ', cx+r, ' ', cy+2*r, ', ',
          |  cx+r, ' ', cy+r, '))') AS inner_sq""".stripMargin)
      withWkt.select(col("s_suppkey"),
        round(call_udf("st_wkt_area",
          call_udf("st_union", col("lshape"), col("lshape2"))), 6).as("union_area"),
        round(call_udf("st_wkt_area",
          call_udf("st_difference", col("lshape"), col("lshape2"))), 6).as("diff_area"),
        round(call_udf("st_wkt_area",
          call_udf("st_sym_difference", col("lshape"), col("lshape2"))), 6).as("symdiff_area"),
        round(call_udf("st_wkt_area",
          call_udf("st_union", col("frame_a"), col("frame_b"))), 6).as("frame_area"),
        round(call_udf("st_wkt_area",
          call_udf("st_difference", col("square"), col("inner_sq"))), 6).as("holed_diff_area"))
    },

    // Exactly-degenerate overlay positions — EVERY case here raises in
    // the double-precision Greiner-Hormann and is resolved by the EXACT
    // rational planar-arrangement fallback (ExactOverlay; r9 — replaces
    // the 1e-9 joggle, so the areas are EXACT, not rounded-to-forgive).
    // Fixtures per row (square A = [0,2r]^2 translated to (cx,cy)):
    //  - B_band = [0,2r] x [r,3r]: its bottom edge's endpoints are
    //    T-touches ON A's side edges, and both its vertical edges
    //    OVERLAP A's collinearly. inter = 2r^2, diff = 2r^2,
    //    symdiff = (A\B) + (B\A) = 4r^2.
    //  - B_edge = [2r,4r] x [0,2r]: shares A's ENTIRE right edge.
    //    union = 8r^2 (one rectangle, no sliver seam).
    //  - B_vertex = [2r,3r] x [2r,3r]: shares exactly the corner
    //    vertex (2r,2r). union = 5r^2 as a two-part MULTIPOLYGON.
    //  - B_half = [r,3r] x [2r,4r]: shares HALF of A's top edge
    //    (collinear partial overlap). union = 8r^2.
    Q("func_geometry_overlay_exact",
      """SELECT s_suppkey,
        |  CAST(2 * r * r AS DOUBLE) AS band_inter,
        |  CAST(2 * r * r AS DOUBLE) AS band_diff,
        |  CAST(4 * r * r AS DOUBLE) AS band_symdiff,
        |  CAST(8 * r * r AS DOUBLE) AS edge_union,
        |  CAST(5 * r * r AS DOUBLE) AS vertex_union,
        |  CAST(8 * r * r AS DOUBLE) AS half_union
        |FROM (SELECT s_suppkey, 1 + s_suppkey % 3 AS r FROM supplier) t""".stripMargin) { (s, _) =>
      val base = s.table("supplier").selectExpr("s_suppkey",
        "(s_suppkey * 17) % 40 AS cx", "(s_suppkey * 31) % 40 AS cy",
        "1 + s_suppkey % 3 AS r")
      def rect(x0: String, y0: String, x1: String, y1: String): String =
        s"""concat('POLYGON ((', $x0, ' ', $y0, ', ', $x1, ' ', $y0, ', ',
           |  $x1, ' ', $y1, ', ', $x0, ' ', $y1, ', ', $x0, ' ', $y0, '))')""".stripMargin
      val withWkt = base.selectExpr("s_suppkey", "r",
        rect("cx", "cy", "cx+2*r", "cy+2*r") + " AS a",
        rect("cx", "cy+r", "cx+2*r", "cy+3*r") + " AS b_band",
        rect("cx+2*r", "cy", "cx+4*r", "cy+2*r") + " AS b_edge",
        rect("cx+2*r", "cy+2*r", "cx+3*r", "cy+3*r") + " AS b_vertex",
        rect("cx+r", "cy+2*r", "cx+3*r", "cy+4*r") + " AS b_half")
      withWkt.select(col("s_suppkey"),
        call_udf("st_wkt_area",
          call_udf("st_intersection", col("a"), col("b_band"))).as("band_inter"),
        call_udf("st_wkt_area",
          call_udf("st_difference", col("a"), col("b_band"))).as("band_diff"),
        call_udf("st_wkt_area",
          call_udf("st_sym_difference", col("a"), col("b_band"))).as("band_symdiff"),
        call_udf("st_wkt_area",
          call_udf("st_union", col("a"), col("b_edge"))).as("edge_union"),
        call_udf("st_wkt_area",
          call_udf("st_union", col("a"), col("b_vertex"))).as("vertex_union"),
        call_udf("st_wkt_area",
          call_udf("st_union", col("a"), col("b_half"))).as("half_union"))
    },

    // ST_IsValid / geometry_invalid_reason (GeoFunctions.java stIsValid,
    // invalidReason): per-row parity picks a valid diamond, a bowtie
    // (proper self-intersection, exact integer orientation tests), or a
    // collinear zero-area ring — the reason strings are deterministic,
    // so the oracle states them literally.
    Q("func_geometry_valid",
      """SELECT s_suppkey,
        |  (s_suppkey % 3 = 0) AS valid,
        |  CASE s_suppkey % 3 WHEN 0 THEN NULL
        |       WHEN 1 THEN 'Self-intersection between ring edges 0 and 2'
        |       ELSE 'Degenerate ring: zero area' END AS reason
        |FROM supplier""".stripMargin) { (s, _) =>
      val cx = col("s_suppkey") * 7 % 50
      val cy = col("s_suppkey") * 11 % 50
      val diamond = concat(lit("POLYGON (("), cx + 2, lit(" "), cy, lit(", "),
        cx, lit(" "), cy + 2, lit(", "), cx - 2, lit(" "), cy, lit(", "),
        cx, lit(" "), cy - 2, lit(", "), cx + 2, lit(" "), cy, lit("))"))
      val bowtie = concat(lit("POLYGON (("), cx, lit(" "), cy, lit(", "),
        cx + 4, lit(" "), cy + 4, lit(", "), cx + 4, lit(" "), cy, lit(", "),
        cx, lit(" "), cy + 4, lit(", "), cx, lit(" "), cy, lit("))"))
      val flat = concat(lit("POLYGON (("), cx, lit(" "), cy, lit(", "),
        cx + 2, lit(" "), cy + 2, lit(", "), cx + 4, lit(" "), cy + 4, lit(", "),
        cx, lit(" "), cy, lit("))"))
      val wkt = when(col("s_suppkey") % 3 === 0, diamond)
        .when(col("s_suppkey") % 3 === 1, bowtie)
        .otherwise(flat)
      s.table("supplier").select(col("s_suppkey"),
        call_udf("st_is_valid", wkt).as("valid"),
        call_udf("geometry_invalid_reason", wkt).as("reason"))
    },

    // line_interpolate_point (GeoFunctions.java lineInterpolatePoint) —
    // the inverse of line_locate_point. The L-shaped 3-4 polyline has
    // exact segment lengths (sqrt(9), sqrt(16)) and fraction k/8 * 7 is
    // exact in binary, so the oracle's least/greatest closed form walks
    // the same values; interpolation division costs at most an ulp,
    // absorbed by round(9) on both sides.
    Q("func_geometry_interpolate",
      """SELECT s_suppkey,
        |  round(((s_suppkey * 7) % 50) + least(((s_suppkey % 8) / 8.0) * 7.0, 3.0), 9) AS ix,
        |  round(((s_suppkey * 11) % 50) + greatest(((s_suppkey % 8) / 8.0) * 7.0 - 3.0, 0.0), 9) AS iy
        |FROM supplier""".stripMargin) { (s, _) =>
      import graft.functions.WktGeometry
      val cx = col("s_suppkey") * 7 % 50
      val cy = col("s_suppkey") * 11 % 50
      val line = concat(lit("LINESTRING ("), cx, lit(" "), cy, lit(", "),
        cx + 3, lit(" "), cy, lit(", "), cx + 3, lit(" "), cy + 4, lit(")"))
      val f = (col("s_suppkey") % 8) / lit(8.0)
      // materialize segs/target/point once per row: inlining the Column
      // tree at each reference cost ~2s of driver-side Catalyst per run
      // (r7 bench isolated re-time; see interpolateFromSegs doc)
      s.table("supplier")
        .withColumn("segs", WktGeometry.segments(WktGeometry.wktPoints(line)))
        .withColumn("target", f * WktGeometry.lineLength(col("segs")))
        .withColumn("p", WktGeometry.interpolateFromSegs(col("segs"), col("target")))
        .select(col("s_suppkey"),
          round(col("p").getField("x"), 9).as("ix"),
          round(col("p").getField("y"), 9).as("iy"))
    },

    // Presto-name parity wave (round 8, PrestoNames.scala), geo slice:
    // the BingTile STRUCT signatures (BingTileFunctions.java:86-347 —
    // bing_tile / bing_tile_at / bing_tile_coordinates /
    // bing_tile_zoom_level / bing_tile_quadkey(tile) /
    // bing_tiles_around), scalar line_locate_point (GeoFunctions.java
    // lineLocatePoint) and geometry_union over an array
    // (GeoFunctions.java:619). Oracle replays the tile arithmetic
    // (dyadic-exact, same as func_bing_tile) and closed forms: the
    // locate fraction on the 20-length L-line is least(px,10)/20; the
    // union of 2x2 squares offset d is a (2+d)x2 rectangle.
    Q("func_presto_names_geo",
      """WITH pts AS (
        |  SELECT c_custkey,
        |    (c_custkey * 7919 % 16000) / 100.0 - 80.0 AS lat,
        |    (c_custkey * 104729 % 35000) / 100.0 - 175.0 AS lng,
        |    CAST(5 + c_custkey % 11 AS INT) AS z,
        |    CAST(c_custkey % 12 AS INT) AS px,
        |    CAST(c_custkey % 2 AS DOUBLE) AS d
        |  FROM customer),
        |sz AS (SELECT *, 256.0 * power(2.0, z) AS ms FROM pts),
        |txy AS (
        |  SELECT *,
        |    CAST(floor(least(greatest((lng + 180.0) / 360.0 * ms, 0.0), ms - 1.0) / 256.0) AS INT) AS tx,
        |    CAST(floor(least(greatest(
        |      (0.5 - ln((1.0 + sin(lat * pi() / 180.0)) / (1.0 - sin(lat * pi() / 180.0))) / (4.0 * pi())) * ms,
        |      0.0), ms - 1.0) / 256.0) AS INT) AS ty
        |  FROM sz)
        |SELECT c_custkey, tx, ty, z AS z_rt, tx AS tx_rt,
        |  CAST((CASE WHEN tx = 0 OR tx = CAST(power(2.0, z) - 1.0 AS INT) THEN 2 ELSE 3 END)
        |     * (CASE WHEN ty = 0 OR ty = CAST(power(2.0, z) - 1.0 AS INT) THEN 2 ELSE 3 END) AS INT) AS around_ct,
        |  round(least(px, 10.0) / 20.0, 6) AS frac,
        |  round(4.0 + 2.0 * d, 6) AS union_area
        |FROM txy""".stripMargin) { (s, _) =>
      s.sql(
        """WITH pts AS (
          |  SELECT c_custkey,
          |    (c_custkey * 7919 % 16000) / 100.0 - 80.0 AS lat,
          |    (c_custkey * 104729 % 35000) / 100.0 - 175.0 AS lng,
          |    CAST(5 + c_custkey % 11 AS INT) AS z,
          |    CAST(c_custkey % 12 AS INT) AS px,
          |    CAST(c_custkey % 2 AS DOUBLE) AS d
          |  FROM customer)
          |SELECT c_custkey,
          |  bing_tile_coordinates(bing_tile_at(lat, lng, z)).x AS tx,
          |  bing_tile_coordinates(bing_tile_at(lat, lng, z)).y AS ty,
          |  bing_tile_zoom_level(bing_tile(bing_tile_quadkey(bing_tile_at(lat, lng, z)))) AS z_rt,
          |  bing_tile_coordinates(bing_tile(bing_tile_quadkey(bing_tile_at(lat, lng, z)))).x AS tx_rt,
          |  cardinality(bing_tiles_around(lat, lng, z)) AS around_ct,
          |  round(line_locate_point('LINESTRING (0 0, 10 0, 10 10)',
          |    concat('POINT (', px, ' 0)')), 6) AS frac,
          |  round(st_wkt_area(geometry_union(array(
          |    'POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))',
          |    concat('POLYGON ((', d, ' 0, ', d + 2, ' 0, ', d + 2, ' 2, ', d, ' 2, ', d, ' 0))')))), 6) AS union_area
          |FROM pts""".stripMargin)
    },

    // Holed-input overlays (round 8 region layer,
    // GeometryConstructors.scala subtractRing/intersectRing/cutShells):
    // ST_Intersection/Union/Difference/SymDifference over POLYGONs WITH
    // INTERIOR RINGS — the r7 "holed inputs raise" gap closed. Fixtures
    // translate by t = s_suppkey % 5 per row (areas invariant); oracle
    // values are closed forms by inclusion-exclusion: A = 6x6 with 2x2
    // hole (32), B = 6x6 at (+3,+3) with 1x1 hole (35): A∩B = 8,
    // A∪B = 59, A\B = 24, B\A = 27, symdiff = 51. The MULTIPOLYGON
    // round-trip feeds a union OUTPUT back as an input: two unit squares
    // ∩ a spanning strip = 1.
    Q("func_geometry_overlay_holes",
      """SELECT s_suppkey,
        |  CAST(8 AS DOUBLE) AS i_area, CAST(59 AS DOUBLE) AS u_area,
        |  CAST(24 AS DOUBLE) AS d_area, CAST(27 AS DOUBLE) AS rd_area,
        |  CAST(51 AS DOUBLE) AS sd_area, CAST(1 AS DOUBLE) AS strip_area
        |FROM supplier""".stripMargin) { (s, _) =>
      s.sql(
        """WITH g AS (
          |  SELECT s_suppkey, CAST(s_suppkey % 5 AS DOUBLE) AS t FROM supplier),
          |shapes AS (
          |  SELECT s_suppkey,
          |    concat('POLYGON ((', t, ' ', t, ', ', t + 6, ' ', t, ', ', t + 6, ' ', t + 6,
          |      ', ', t, ' ', t + 6, ', ', t, ' ', t, '), (', t + 2, ' ', t + 2, ', ', t + 4,
          |      ' ', t + 2, ', ', t + 4, ' ', t + 4, ', ', t + 2, ' ', t + 4, ', ', t + 2,
          |      ' ', t + 2, '))') AS a,
          |    concat('POLYGON ((', t + 3, ' ', t + 3, ', ', t + 9, ' ', t + 3, ', ', t + 9,
          |      ' ', t + 9, ', ', t + 3, ' ', t + 9, ', ', t + 3, ' ', t + 3, '), (', t + 7,
          |      ' ', t + 7, ', ', t + 8, ' ', t + 7, ', ', t + 8, ' ', t + 8, ', ', t + 7,
          |      ' ', t + 8, ', ', t + 7, ' ', t + 7, '))') AS b,
          |    concat('POLYGON ((', t, ' ', t, ', ', t + 1, ' ', t, ', ', t + 1, ' ', t + 1,
          |      ', ', t, ' ', t + 1, ', ', t, ' ', t, '))') AS c1,
          |    concat('POLYGON ((', t + 3, ' ', t, ', ', t + 4, ' ', t, ', ', t + 4, ' ', t + 1,
          |      ', ', t + 3, ' ', t + 1, ', ', t + 3, ' ', t, '))') AS c2,
          |    concat('POLYGON ((', t - 1, ' ', t - 0.25, ', ', t + 10, ' ', t - 0.25, ', ',
          |      t + 10, ' ', t + 0.5, ', ', t - 1, ' ', t + 0.5, ', ', t - 1, ' ', t - 0.25,
          |      '))') AS strip
          |  FROM g)
          |SELECT s_suppkey,
          |  round(st_wkt_area(st_intersection(a, b)), 5) AS i_area,
          |  round(st_wkt_area(st_union(a, b)), 5) AS u_area,
          |  round(st_wkt_area(st_difference(a, b)), 5) AS d_area,
          |  round(st_wkt_area(st_difference(b, a)), 5) AS rd_area,
          |  round(st_wkt_area(st_sym_difference(a, b)), 5) AS sd_area,
          |  round(st_wkt_area(st_intersection(st_union(c1, c2), strip)), 5) AS strip_area
          |FROM shapes""".stripMargin)
    },

    // geometry_union_agg (GeometryUnionAgg.java): incremental pairwise
    // union with a one-geometry buffer — never a collect-all (at 100 TB
    // the partial/final state is bounded by result complexity). Each
    // nation's DISTINCT offset squares ({0}, {1} or {0,1} 2x2 squares
    // at x-offset c_custkey % 2) union to a rectangle whose area is the
    // closed form 2 * (max_d - min_d + 2).
    Q("agg_geometry_union",
      """SELECT c_nationkey,
        |  round(2.0 * (max(CAST(c_custkey % 2 AS DOUBLE)) - min(CAST(c_custkey % 2 AS DOUBLE)) + 2.0), 5) AS area
        |FROM customer GROUP BY c_nationkey""".stripMargin) { (s, _) =>
      s.sql(
        """WITH sq AS (
          |  SELECT DISTINCT c_nationkey,
          |    concat('POLYGON ((', d, ' 0, ', d + 2, ' 0, ', d + 2, ' 2, ', d, ' 2, ', d, ' 0))') AS poly
          |  FROM (SELECT c_nationkey, CAST(c_custkey % 2 AS DOUBLE) AS d FROM customer))
          |SELECT c_nationkey, round(st_wkt_area(geometry_union_agg(poly)), 5) AS area
          |FROM sq GROUP BY c_nationkey""".stripMargin)
    })
}
