package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.BingTiles

/** Bing tile + great-circle pins against the reference's own test
  * vectors (presto-geospatial TestBingTileFunctions.java:79-123,
  * TestGeoFunctions.java:794-797), plus plan-shape gates for the
  * tile-binned distance join.
  */
class GeoSpecs extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.engine.Engine.session("local[4]", shufflePartitions = 4)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def oneRow(cols: org.apache.spark.sql.Column*): org.apache.spark.sql.Row =
    spark.range(1).select(cols: _*).head()

  test("bing_tile_at matches reference vectors (TestBingTileFunctions.java:102-105)") {
    val r = oneRow(
      BingTiles.tileX(lit(60.0), lit(15)), BingTiles.tileY(lit(30.12), lit(15)),
      BingTiles.tileX(lit(-0.002), lit(1)), BingTiles.tileY(lit(0.0), lit(1)),
      BingTiles.tileX(lit(0.0), lit(1)), BingTiles.tileY(lit(1.0 / 512), lit(1)),
      BingTiles.tileX(lit(0.0), lit(9)), BingTiles.tileY(lit(1.0 / 512), lit(9)))
    assert((r.getInt(0), r.getInt(1)) == (21845, 13506))
    assert((r.getInt(2), r.getInt(3)) == (0, 1))
    assert((r.getInt(4), r.getInt(5)) == (1, 0))
    assert((r.getInt(6), r.getInt(7)) == (256, 255))
  }

  test("quadkey round-trips (TestBingTileFunctions.java:79-83,120-123)") {
    val r = oneRow(
      BingTiles.quadkey(lit(3), lit(5), lit(3)),
      BingTiles.quadkey(lit(21845), lit(13506), lit(15)),
      BingTiles.quadkeyToX(lit("213")), BingTiles.quadkeyToY(lit("213")),
      BingTiles.quadkeyToX(lit("123030123010121")),
      BingTiles.quadkeyToY(lit("123030123010121")),
      BingTiles.quadkeyZoom(lit("123030123010121")))
    assert(r.getString(0) == "213")
    assert(r.getString(1) == "123030123010121")
    assert((r.getLong(2), r.getLong(3)) == (3L, 5L))
    assert((r.getLong(4), r.getLong(5)) == (21845L, 13506L))
    assert(r.getInt(6) == 15)
  }

  test("quadkey zoom 0: empty string round-trips to the world tile (r6 advisor)") {
    // sequence(0, 1, -1) would throw; the zoom-0 tile's quadkey is ''.
    val r = oneRow(
      BingTiles.quadkey(lit(0), lit(0), lit(0)),
      BingTiles.quadkeyToX(lit("")), BingTiles.quadkeyToY(lit("")),
      BingTiles.quadkeyZoom(lit("")))
    assert(r.getString(0) == "")
    assert((r.getLong(1), r.getLong(2)) == (0L, 0L))
    assert(r.getInt(3) == 0)
  }

  test("great_circle_distance matches reference vectors (TestGeoFunctions.java:794-797)") {
    val r = oneRow(
      BingTiles.greatCircleKm(lit(36.12), lit(-86.67), lit(33.94), lit(-118.40)),
      BingTiles.greatCircleKm(lit(33.94), lit(-118.40), lit(36.12), lit(-86.67)),
      BingTiles.greatCircleKm(lit(42.3601), lit(-71.0589), lit(42.4430), lit(-71.2290)),
      BingTiles.greatCircleKm(lit(36.12), lit(-86.67), lit(36.12), lit(-86.67)))
    assert(math.abs(r.getDouble(0) - 2886.448973436703) < 1e-9)
    assert(math.abs(r.getDouble(1) - 2886.448973436703) < 1e-9)
    assert(math.abs(r.getDouble(2) - 16.73469743457461) < 1e-9)
    assert(r.getDouble(3) == 0.0)
  }

  test("tile corners and polygon: world tile (0,0,1) covers the NW quadrant") {
    val r = oneRow(
      BingTiles.tileCornerLng(lit(0), lit(1)), BingTiles.tileCornerLng(lit(1), lit(1)),
      BingTiles.tileCornerLat(lit(0), lit(1)), BingTiles.tileCornerLat(lit(1), lit(1)),
      BingTiles.tilePolygonWkt(lit(0), lit(0), lit(1)))
    assert(r.getDouble(0) == -180.0)
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - BingTiles.MaxLatitude) < 1e-6)
    assert(math.abs(r.getDouble(3)) < 1e-12) // equator
    val wkt = r.getString(4)
    assert(wkt.startsWith("POLYGON ((-180.0 ") && wkt.contains(", 0.0 "))
  }

  test("bing_tiles_around clips at grid edges, never wraps (reference :186-196)") {
    val r = oneRow(
      size(BingTiles.tilesAround(lit(30.12), lit(60.0), lit(15))),
      // corner of the world: (-85.05.., -180) at z=3 -> 2x2 neighborhood
      size(BingTiles.tilesAround(lit(-85.05112878), lit(-180.0), lit(3))),
      // z=1 corner: the whole grid is 2x2, center tile is a corner -> 4
      size(BingTiles.tilesAround(lit(-85.05112878), lit(-180.0), lit(1))))
    assert(r.getInt(0) == 9)
    assert(r.getInt(1) == 4)
    assert(r.getInt(2) == 4)
  }

  test("join_geo_tile plans an equi-join on tile keys, no cartesian product") {
    graft.engine.Engine.registerTables(spark, "/root/testdata/sf0.001")
    val df = graft.queries.GeoQueries.queries.find(_.name == "join_geo_tile").get
      .build(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("line_locate_point matches reference vectors (TestGeoFunctions.java:407-416)") {
    import graft.functions.WktGeometry.lineLocatePoint
    def loc(wkt: String, x: Double, y: Double): Double =
      oneRow(lineLocatePoint(lit(wkt), lit(x), lit(y))).getDouble(0)
    assert(loc("LINESTRING (0 0, 0 1)", 0, 0.2) == 0.2)
    assert(loc("LINESTRING (0 0, 0 1)", 0, 0) == 0.0)
    assert(loc("LINESTRING (0 0, 0 1)", 0, -1) == 0.0)
    assert(loc("LINESTRING (0 0, 0 1)", 0, 1) == 1.0)
    assert(loc("LINESTRING (0 0, 0 1)", 0, 2) == 1.0)
    assert(loc("LINESTRING (0 0, 0 1, 2 1)", 0, 0.2) == 0.06666666666666667)
    assert(loc("LINESTRING (0 0, 0 1, 2 1)", 0.9, 1) == 0.6333333333333333)
    assert(loc("LINESTRING (1 3, 5 4)", 1, 3) == 0.0)
    assert(loc("LINESTRING (1 3, 5 4)", 2, 3) == 0.23529411764705882)
    assert(loc("LINESTRING (1 3, 5 4)", 5, 4) == 1.0)
  }

  test("ST_IsRing: open false, simple ring true, bowtie false (TestGeoFunctions.java:508-509)") {
    import graft.functions.WktGeometry.stIsRing
    val r = oneRow(
      stIsRing(lit("LINESTRING (8 4, 4 8)")),
      stIsRing(lit("LINESTRING (0 0, 1 1, 0 2, 0 0)")),
      stIsRing(lit("LINESTRING (0 0, 2 2, 2 0, 0 2, 0 0)")))
    assert(!r.getBoolean(0))
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2)) // proper self-crossing: not a ring
  }

  test("ST_NumPoints / ST_GeometryType / ST_IsEmpty vectors (TestGeoFunctions.java:480-497)") {
    import graft.functions.WktGeometry._
    val r = oneRow(
      stNumPoints(lit("POINT (1 2)")),
      stNumPoints(lit("LINESTRING (8 4, 5 7)")),
      stNumPoints(lit("POLYGON ((0 0, 8 0, 0 8, 0 0))")),
      stNumPoints(lit("LINESTRING EMPTY")),
      stGeometryType(lit("MULTIPOINT (1 2, 2 4)")),
      stIsEmpty(lit("POINT EMPTY")), stIsEmpty(lit("POINT (1 2)")))
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 2L)
    assert(r.getLong(2) == 3L) // ring-closing vertex not counted
    assert(r.getLong(3) == 0L)
    assert(r.getString(4) == "ST_MultiPoint")
    assert(r.getBoolean(5) && !r.getBoolean(6))
  }

  test("KDB tree: adaptive splits bound leaf occupancy; assignment is a partition") {
    import graft.operators.KdbTreeOps._
    // 900 points clustered in [0,1]^2 + 100 spread over [0,100]^2
    val pts = (Array.tabulate(900)(i => ((i % 30) / 30.0, (i / 30) / 30.0)) ++
      Array.tabulate(100)(i => ((i % 10) * 10.0 + 0.5, (i / 10) * 10.0 + 0.5)))
    val tree = build(pts, 64)
    assert(numLeaves(tree) >= 16) // 1000/64 -> at least ceil = 16 leaves
    assert(maxDepth(tree) <= 12)
    // occupancy: replaying the sample through leafOf respects capacity
    val occ = pts.groupBy(p => leafOf(tree, p._1, p._2)).map(_._2.length)
    assert(occ.max <= 64)
    // partition property: every point lands in exactly one leaf, and
    // leavesNear with r=0 always contains it
    for (p <- pts.take(50)) {
      assert(leavesNear(tree, p._1, p._2, 0.0).contains(leafOf(tree, p._1, p._2)))
    }
    // radius probe covers neighbors: a point near a split boundary with
    // a big radius must reach multiple leaves
    assert(leavesNear(tree, 0.5, 0.5, 50.0).size > 1)
  }

  test("join_spatial_kdb equals the grid join pair set; equi-join plan") {
    graft.engine.Engine.registerTables(spark, "/root/testdata/sf0.001")
    val q = graft.queries.GeoQueries.queries.find(_.name == "join_spatial_kdb").get
    val df = q.build(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    val kdbPairs = df.select("c_custkey", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // brute-force oracle twin in-Spark
    val pts = spark.table("customer").select(col("c_custkey"),
      ((col("c_custkey") % 100) * (col("c_custkey") % 100) / 100.0).as("px"),
      ((col("c_custkey") % 97) * (col("c_custkey") % 97) / 100.0).as("py"))
    val sites = spark.table("supplier").select(col("s_suppkey"),
      ((col("s_suppkey") % 100) * (col("s_suppkey") % 100) / 100.0).as("sx"),
      ((col("s_suppkey") % 97) * (col("s_suppkey") % 97) / 100.0).as("sy"))
    val brute = pts.crossJoin(sites)
      .filter(graft.operators.SpatialJoinOps.stDistance(
        col("px"), col("py"), col("sx"), col("sy")) <= 1.5)
      .select("c_custkey", "s_suppkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kdbPairs == brute)
  }

  test("DE-9IM box predicates: touches/overlaps/within/equals/intersection") {
    import graft.operators.SpatialJoinOps._
    def box(vals: (Double, Double, Double, Double)) =
      (lit(vals._1), lit(vals._2), lit(vals._3), lit(vals._4))
    val a = box((0, 0, 2, 2)); val edge = box((2, 0, 4, 2))
    val inner = box((0.5, 0.5, 1.5, 1.5)); val far = box((5, 5, 6, 6))
    val over = box((1, 1, 3, 3))
    val r = oneRow(
      stTouchesBoxes(a._1, a._2, a._3, a._4, edge._1, edge._2, edge._3, edge._4),
      stOverlapsBoxes(a._1, a._2, a._3, a._4, edge._1, edge._2, edge._3, edge._4),
      stOverlapsBoxes(a._1, a._2, a._3, a._4, over._1, over._2, over._3, over._4),
      stWithinBoxes(inner._1, inner._2, inner._3, inner._4, a._1, a._2, a._3, a._4),
      stOverlapsBoxes(inner._1, inner._2, inner._3, inner._4, a._1, a._2, a._3, a._4),
      stDisjointBoxes(a._1, a._2, a._3, a._4, far._1, far._2, far._3, far._4),
      stEqualsBoxes(a._1, a._2, a._3, a._4, a._1, a._2, a._3, a._4),
      stIntersectionBoxes(a._1, a._2, a._3, a._4, over._1, over._2, over._3, over._4).getField("xmin"),
      stIntersectionBoxes(a._1, a._2, a._3, a._4, far._1, far._2, far._3, far._4).isNull)
    assert(r.getBoolean(0)) // shared edge touches
    assert(!r.getBoolean(1)) // touching is not overlapping
    assert(r.getBoolean(2)) // partial overlap
    assert(r.getBoolean(3)) // containment
    assert(!r.getBoolean(4)) // contained is not overlapping
    assert(r.getBoolean(5))
    assert(r.getBoolean(6))
    assert(r.getDouble(7) == 1.0) // clip corner
    assert(r.getBoolean(8)) // disjoint -> null intersection
  }

  test("convex hull: monotone chain drops collinear/interior, canonical CCW, merge-stable") {
    import graft.functions.ConvexHullAgg.hull
    // unit square + interior + edge-midpoint + duplicate
    val pts = Array((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0),
      (1.0, 1.0), (1.0, 0.0), (0.0, 0.0))
    val h = hull(pts)
    assert(h.toSet == Set((0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)))
    assert(h.head == ((0.0, 0.0))) // canonical start: lexicographic min
    // orientation: CCW -> positive shoelace
    val area2 = h.indices.map { i =>
      val (x1, y1) = h(i); val (x2, y2) = h((i + 1) % h.length)
      x1 * y2 - x2 * y1
    }.sum
    assert(area2 == 8.0) // CCW positive, area 4
    // input-order independence (what merge-associativity reduces to,
    // since the buffer is always re-hulled): any permutation, same hull
    assert(hull(pts.reverse).toSeq == h.toSeq)
    assert(hull(scala.util.Random.shuffle(pts.toSeq).toArray).toSeq == h.toSeq)
    // collinear-only degenerates to the two endpoints
    assert(hull(Array((0.0, 0.0), (1.0, 1.0), (2.0, 2.0))).toSeq ==
      Seq((0.0, 0.0), (2.0, 2.0)))
  }

  test("convex_hull_agg is partitioning-invariant end to end") {
    graft.engine.Engine.registerTables(spark, "/root/testdata/sf0.001")
    val q = graft.queries.GeoQueries.queries.find(_.name == "agg_convex_hull").get
    val base = q.build(spark, "/root/testdata/sf0.001")
      .collect().map(_.toString).sorted.toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "1")
      val single = q.build(spark, "/root/testdata/sf0.001")
        .collect().map(_.toString).sorted.toSeq
      assert(single == base, "hull result depends on partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  test("polygon with holes: even-odd over rings excludes the hole interior") {
    import graft.operators.SpatialJoinOps._
    // annulus: outer diamond r=4 at (10,10), hole r=2
    val wkt = lit("POLYGON ((14.0 10, 10 14.0, 6.0 10, 10 6.0, 14.0 10), " +
      "(12.0 10, 10 12.0, 8.0 10, 10 8.0, 12.0 10))")
    val rings = parsePolygonRingsWkt(wkt)
    val r = spark.range(1).select(
      size(rings),
      pointInPolygonRings(rings, lit(10.0), lit(13.0)), // between rings: in
      pointInPolygonRings(rings, lit(10.0), lit(10.5)), // inside hole: out
      pointInPolygonRings(rings, lit(10.0), lit(10.0)), // hole center: out
      pointInPolygonRings(rings, lit(20.0), lit(20.0))) // outside: out
      .head()
    assert(r.getInt(0) == 2)
    assert(r.getBoolean(1))
    assert(!r.getBoolean(2))
    assert(!r.getBoolean(3))
    assert(!r.getBoolean(4))
  }

  test("native point_in_rings kernel matches an independent PNPOLY on random data") {
    import graft.operators.SpatialJoinOps._
    // independent scalar reference (classic PNPOLY, written against the
    // published Franklin formulation, not the expression under test)
    def refContains(rings: Seq[Seq[(Double, Double)]], px: Double, py: Double): Boolean = {
      var c = 0
      rings.foreach { pts =>
        var i = 1
        while (i < pts.length) {
          val (ax, ay) = pts(i - 1); val (bx, by) = pts(i)
          if (((ay > py) != (by > py)) && (px < (bx - ax) * (py - ay) / (by - ay) + ax)) c += 1
          i += 1
        }
      }
      c % 2 == 1
    }
    val rnd = new scala.util.Random(42)
    // random convex-ish stars: radial polygons around random centers,
    // sometimes with a similar hole
    val cases = (0 until 60).map { _ =>
      def ring(cx: Double, cy: Double, r: Double, n: Int): Seq[(Double, Double)] = {
        val pts = (0 until n).map { k =>
          val th = 2 * math.Pi * k / n
          val rr = r * (0.6 + 0.4 * rnd.nextDouble())
          (cx + rr * math.cos(th), cy + rr * math.sin(th))
        }
        pts :+ pts.head
      }
      val cx = rnd.nextDouble() * 20; val cy = rnd.nextDouble() * 20
      val outer = ring(cx, cy, 2 + 3 * rnd.nextDouble(), 5 + rnd.nextInt(8))
      val rings = if (rnd.nextBoolean()) Seq(outer, ring(cx, cy, 0.8, 5)) else Seq(outer)
      val px = cx + (rnd.nextDouble() - 0.5) * 10
      val py = cy + (rnd.nextDouble() - 0.5) * 10
      (rings, px, py, refContains(rings, px, py))
    }
    val wkts = cases.map { case (rings, px, py, exp) =>
      val body = rings.map(r => "(" + r.map(p => s"${p._1} ${p._2}").mkString(", ") + ")")
        .mkString(", ")
      (s"POLYGON ($body)", px, py, exp)
    }
    val s2 = spark
    import s2.implicits._
    val df = wkts.toDF("wkt", "px", "py", "expected")
    def run(): Seq[org.apache.spark.sql.Row] = df.select(
      pointInPolygonRings(parsePolygonRingsWkt(col("wkt")), col("px"), col("py")).as("got"),
      col("expected")).collect().toSeq
    // codegen path
    run().foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
    // interpreted path (nullSafeEval)
    val prev = spark.conf.get("spark.sql.codegen.wholeStage")
    val prevFb = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    try {
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      run().foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev)
      spark.conf.set("spark.sql.codegen.factoryMode", prevFb)
    }
  }

  test("native any_box_contains_point matches the struct-field disjunction") {
    import org.apache.spark.sql.graft.ColumnBridge
    val s2 = spark
    import s2.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { _ =>
      val boxes = (0 until 1 + rnd.nextInt(3)).map { _ =>
        val x0 = rnd.nextDouble() * 10; val y0 = rnd.nextDouble() * 10
        (x0, y0, x0 + rnd.nextDouble() * 3, y0 + rnd.nextDouble() * 3)
      }
      val px = rnd.nextDouble() * 12; val py = rnd.nextDouble() * 12
      val exp = boxes.exists(b => px >= b._1 && px <= b._3 && py >= b._2 && py <= b._4)
      (boxes, px, py, exp)
    }
    val df = rows.toDF("boxes", "px", "py", "expected")
      .withColumn("bb", expr(
        "transform(boxes, b -> struct(b._1 as xmin, b._2 as ymin, b._3 as xmax, b._4 as ymax))"))
    val got = df.select(
      ColumnBridge.column(graft.functions.AnyBoxContainsPoint(
        ColumnBridge.expression(col("bb")),
        ColumnBridge.expression(col("px")),
        ColumnBridge.expression(col("py")))).as("got"), col("expected")).collect()
    got.foreach(r => assert(r.getBoolean(0) == r.getBoolean(1), r))
  }

  test("join_spatial_polygon_holes plans an equi-join, no cartesian") {
    graft.engine.Engine.registerTables(spark, "/root/testdata/sf0.001")
    val df = graft.queries.GeoQueries.queries.find(_.name == "join_spatial_polygon_holes").get
      .build(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("SQL front door: great_circle_distance + bing tile scalars registered") {
    val d = spark.sql(
      "SELECT great_circle_distance(36.12, -86.67, 33.94, -118.40)").head().getDouble(0)
    assert(math.abs(d - 2886.448973436703) < 1e-9)
    val qk = spark.sql("SELECT bing_tile_quadkey(bing_tile_x(60.0, 15), bing_tile_y(30.12, 15), 15)")
      .head().getString(0)
    assert(qk == "123030123010121")
  }

  // ---- Geometry constructors (GeometryConstructors) ----

  test("st_convex_hull: interior/collinear points drop; degenerate kinds") {
    import graft.functions.GeometryConstructors._
    val h = stConvexHull("LINESTRING (4 0, 2 2, 0 0, 2 -2, 2 0, 3 0)")
    assert(h == "POLYGON ((0 0, 2 -2, 4 0, 2 2, 0 0))")
    assert(stConvexHull("POINT (3 7)") == "POINT (3 7)")
    assert(stConvexHull("LINESTRING (0 0, 1 1, 2 2)") == "LINESTRING (0 0, 2 2)")
  }

  test("simplify_geometry: Douglas-Peucker drops within-tolerance vertices only") {
    import graft.functions.GeometryConstructors._
    // collinear midpoints vanish at any tolerance > 0
    assert(simplifyGeometry("LINESTRING (0 0, 1 0, 2 0, 2 1, 2 2)", 0.01) ==
      "LINESTRING (0 0, 2 0, 2 2)")
    // a 0.5-deviation survives tol 0.4, dies at tol 0.6
    assert(simplifyGeometry("LINESTRING (0 0, 1 0.5, 2 0)", 0.4) ==
      "LINESTRING (0 0, 1 0.5, 2 0)")
    assert(simplifyGeometry("LINESTRING (0 0, 1 0.5, 2 0)", 0.6) == "LINESTRING (0 0, 2 0)")
    // ring simplification keeps closure; collapse below 3 vertices -> EMPTY
    assert(simplifyGeometry("POLYGON ((0 0, 1 0, 2 0, 2 2, 0 2, 0 0))", 0.1) ==
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert(simplifyGeometry("POLYGON ((0 0, 4 0.1, 8 0, 4 0.05, 0 0))", 0.5) == "POLYGON EMPTY")
  }

  test("st_buffer: point disc area/count; convex polygon grows by P*d + arc ring") {
    import graft.functions.GeometryConstructors._
    val disc = stBuffer("POINT (5 5)", 2.0)
    val discArea = wktArea(disc)
    // inscribed 32-gon: 16 r^2 sin(pi/16) < pi r^2
    assert(math.abs(discArea - 16 * 4 * math.sin(math.Pi / 16)) < 1e-9)
    assert(disc.startsWith("POLYGON"))
    // unit square buffered by 1: area = 1 + perimeter*1 + inscribed-circle ring
    val sq = stBuffer("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", 1.0)
    val a = wktArea(sq)
    assert(a > 1 + 4 && a <= 1 + 4 + math.Pi + 1e-9, s"area $a")
    // orientation-insensitive: CW input buffers identically
    val sqCw = stBuffer("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))", 1.0)
    assert(math.abs(wktArea(sqCw) - a) < 1e-12)
    intercept[IllegalArgumentException](stBuffer("POINT (0 0)", -1.0))
  }

  test("st_buffer non-convex: offset curve + outer-face walk, miter-overlap exact") {
    import graft.functions.GeometryConstructors._
    // L-shape, legs 4, one right-angle reflex vertex. Closed form with
    // sampled arcs (8 steps per quarter-circle at CircleSegments=32):
    //   A + P*d + 5 * (8/2) sin(pi/16) d^2  (5 convex corners)
    //   - d^2 * tan(pi/4)                    (reflex miter overlap)
    val L = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    val d = 0.5
    val buffered = stBuffer(L, d)
    val expected = 12.0 + 16.0 * d + 20.0 * math.sin(math.Pi / 16) * d * d - d * d
    assert(math.abs(wktArea(buffered) - expected) < 1e-9,
      s"got ${wktArea(buffered)} want $expected")
    // the result ring contains the original polygon entirely
    assert(wktArea(buffered) > 12.0 + 16.0 * d)
    // W-zigzag with two reflex vertices: area grows monotonically with d
    // and stays below the convex-hull buffer (sanity envelope)
    val W = "POLYGON ((0 0, 6 0, 6 3, 4.5 1.5, 3 3, 1.5 1.5, 0 3, 0 0))"
    val aSmall = wktArea(stBuffer(W, 0.25))
    val aBig = wktArea(stBuffer(W, 0.5))
    val wArea = wktArea(W)
    assert(aSmall > wArea && aBig > aSmall, s"$wArea $aSmall $aBig")
    val hullBuf = wktArea(stBuffer(stConvexHull(W), 0.5))
    assert(aBig < hullBuf, s"buffer must not exceed the hull's buffer: $aBig vs $hullBuf")
    // orientation-insensitive
    val Lcw = "POLYGON ((0 0, 0 4, 2 4, 2 2, 4 2, 4 0, 0 0))"
    assert(math.abs(wktArea(stBuffer(Lcw, d)) - expected) < 1e-9)
  }

  test("st_is_valid / geometry_invalid_reason: rule per defect class") {
    import graft.functions.GeometryConstructors._
    assert(stIsValid("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"))
    assert(invalidReason("POINT (1 2)") == null)
    assert(invalidReason("LINESTRING (0 0)") == "LineString has too few points")
    assert(invalidReason("POLYGON ((0 0, 4 0, 4 4, 0 4))") == "Ring is not closed")
    assert(invalidReason("POLYGON ((0 0, 2 2, 0 0))") == "Polygon ring has too few points")
    assert(invalidReason("POLYGON ((0 0, 0 0, 4 0, 4 4, 0 0))")
      == "Degenerate ring: repeated consecutive points")
    assert(invalidReason("POLYGON ((0 0, 2 2, 4 4, 0 0))") == "Degenerate ring: zero area")
    // bowtie: proper crossing between edges 0 and 2 (and signed area 0 —
    // self-intersection must win the diagnosis)
    assert(invalidReason("POLYGON ((0 0, 4 4, 4 0, 0 4, 0 0))")
      == "Self-intersection between ring edges 0 and 2")
    // endpoint touching is legal adjacency, not self-intersection
    assert(stIsValid("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"))
  }

  test("validity diagnoses malformed WKT instead of throwing (r7 advice)") {
    import graft.functions.GeometryConstructors._
    // missing '((' — previously StringIndexOutOfBounds
    assert(Option(invalidReason("POLYGON (0 0, 1 1, 0 0)")).exists(_.startsWith("Invalid WKT")))
    // EMPTY — previously NumberFormatException
    assert(invalidReason("POLYGON EMPTY") == null)
    assert(invalidReason("POINT EMPTY") == null)
    assert(Option(invalidReason("garbage")).exists(_.startsWith("Invalid WKT")))
    assert(Option(invalidReason("POLYGON ((a b, c d))")).exists(_.startsWith("Invalid WKT")))
    assert(!stIsValid("POLYGON (0 0, 1 1, 0 0)"))
    // interior rings are validated too
    assert(invalidReason(
      "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 4 2, 4 4, 2 4))")
      == "Interior ring 1 is not closed")
    assert(stIsValid(
      "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"))
  }

  test("interior rings: hole-aware area/simplify; buffer dilates shell + erodes convex holes") {
    import graft.functions.GeometryConstructors._
    val holed = "POLYGON ((0 0, 4 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))"
    // annulus area: 64 - 16
    assert(wktArea(holed) == 48.0)
    // simplify drops the collinear midpoint (4 0) but PRESERVES the hole
    val simp = simplifyGeometry(holed, 0.1)
    assert(simp == "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 6, 2 6, 2 2))", simp)
    assert(wktArea(simp) == 48.0)
    // a hole collapsing below the tolerance is dropped, not corrupted
    val tinyHole = "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (4 4, 4.01 4, 4 4.01, 4 4))"
    assert(simplifyGeometry(tinyHole, 0.1) == "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))")
    // r8: buffer ACCEPTS holed input — shell dilates, convex holes erode
    // by exactly d (buffer(S\H) = buffer(S) \ erode(H, d))
    val buffered = stBuffer(holed, 1.0)
    val shellOnly = stBuffer("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))", 1.0)
    // hole [2,6]^2 erodes to [3,5]^2 (area 4)
    assert(math.abs(wktAreaMulti(buffered) - (wktAreaMulti(shellOnly) - 4.0)) < 1e-9)
    assert(buffered.count(_ == '(') == 3, buffered) // hole ring present
    // a hole narrower than 2d vanishes
    assert(math.abs(wktAreaMulti(stBuffer(holed, 2.0)) - wktAreaMulti(
      stBuffer("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))", 2.0))) < 1e-9)
    // NON-CONVEX holes erode morphologically (r8 erodeRing: boundary
    // strip subtracted through the region layer). L-shaped hole
    // [2,6]^2 minus its NE quadrant, eroded by 0.5: the rectilinear
    // shrink (area 5) plus the reflex-corner region between the
    // erosion arc and the corner square (1/4 - pi/16) - closed form
    // 5.25 - pi/16, to arc-sampling tolerance.
    val lHoled =
      "POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0), (2 2, 6 2, 6 4, 4 4, 4 6, 2 6, 2 2))"
    val lBuffered = stBuffer(lHoled, 0.5)
    val expectedHole = 5.25 - math.Pi / 16
    assert(math.abs(wktAreaMulti(lBuffered) -
      (wktAreaMulti(stBuffer("POLYGON ((0 0, 8 0, 8 8, 0 8, 0 0))", 0.5)) - expectedHole)) < 1e-2,
      lBuffered.take(120))
    // the exact convex-clip path still fails loudly on holed input
    intercept[IllegalArgumentException](
      stIntersectionConvex(holed, "POLYGON ((0 0, 9 0, 9 9, 0 9, 0 0))"))
    // hull over all vertices is unaffected by holes
    assert(wktArea(stConvexHull(holed)) == 64.0)
  }

  test("overlay ops: union/difference/symdifference with holes, multiparts, containment") {
    import graft.functions.GeometryConstructors._
    def sq(x0: Double, y0: Double, s: Double) =
      s"POLYGON (($x0 $y0, ${x0 + s} $y0, ${x0 + s} ${y0 + s}, $x0 ${y0 + s}, $x0 $y0))"
    val a = sq(0, 0, 2); val b = sq(1, 1, 2)
    // inclusion-exclusion on overlapping squares (intersection = 1)
    assert(wktAreaMulti(stUnion(a, b)) == 7.0)
    assert(wktAreaMulti(stDifference(a, b)) == 3.0)
    assert(wktAreaMulti(stSymDifference(a, b)) == 6.0)
    // containment / disjoint policies
    assert(wktAreaMulti(stUnion(a, sq(0.5, 0.5, 0.5))) == 4.0)          // inner absorbed
    val dis = stUnion(a, sq(100, 100, 2))
    assert(dis.startsWith("MULTIPOLYGON") && wktAreaMulti(dis) == 8.0)  // disjoint keeps both
    assert(stDifference(sq(1.2, 1.2, 0.5), b) == "POLYGON EMPTY")       // A inside B
    assert(wktAreaMulti(stDifference(a, sq(100, 100, 2))) == 4.0)       // disjoint keeps A
    // interior clip -> POLYGON with a hole, ring-aware area
    val holed = stDifference(sq(0, 0, 4), sq(1, 1, 1))
    assert(holed.startsWith("POLYGON ((") && holed.count(_ == '(') == 3, holed)
    assert(wktAreaMulti(holed) == 15.0)
    // non-convex pair (GH path): L areas 12 each, intersection 5
    val l1 = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    val l2 = "POLYGON ((1 1, 5 1, 5 3, 3 3, 3 5, 1 5, 1 1))"
    assert(math.abs(wktAreaMulti(stUnion(l1, l2)) - 19.0) < 1e-9)
    assert(math.abs(wktAreaMulti(stDifference(l1, l2)) - 7.0) < 1e-9)
    assert(math.abs(wktAreaMulti(stSymDifference(l1, l2)) - 14.0) < 1e-9)
    // interlocking frame halves: union = 4x4 square with 2x2 hole —
    // exercises the shell/hole classifier AND the collinear-edge joggle
    val fa = "POLYGON ((0 0, 4 0, 4 4, 3 4, 3 1, 0 1, 0 0))"
    val fb = "POLYGON ((0 0, 1 0, 1 3, 4 3, 4 4, 0 4, 0 0))"
    val frame = stUnion(fa, fb)
    assert(frame.startsWith("POLYGON ((") && frame.count(_ == '(') == 3, frame)
    assert(math.abs(wktAreaMulti(frame) - 12.0) < 1e-6)
  }

  test("overlay ops accept HOLED and MULTIPOLYGON inputs (r8 region layer)") {
    import graft.functions.GeometryConstructors._
    // A = [0,6]^2 with hole [2,4]^2 (area 32); B = [3,9]^2 with hole
    // [7,8]^2 (area 35). Closed forms by inclusion-exclusion:
    val a = "POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (2 2, 4 2, 4 4, 2 4, 2 2))"
    val b = "POLYGON ((3 3, 9 3, 9 9, 3 9, 3 3), (7 7, 8 7, 8 8, 7 8, 7 7))"
    assert(math.abs(wktAreaMulti(stIntersection(a, b)) - 8.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stUnion(a, b)) - 59.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stDifference(a, b)) - 24.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stDifference(b, a)) - 27.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stSymDifference(a, b)) - 51.0) < 1e-6)
    // holed vs simple: hole survives where the other side doesn't cover it
    val c = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))" // area 4, covers [2,3]^2 of the hole... no: c=[1,3]^2
    assert(math.abs(wktAreaMulti(stIntersection(a, c)) - 3.0) < 1e-6) // 4 - [2,3]^2 overlap 1
    assert(math.abs(wktAreaMulti(stUnion(a, c)) - 33.0) < 1e-6)      // 36 - (hole \ c) = 36 - 3
    assert(math.abs(wktAreaMulti(stDifference(a, c)) - 29.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stDifference(c, a)) - 1.0) < 1e-6)  // c ∩ hole
    // MULTIPOLYGON round-trip: a union OUTPUT feeds back in as an input
    val m = stUnion("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((3 0, 4 0, 4 1, 3 1, 3 0))")
    assert(m.startsWith("MULTIPOLYGON"))
    val strip = "POLYGON ((-1 -0.25, 10 -0.25, 10 0.5, -1 0.5, -1 -0.25))"
    assert(math.abs(wktAreaMulti(stIntersection(m, strip)) - 1.0) < 1e-6)
    assert(math.abs(wktAreaMulti(stUnion(m, strip)) - (2.0 + 8.25 - 1.0)) < 1e-6)
    assert(math.abs(wktAreaMulti(stDifference(m, strip)) - 1.0) < 1e-6)
    // holed output of the region layer round-trips too
    val holedOut = stDifference(a, b) // L-shaped with the [2,4]^2 hole bites
    assert(math.abs(wktAreaMulti(stIntersection(holedOut, a)) - 24.0) < 1e-6)
  }

  test("st_intersection general: Greiner-Hormann on non-convex pairs, multi-part results") {
    import graft.functions.GeometryConstructors._
    // L-shape (area 12: 4x4 minus 2x2 notch at top-right) clipped by a
    // non-convex chevron; first sanity: L vs plain rect uses the convex
    // dispatch and is exact
    val L = "POLYGON ((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    assert(wktAreaMulti(stIntersection(L, "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))")) == 12.0)
    // L ∩ L-shifted-by-(1,1) (both non-convex -> GH path):
    // ([0,4]x[0,2] ∪ [0,2]x[2,4]) ∩ ([1,5]x[1,3] ∪ [1,3]x[3,5])
    //  = [1,4]x[1,2] ∪ [1,2]x[2,4]  -> 3 + 2 = 5, one L-shaped part
    val L2 = "POLYGON ((1 1, 5 1, 5 3, 3 3, 3 5, 1 5, 1 1))"
    val inter = stIntersection(L, L2)
    assert(math.abs(wktAreaMulti(inter) - 5.0) < 1e-9, s"$inter")
    // U-shape vs horizontal bar crossing its two prongs: TWO parts
    val U = "POLYGON ((0 0, 6 0, 6 6, 4 6, 4 2, 2 2, 2 6, 0 6, 0 0))"
    val bar = "POLYGON ((-1 3, 7 3, 7 5, 3 5, 3 4.5, -1 4.5, -1 3))" // non-convex bar
    val parts = graft.functions.PolygonClip.intersect(
      Array((0.0,0.0),(6.0,0.0),(6.0,6.0),(4.0,6.0),(4.0,2.0),(2.0,2.0),(2.0,6.0),(0.0,6.0)),
      Array((-1.0,3.0),(7.0,3.0),(7.0,5.0),(3.0,5.0),(3.0,4.5),(-1.0,4.5),(-1.0,3.0)))
    assert(parts.length == 2, s"expected 2 parts, got ${parts.length}")
    // left prong [0,2]x: bar covers y in [3,4.5] -> 2x1.5 = 3
    // right prong [4,6]x: bar covers y in [3,5] -> 2x2 = 4
    val areas = parts.map(r => wktArea(
      "POLYGON ((" + (r :+ r.head).map(p => s"${p._1} ${p._2}").mkString(", ") + "))")).sorted
    assert(math.abs(areas(0) - 3.0) < 1e-9 && math.abs(areas(1) - 4.0) < 1e-9, areas.toSeq)
    // disjoint and containment fall out of the no-intersection branch
    assert(stIntersection(L, "POLYGON ((10 10, 12 10, 12 14, 10.5 12, 10 14, 10 10))") == "POLYGON EMPTY")
    val tiny = "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.2, 1.0 0.9, 0.5 1.2, 0.5 0.5))" // non-convex, inside L
    assert(math.abs(wktAreaMulti(stIntersection(L, tiny)) - wktArea(tiny)) < 1e-12)
    // degenerate (shared vertex) raises loudly at the algorithm level...
    intercept[IllegalArgumentException](
      graft.functions.PolygonClip.intersect(
        Array((0.0,0.0),(4.0,0.0),(4.0,2.0),(2.0,2.0),(2.0,4.0),(0.0,4.0)),
        Array((4.0,2.0),(6.0,2.0),(6.0,6.0),(5.0,4.0),(4.0,6.0))))
    // ...but st_intersection joggles the clip and still answers: two
    // non-convex pentagons sharing vertex (4,2) barely overlap -> ~0
    val touching = stIntersection(L,
      "POLYGON ((4 2, 6 2, 6 6, 5 4, 4 6, 4 2))")
    assert(wktAreaMulti(touching) < 1e-6, touching)
    // vertex-on-edge degeneracy: non-convex clip with a vertex ON the
    // subject's edge x=4 still intersects correctly (area ~ 1)
    val vOnEdge = stIntersection(L,
      "POLYGON ((3 0.5, 4 1, 5 0.5, 5 3.5, 4.5 2.5, 3 3.5, 3 0.5))")
    val a2 = wktAreaMulti(vOnEdge)
    assert(a2 > 0.5 && a2 < 3.0, s"joggled intersection area $a2")
  }

  test("st_intersection_convex: Sutherland-Hodgman exact on rectangles/diamonds") {
    import graft.functions.GeometryConstructors._
    // overlapping unit squares offset by 0.5 -> 0.25 area
    val i1 = stIntersectionConvex(
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))")
    assert(math.abs(wktArea(i1) - 0.25) < 1e-12)
    // diamond clipped to its lower-left quarter-plane box: r^2/2
    val i2 = stIntersectionConvex(
      "POLYGON ((2 0, 0 2, -2 0, 0 -2, 2 0))",
      "POLYGON ((-2 -2, 0 -2, 0 0, -2 0, -2 -2))")
    assert(math.abs(wktArea(i2) - 2.0) < 1e-12)
    // disjoint -> EMPTY
    assert(stIntersectionConvex(
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))") == "POLYGON EMPTY")
    // subject fully inside clip -> subject area
    val i3 = stIntersectionConvex(
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
      "POLYGON ((-5 -5, 5 -5, 5 5, -5 5, -5 -5))")
    assert(math.abs(wktArea(i3) - 1.0) < 1e-12)
  }

  test("exact overlay resolves every degenerate position without perturbation") {
    import graft.functions.ExactOverlay
    import graft.functions.ExactOverlay.{OpDifference, OpIntersect, OpUnion}
    type Pt = (Double, Double)
    def area(r: Array[Pt]): Double = {
      var s = 0.0
      r.indices.foreach { i =>
        val a = r(i); val b = r((i + 1) % r.length)
        s += a._1 * b._2 - b._1 * a._2
      }
      s / 2
    }
    def areas(rings: Seq[Array[Pt]]): Seq[Double] = rings.map(area).sorted
    val sq = Array((0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0))
    // EXACT equality throughout — the joggle this replaces could only
    // promise |err| <= 1e-9 * perimeter.
    // shared full edge: interiors disjoint, union seamless
    val right = sq.map(p => (p._1 + 1.0, p._2))
    assert(ExactOverlay.run(OpIntersect, sq, right).isEmpty)
    assert(areas(ExactOverlay.run(OpUnion, sq, right)) == Seq(2.0))
    assert(areas(ExactOverlay.run(OpDifference, sq, right)) == Seq(1.0))
    // shared single vertex: union = two shells (pinch point), not one
    val diag = sq.map(p => (p._1 + 1.0, p._2 + 1.0))
    assert(ExactOverlay.run(OpIntersect, sq, diag).isEmpty)
    assert(areas(ExactOverlay.run(OpUnion, sq, diag)) == Seq(1.0, 1.0))
    // T-touch: triangle vertex ON the square's top edge interior
    val tri = Array((0.5, 1.0), (1.5, 2.0), (-0.5, 2.0))
    assert(areas(ExactOverlay.run(OpUnion, sq, tri)) == Seq(1.0, 1.0))
    assert(areas(ExactOverlay.run(OpDifference, sq, tri)) == Seq(1.0))
    // collinear PARTIAL edge overlap
    val partB = Array((0.5, 1.0), (1.5, 1.0), (1.5, 2.0), (0.5, 2.0))
    assert(ExactOverlay.run(OpIntersect, sq, partB).isEmpty)
    assert(areas(ExactOverlay.run(OpUnion, sq, partB)) == Seq(2.0))
    // band with T-touch endpoints + both vertical edges collinear-overlapping
    val band = Array((0.0, 0.5), (1.0, 0.5), (1.0, 1.5), (0.0, 1.5))
    assert(areas(ExactOverlay.run(OpIntersect, sq, band)) == Seq(0.5))
    assert(areas(ExactOverlay.run(OpUnion, sq, band)) == Seq(1.5))
    assert(areas(ExactOverlay.run(OpDifference, sq, band)) == Seq(0.5))
    // non-degenerate cross-check against the double-precision GH path
    // (absolute areas: GH's trace direction differs per op, and the
    // downstream classifier is orientation-agnostic)
    def absAreas(rings: Seq[Array[Pt]]): Seq[Double] = rings.map(r => math.abs(area(r))).sorted
    val off = sq.map(p => (p._1 + 0.5, p._2 + 0.5))
    assert(absAreas(ExactOverlay.run(OpIntersect, sq, off)) ==
      absAreas(graft.functions.PolygonClip.intersect(sq, off)))
    assert(absAreas(ExactOverlay.run(OpUnion, sq, off)) ==
      absAreas(graft.functions.PolygonClip.union(sq, off)))
    // end to end: the UDFs route degenerate input through the exact path
    val r = spark.range(1).selectExpr(
      "st_wkt_area(st_union('POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))', " +
        "'POLYGON ((2 0, 4 0, 4 2, 2 2, 2 0))')) AS a").head().getDouble(0)
    assert(r == 8.0, s"edge-sharing union must be exactly 8.0, got $r")
  }
}
