package graft.queries

import org.apache.spark.sql.functions._

/** Join operator coverage — the reference's three join machines and all
  * semantics they serve (SURVEY §2.3):
  * hash join INNER/LEFT/RIGHT/FULL (operator/LookupJoinOperator.java:53,
  * plan/JoinNode.java:178), semi/anti (HashSemiJoinOperator.java:32,
  * SetBuilderOperator.java:36), nested-loop cross + theta
  * (NestedLoopJoinOperator.java:36), broadcast vs partitioned distribution
  * (plan/JoinNode.java:172).
  *
  * Spark-first: equi joins shuffle both sides on the key once (or
  * broadcast the dim); theta joins use BroadcastNestedLoopJoin with the
  * small side broadcast. At 100 TB the fact-fact joins (lineitem-orders)
  * hash-partition; everything else broadcasts.
  */
object JoinQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    Q.sameSql("join_inner_dims",
      """SELECT s_name, n_name, r_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey""".stripMargin),

    Q.sameSql("join_left_outer",
      """SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS order_cnt
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey""".stripMargin),

    Q.sameSql("join_right_outer",
      """SELECT p_partkey, CAST(count(l_orderkey) AS BIGINT) AS li_cnt
        |FROM lineitem RIGHT JOIN part ON l_partkey = p_partkey
        |GROUP BY p_partkey""".stripMargin),

    Q.sameSql("join_full_outer",
      """SELECT coalesce(c.nk, s.nk) AS nationkey, c.customers AS customers, s.suppliers AS suppliers
        |FROM (SELECT c_nationkey AS nk, CAST(count(*) AS BIGINT) AS customers FROM customer GROUP BY 1) c
        |FULL JOIN (SELECT s_nationkey AS nk, CAST(count(*) AS BIGINT) AS suppliers FROM supplier GROUP BY 1) s
        |  ON c.nk = s.nk""".stripMargin),

    Q.sameSql("join_semi",
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')""".stripMargin),

    Q.sameSql("join_anti",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    Q.sameSql("join_cross",
      """SELECT r_name, n_name FROM region CROSS JOIN nation""".stripMargin),

    // Theta (non-equi) band join — nested-loop in the reference; Spark
    // broadcasts the 10-row supplier side (BroadcastNestedLoopJoin).
    Q.sameSql("join_theta_band",
      """SELECT s_suppkey, c_custkey FROM supplier JOIN customer
        |ON c_acctbal BETWEEN s_acctbal - 50 AND s_acctbal + 50""".stripMargin),

    // The same band join decomposed to an EQUI-join on width-sized bins
    // (RangeJoinOps) — the scale path: Spark plans the bare predicate
    // above as BroadcastNestedLoopJoin (O(n·m), broadcast-bounded);
    // binning turns it into one hash shuffle per side. Same rows out.
    Q("join_range_binned",
      """SELECT s_suppkey, c_custkey FROM supplier JOIN customer
        |ON c_acctbal BETWEEN s_acctbal - 50 AND s_acctbal + 50""".stripMargin) { (s, _) =>
      graft.operators.RangeJoinOps.bandJoin(
        s.table("supplier"), s.table("customer"), "s_acctbal", "c_acctbal", 50.0)
        .select("s_suppkey", "c_custkey")
    },

    // Self-join with inequality: pairs of orders by the same customer
    // where the first strictly precedes the second.
    Q.sameSql("join_self_inequality",
      """SELECT o1.o_custkey AS custkey, CAST(count(*) AS BIGINT) AS pair_cnt
        |FROM orders o1 JOIN orders o2
        |  ON o1.o_custkey = o2.o_custkey
        | AND o1.o_orderdate < o2.o_orderdate
        |GROUP BY o1.o_custkey""".stripMargin),

    // As-of join (AsOfJoinOps): each click carries the most recent prior
    // same-user 'view' value — union + running-last window, ONE shuffle,
    // no range explosion. DuckDB recomputes with its native ASOF JOIN.
    // The right side is deduped per (user, ts) so the at-or-before pick
    // is unique in both engines.
    Q("join_asof",
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, ts, max(value) AS vval
        |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts)
        |SELECT CAST(c.user_id AS BIGINT) AS user_id,
        |  CAST(c.event_id AS BIGINT) AS event_id, v.vval
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.ts <= c.ts""".stripMargin) { (s, _) =>
      val clicks = s.table("events").filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val views = s.table("events").filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max("value").as("vval"))
      graft.operators.AsOfJoinOps.asofJoin(clicks, views, "user_id", "ts", "ts")
        .select("user_id", "event_id", "vval")
    },

    // Spatial distance join (SpatialJoinOps) — the reference's
    // SpatialJoinOperator.java:40 R-tree probe as a grid-binned
    // equi-join. Points are derived deterministically from keys
    // (integer modular arithmetic, identical in both engines); the
    // oracle recomputes with a brute-force theta join — the engine side
    // must produce the identical pair set from 9 bounded cell buckets.
    Q("join_spatial_grid",
      """WITH pts AS (
        |  SELECT c_custkey, (c_custkey * 7919 % 10000) / 100.0 AS x,
        |         (c_custkey * 104729 % 10000) / 100.0 AS y FROM customer),
        |sites AS (
        |  SELECT s_suppkey, (s_suppkey * 15485863 % 10000) / 100.0 AS x,
        |         (s_suppkey * 32452843 % 10000) / 100.0 AS y FROM supplier)
        |SELECT p.c_custkey, st.s_suppkey,
        |  sqrt((p.x - st.x) * (p.x - st.x) + (p.y - st.y) * (p.y - st.y)) AS dist
        |FROM pts p, sites st
        |WHERE sqrt((p.x - st.x) * (p.x - st.x) + (p.y - st.y) * (p.y - st.y)) <= 1.5""".stripMargin) { (s, _) =>
      val pts = s.table("customer").select(col("c_custkey"),
        (col("c_custkey") * 7919 % 10000 / 100.0).as("px"),
        (col("c_custkey") * 104729 % 10000 / 100.0).as("py"))
      val sites = s.table("supplier").select(col("s_suppkey"),
        (col("s_suppkey") * 15485863 % 10000 / 100.0).as("sx"),
        (col("s_suppkey") * 32452843 % 10000 / 100.0).as("sy"))
      graft.operators.SpatialJoinOps.distanceJoin(pts, "px", "py", sites, "sx", "sy", 1.5)
        .select("c_custkey", "s_suppkey", "dist")
    },

    // ST_Contains(box, point) join (GeoFunctions.java stContains +
    // ExtractSpatialJoins.java) — supplier-derived envelopes containing
    // customer-derived points, via the duplicate-free grid equi-join
    // (SpatialJoinOps.containsJoin). Brute-force theta-join oracle.
    Q("join_spatial_contains",
      """WITH boxes AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 7127 % 9000) / 100.0 + 5 - (1.0 + (s_suppkey % 8) / 2.0) AS xmin,
        |    (s_suppkey * 48611 % 9000) / 100.0 + 5 - (1.0 + (s_suppkey % 5) / 2.0) AS ymin,
        |    (s_suppkey * 7127 % 9000) / 100.0 + 5 + (1.0 + (s_suppkey % 8) / 2.0) AS xmax,
        |    (s_suppkey * 48611 % 9000) / 100.0 + 5 + (1.0 + (s_suppkey % 5) / 2.0) AS ymax
        |  FROM supplier),
        |pts AS (
        |  SELECT c_custkey, (c_custkey * 7919 % 10000) / 100.0 AS px,
        |         (c_custkey * 104729 % 10000) / 100.0 AS py FROM customer)
        |SELECT b.s_suppkey, p.c_custkey
        |FROM boxes b, pts p
        |WHERE p.px >= b.xmin AND p.px <= b.xmax AND p.py >= b.ymin AND p.py <= b.ymax""".stripMargin) { (s, _) =>
      val cx = col("s_suppkey") * 7127 % 9000 / 100.0 + 5
      val cy = col("s_suppkey") * 48611 % 9000 / 100.0 + 5
      val hw = (col("s_suppkey") % 8) / 2.0 + 1.0
      val hh = (col("s_suppkey") % 5) / 2.0 + 1.0
      val boxes = s.table("supplier").select(col("s_suppkey"),
        (cx - hw).as("xmin"), (cy - hh).as("ymin"), (cx + hw).as("xmax"), (cy + hh).as("ymax"))
      val pts = s.table("customer").select(col("c_custkey"),
        (col("c_custkey") * 7919 % 10000 / 100.0).as("px"),
        (col("c_custkey") * 104729 % 10000 / 100.0).as("py"))
      graft.operators.SpatialJoinOps
        .containsJoin(boxes, "xmin", "ymin", "xmax", "ymax", pts, "px", "py", 10.0)
        .select("s_suppkey", "c_custkey")
    },

    // ST_Contains(polygon, point) join over WKT polygons
    // (GeoFunctions.java stContains on real geometries, not just
    // envelopes): supplier-derived diamond rings serialized to WKT, then
    // parsed back, grid-binned by envelope, and refined by ray casting —
    // the oracle recomputes with a brute-force |dx|+|dy| < r diamond
    // test from the centers, fully independent of the WKT/ray-cast path.
    // Coordinates are exact dyadic rationals (x = odd/16, y = odd/32 vs
    // integer centers and radii), so |dx|+|dy| is odd/32 and can never
    // equal the integer radius: NO point ever sits on a polygon
    // boundary, in either engine, at any SF — the strict `<` oracle and
    // the even-odd refine provably agree (boundary points are not
    // contained by ST_Contains, so the data dodges the only ambiguity).
    Q("join_spatial_polygon",
      """WITH polys AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 13) % 35 + 2 AS cx,
        |    (s_suppkey * 29) % 35 + 2 AS cy,
        |    2 + s_suppkey % 3 AS r
        |  FROM supplier),
        |pts AS (
        |  SELECT c_custkey,
        |    ((c_custkey * 7) % 320) / 8.0 + 0.0625 AS px,
        |    ((c_custkey * 11) % 320) / 8.0 + 0.03125 AS py
        |  FROM customer)
        |SELECT p.s_suppkey, q.c_custkey
        |FROM polys p, pts q
        |WHERE abs(q.px - p.cx) + abs(q.py - p.cy) < p.r""".stripMargin) { (s, _) =>
      val cx = col("s_suppkey") * 13 % 35 + 2
      val cy = col("s_suppkey") * 29 % 35 + 2
      val r = col("s_suppkey") % 3 + 2
      val polys = s.table("supplier").select(col("s_suppkey"),
        concat(lit("POLYGON (("),
          cx + r, lit(" "), cy, lit(", "),
          cx, lit(" "), cy + r, lit(", "),
          cx - r, lit(" "), cy, lit(", "),
          cx, lit(" "), cy - r, lit(", "),
          cx + r, lit(" "), cy, lit("))")).as("wkt"))
      val pts = s.table("customer").select(col("c_custkey"),
        (col("c_custkey") * 7 % 320 / 8.0 + 0.0625).as("px"),
        (col("c_custkey") * 11 % 320 / 8.0 + 0.03125).as("py"))
      // cellSize 4 vs max diamond envelope edge 8: ~2x more polygon
      // replication buys ~4x fewer cell-local candidate pairs through
      // the (interpreted) ray-cast refine — measured faster end-to-end.
      graft.operators.SpatialJoinOps
        .containsPolygonJoin(polys, "wkt", pts, "px", "py", 4.0)
        .select("s_suppkey", "c_custkey")
    },

    // ST_Intersects(boxA, boxB) join (GeoFunctions.java stIntersects) —
    // part-derived vs supplier-derived envelopes; report-cell refine
    // keeps each overlapping pair exactly once with no distinct().
    Q("join_spatial_intersects",
      """WITH pa AS (
        |  SELECT p_partkey,
        |    (p_partkey * 32452867 % 9000) / 100.0 + 5 - (0.5 + (p_partkey % 6) / 2.0) AS xmin,
        |    (p_partkey * 49979687 % 9000) / 100.0 + 5 - (0.5 + (p_partkey % 7) / 2.0) AS ymin,
        |    (p_partkey * 32452867 % 9000) / 100.0 + 5 + (0.5 + (p_partkey % 6) / 2.0) AS xmax,
        |    (p_partkey * 49979687 % 9000) / 100.0 + 5 + (0.5 + (p_partkey % 7) / 2.0) AS ymax
        |  FROM part),
        |sb AS (
        |  SELECT s_suppkey,
        |    (s_suppkey * 7127 % 9000) / 100.0 + 5 - (1.0 + (s_suppkey % 8) / 2.0) AS xmin,
        |    (s_suppkey * 48611 % 9000) / 100.0 + 5 - (1.0 + (s_suppkey % 5) / 2.0) AS ymin,
        |    (s_suppkey * 7127 % 9000) / 100.0 + 5 + (1.0 + (s_suppkey % 8) / 2.0) AS xmax,
        |    (s_suppkey * 48611 % 9000) / 100.0 + 5 + (1.0 + (s_suppkey % 5) / 2.0) AS ymax
        |  FROM supplier)
        |SELECT a.p_partkey, b.s_suppkey
        |FROM pa a, sb b
        |WHERE a.xmin <= b.xmax AND b.xmin <= a.xmax
        |  AND a.ymin <= b.ymax AND b.ymin <= a.ymax""".stripMargin) { (s, _) =>
      val acx = col("p_partkey") * 32452867 % 9000 / 100.0 + 5
      val acy = col("p_partkey") * 49979687 % 9000 / 100.0 + 5
      val ahw = (col("p_partkey") % 6) / 2.0 + 0.5
      val ahh = (col("p_partkey") % 7) / 2.0 + 0.5
      val pa = s.table("part").select(col("p_partkey"),
        (acx - ahw).as("axmin"), (acy - ahh).as("aymin"),
        (acx + ahw).as("axmax"), (acy + ahh).as("aymax"))
      val bcx = col("s_suppkey") * 7127 % 9000 / 100.0 + 5
      val bcy = col("s_suppkey") * 48611 % 9000 / 100.0 + 5
      val bhw = (col("s_suppkey") % 8) / 2.0 + 1.0
      val bhh = (col("s_suppkey") % 5) / 2.0 + 1.0
      val sb = s.table("supplier").select(col("s_suppkey"),
        (bcx - bhw).as("bxmin"), (bcy - bhh).as("bymin"),
        (bcx + bhw).as("bxmax"), (bcy + bhh).as("bymax"))
      graft.operators.SpatialJoinOps
        .intersectsJoin(pa, "axmin", "aymin", "axmax", "aymax",
          sb, "bxmin", "bymin", "bxmax", "bymax", 10.0)
        .select("p_partkey", "s_suppkey")
    })
}
