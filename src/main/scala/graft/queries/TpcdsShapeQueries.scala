package graft.queries

import graft.engine.Engine.PinOps

/** TPC-DS-shaped plan coverage (the reference's second benchmark suite,
  * presto-benchto-benchmarks/src/main/resources/benchmarks/presto/
  * tpcds.yaml + sql/presto/tpcds/q*.sql): four plan shapes TPC-H never
  * exercises, restated on the fixture star schema (no TPC-DS tables in
  * the sandbox). Each runs the SAME SQL text on Spark and DuckDB.
  *
  * Determinism policy: every aggregate that feeds a comparison, rank or
  * ratio is computed in DECIMAL (exact) or integer cents — never a
  * double sum — so rank boundaries and filter membership cannot flip on
  * last-ulp float drift between engines. Doubles appear only in final
  * projections (deterministic casts of exact values).
  *
  * Scale notes per query are inline; EngineSpecs pins the plans
  * (rollup = one Expand + one shuffle, window top-k fast path,
  * broadcast dims, single-scan multi-band agg).
  */
object TpcdsShapeQueries extends QueryModule {

  private def sqlQ(name: String, sql: String): Q = Q.sameSql(name, sql)

  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** ds_cross_channel_cte's cache-pinned plan (pre copy-out): the
    * INTERSECT-built cross-items set and the one-row stats aggregate
    * are cached and read by every branch. Returns (result frame,
    * caches to unpersist). Specs assert plan properties on the inner
    * frame; the Q entry wraps it with the copy-out below so the bench's
    * min-of-2 second pass can never read a leaked InMemoryRelation
    * (reporting honesty — the caches are query-scoped, not session
    * state). */
  private[graft] def crossChannelPlan(s: SparkSession): (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    val li = s.table("lineitem")
    def itemsOf(flag: String) =
      li.filter($"l_returnflag" === flag).select($"l_partkey")
    val cross = itemsOf("A").intersect(itemsOf("N")).intersect(itemsOf("R"))
      .withColumnRenamed("l_partkey", "item").cache()
    // integer-cents accumulator: a DECIMAL(28,2) sum buffer exceeds the
    // 18-digit compact threshold and every update takes the slow bytes
    // path (measured 10-60x CPU on 500k-group aggregates this round);
    // per-row round(price*100) is exact for the 2dp fixture values.
    val cents = sum(round($"l_extendedprice" * 100).cast("long"))
    // r17 (VERDICT r16 item 1): total_c is a GLOBAL cents sum (~3.2e18 at
    // 100 TB, thin inside int64). Two-level: per-(orderkey % 4096) BIGINT
    // partials, DECIMAL(38,0) final merge over the 4096 group rows — the
    // oracle's literal text keeps the single sum (DuckDB sums BIGINT in
    // HUGEINT, so it has no boundary to close) and the filter below is
    // the same exact-integer comparison either way.
    val stats = li.groupBy(($"l_orderkey" % 4096).as("g"))
      .agg(cents.as("c"), count(lit(1)).cast("long").as("n"))
      .agg(sum($"c".cast("decimal(38,0)")).as("total_c"),
        sum($"n").cast("long").as("cnt"))
      .cache() // one-row threshold: built once, joined into all three branches
    def branch(flag: String, label: String) =
      li.filter($"l_returnflag" === flag)
        .join(s.table("part"), $"l_partkey" === $"p_partkey")
        .join(broadcast(cross), $"l_partkey" === $"item", "left_semi")
        .groupBy($"p_brand")
        .agg(count(lit(1)).cast("long").as("n"), cents.as("cents"))
        .crossJoin(broadcast(stats))
        .filter($"cents".cast("decimal(38,0)") * $"cnt" >
          $"total_c".cast("decimal(38,0)") * 50)
        .select(lit(label).as("channel"), $"p_brand", $"n",
          ($"cents".cast("double") / 100).as("amt"))
    (branch("A", "returned")
      .unionAll(branch("N", "regular"))
      .unionAll(branch("R", "refunded")), Seq(cross, stats))
  }

  /** ds_order_returns' cache-pinned plan (pre copy-out): q95's ws_wh —
    * the distinct-supplier aggregate cached once, read twice. Returns
    * (result frame, caches to unpersist). */
  private[graft] def orderReturnsPlan(s: SparkSession): (DataFrame, Seq[DataFrame]) = {
    val li = s.table("lineitem")
    val multiSupp = li.groupBy("l_orderkey")
      .agg(count_distinct(col("l_suppkey")).as("ns"))
      .filter(col("ns") > 1).select("l_orderkey")
      .cache() // q95's ws_wh: one materialization, two consumers
    val returned = li.filter(col("l_returnflag") === "R")
      .select("l_orderkey").distinct()
    val multiReturned = multiSupp.join(returned, "l_orderkey")
    (s.table("orders")
      .join(broadcast(multiSupp),
        col("o_orderkey") === multiSupp("l_orderkey"), "left_semi")
      .join(broadcast(multiReturned),
        col("o_orderkey") === multiReturned("l_orderkey"), "left_semi")
      .groupBy(year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).cast("long").as("n_orders"),
        (sum(round(col("o_totalprice") * 100).cast("long")).cast("double") / 100)
          .as("total_price")),
      Seq(multiSupp))
  }

  /** ds_share_of_growth's cache-pinned plan (pre copy-out): q31's
    * ss/ws CTEs are referenced THREE TIMES EACH in the 6-way self-join;
    * Presto and Spark both inline WITH, so the literal text re-scans
    * the fact six times. The scale-correct plan aggregates ONCE
    * (county x quarter x channel is dimension-bounded — ~nations x 4 x 2
    * rows at any corpus size) and self-joins the cached aggregate. The
    * growth comparison is decimal cross-multiplication (wsQ2*ssQ1 >
    * ssQ2*wsQ1), integer-exact, so membership can't flip on ratio
    * float drift between engines; the projected ratios are plain IEEE
    * divisions of exact cents. */
  private[graft] def shareOfGrowthPlan(s: SparkSession): (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    // Plan note (r16 ×100 probe): the sf1→sf10 CPU step (×14.5/decade)
    // is the broadcast→shuffle TRANSITION on the lineitem-orders join —
    // at sf1 orders-1995 broadcasts (zero fact shuffles), past the
    // threshold the fact legitimately shuffles on orderkey. Two
    // pre-aggregation-through-join rewrites were measured and REJECTED:
    // grouping lines by (orderkey, flag) keys the agg exchange off the
    // join key (second full-fact shuffle, 4.5× worse at sf10), and a
    // flag-pivoted per-orderkey aggregate reuses the join distribution
    // but pays a ~6M-key hash table that costs more than shuffling the
    // narrow raw rows (×2 worse at sf10). Same-plan-either-side scaling
    // (broadcast disabled at BOTH SFs) measures ×7.7 CPU/decade —
    // linear; the step is a one-time plan transition, not an asymptote.
    val cents =
      sum(round($"l_extendedprice" * 100).cast("long")) // integer-cents: see crossChannelPlan
    val sales = s.table("lineitem")
      .join(s.table("orders"), $"l_orderkey" === $"o_orderkey")
      .join(s.table("customer"), $"o_custkey" === $"c_custkey")
      .join(s.table("nation"), $"c_nationkey" === $"n_nationkey")
      .filter(year($"o_orderdate") === 1995 && $"l_returnflag".isin("N", "A"))
      .groupBy($"n_name".as("county"), quarter($"o_orderdate").as("qoy"),
        $"l_returnflag".as("flag"))
      .agg(cents.as("rev_c"))
      .cache() // ONE fact pass; six readers below
    def q(flag: String, qoy: Int, as: String) =
      sales.filter($"flag" === flag && $"qoy" === qoy)
        .select($"county".as(s"${as}_county"), $"rev_c".as(s"${as}_c"))
    val Seq(ss1, ss2, ss3, ws1, ws2, ws3) = Seq(
      q("N", 1, "ss1"), q("N", 2, "ss2"), q("N", 3, "ss3"),
      q("A", 1, "ws1"), q("A", 2, "ws2"), q("A", 3, "ws3"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    (ss1.join(ss2, $"ss1_county" === $"ss2_county")
      .join(ss3, $"ss1_county" === $"ss3_county")
      .join(ws1, $"ss1_county" === $"ws1_county")
      .join(ws2, $"ss1_county" === $"ws2_county")
      .join(ws3, $"ss1_county" === $"ws3_county")
      .filter(dec($"ws2_c") * $"ss1_c" > dec($"ss2_c") * $"ws1_c" &&
        dec($"ws3_c") * $"ss2_c" > dec($"ss3_c") * $"ws2_c")
      .select($"ss1_county".as("county"),
        ($"ws2_c".cast("double") / $"ws1_c").as("web_q1_q2_increase"),
        ($"ss2_c".cast("double") / $"ss1_c").as("store_q1_q2_increase"),
        ($"ws3_c".cast("double") / $"ws2_c").as("web_q2_q3_increase"),
        ($"ss3_c".cast("double") / $"ss2_c").as("store_q2_q3_increase"))
      .orderBy("county"), Seq(sales))
  }

  /** Copy-out: compute the cache-backed plan eagerly (localCheckpoint —
    * inside the caller's timing window), then unpersist the query's
    * caches so NOTHING outlives the statement. Without this the bench's
    * second pass reads a warm InMemoryRelation and min-of-2 reports a
    * phantom wall (r12: 0.81 s against an honest 2.75 s t1). */
  private def copyOut(planAndCaches: (DataFrame, Seq[DataFrame])): DataFrame = {
    val (out, caches) = planAndCaches
    try out.pinned()
    finally caches.foreach(_.unpersist())
  }

  def queries: Seq[Q] = Seq(

    // q67 shape: wide ROLLUP aggregate -> rank() per group over the
    // rollup output -> top-5. The rollup plans as ONE Expand + ONE
    // shuffle on the expanded grouping columns (not one agg per level);
    // the rk <= 5 predicate must hit Spark's InferWindowGroupLimit fast
    // path so no partition is fully materialized. Rank order is total:
    // exact integer sums, then gid/p_type/p_size (NULLS FIRST pinned —
    // Spark and DuckDB default null order differ).
    sqlQ("ds_rollup_topk",
      """WITH agg AS (
        |  SELECT p_brand, p_type, p_size,
        |    CAST(grouping(p_brand) * 4 + grouping(p_type) * 2 + grouping(p_size) AS BIGINT) AS gid,
        |    sum(CAST(l_quantity AS BIGINT)) AS qty,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY ROLLUP (p_brand, p_type, p_size))
        |SELECT p_brand, p_type, p_size, gid, CAST(qty AS DOUBLE) AS sum_qty, n, rk
        |FROM (
        |  SELECT *, CAST(rank() OVER (
        |      PARTITION BY coalesce(p_brand, 'ALL')
        |      ORDER BY qty DESC, gid, p_type NULLS FIRST, p_size NULLS FIRST)
        |    AS BIGINT) AS rk
        |  FROM agg) t
        |WHERE rk <= 5""".stripMargin),

    // q72 shape: the fact table joined through FOUR dimensions with a
    // cross-table date inequality (ship lag vs order date). At scale:
    // part/customer/nation broadcast (spec-pinned), lineitem-orders is
    // the one big shuffle join, then one agg shuffle — the same
    // "one fact shuffle, all dims broadcast" plan q72 wants.
    sqlQ("ds_date_multiway",
      """SELECT n_name, year(o_orderdate) AS yr,
        |  CAST(count(*) AS BIGINT) AS late_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 5 DAY
        |  AND p_size <= 25
        |GROUP BY n_name, year(o_orderdate)""".stripMargin),

    // q47/q57 shape: window-over-aggregate — monthly brand volumes, a
    // centered 5-month moving window, keep months >10% above their
    // window mean. The outlier test is pure integer arithmetic
    // (cents * count * 10 > windowSum * 11), so membership is
    // bit-identical across engines; the ratio is a final-projection
    // round of exact integers. Plan: one agg shuffle (brand, yr, mo),
    // one window shuffle (brand) — no global window.
    sqlQ("ds_moving_avg",
      """WITH monthly AS (
        |  SELECT p_brand, year(l_shipdate) AS yr, month(l_shipdate) AS mo,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) * 100 AS BIGINT) AS qty_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, year(l_shipdate), month(l_shipdate)),
        |w AS (
        |  SELECT p_brand, yr, mo, qty_c,
        |    sum(qty_c) OVER (PARTITION BY p_brand ORDER BY yr, mo
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS win_sum,
        |    CAST(count(*) OVER (PARTITION BY p_brand ORDER BY yr, mo
        |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS win_n
        |  FROM monthly)
        |SELECT p_brand, yr, mo, qty_c, CAST(win_sum AS BIGINT) AS win_sum, win_n,
        |  round(CAST(qty_c * win_n AS DOUBLE) / win_sum, 6) AS ratio
        |FROM w
        |WHERE qty_c * win_n * 10 > win_sum * 11""".stripMargin),

    // q88 shape: eight independent band counts. TPC-DS writes them as 8
    // scalar subqueries cross-joined (8 scans); the scale-correct
    // restatement is ONE scan with 8 FILTER aggregates (spec pins the
    // single scan). Band edges sit on exactly-representable doubles the
    // generator emits, so membership is engine-stable.
    sqlQ("ds_channel_buckets",
      """SELECT
        |  CAST(count(*) FILTER (WHERE l_quantity < 10 AND l_discount < 0.03) AS BIGINT) AS b1,
        |  CAST(count(*) FILTER (WHERE l_quantity < 10 AND l_discount >= 0.03) AS BIGINT) AS b2,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 10 AND l_quantity < 20 AND l_discount < 0.03) AS BIGINT) AS b3,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 10 AND l_quantity < 20 AND l_discount >= 0.03) AS BIGINT) AS b4,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 20 AND l_quantity < 35 AND l_discount < 0.03) AS BIGINT) AS b5,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 20 AND l_quantity < 35 AND l_discount >= 0.03) AS BIGINT) AS b6,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 35 AND l_discount < 0.03) AS BIGINT) AS b7,
        |  CAST(count(*) FILTER (WHERE l_quantity >= 35 AND l_discount >= 0.03) AS BIGINT) AS b8
        |FROM lineitem""".stripMargin),

    // q76/q71 shape: cross-channel UNION ALL with a channel tag, one
    // grouped aggregate over the union. The union is three scans of the
    // same fact with disjoint predicates (channel = line band — the
    // fixture has no shipmode column); Spark plans Union -> one agg
    // shuffle on (channel, yr) with partials pushed below the Union, so
    // adding channels never adds shuffles.
    sqlQ("ds_channel_union",
      """WITH channels AS (
        |  SELECT 'first_line' AS channel, year(l_shipdate) AS yr,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS amount_c
        |  FROM lineitem WHERE l_linenumber = 1
        |  UNION ALL
        |  SELECT 'mid_lines', year(l_shipdate), CAST(round(l_extendedprice * 100) AS BIGINT)
        |  FROM lineitem WHERE l_linenumber IN (2, 3)
        |  UNION ALL
        |  SELECT 'tail_lines', year(l_shipdate), CAST(round(l_extendedprice * 100) AS BIGINT)
        |  FROM lineitem WHERE l_linenumber >= 4)
        |SELECT channel, yr, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(amount_c) AS DOUBLE) / 100 AS amt
        |FROM channels GROUP BY channel, yr""".stripMargin),

    // q34 shape: per-ticket item counts -> a count band -> join back to
    // the customer. The per-order aggregate is keyed on the SAME column
    // as the orders join, so one hash partitioning serves both (no
    // second exchange — EnsureRequirements reuses the distribution);
    // customer broadcasts.
    sqlQ("ds_ticket_band",
      """WITH per_order AS (
        |  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS items
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT c_name, o_orderkey, items
        |FROM per_order
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE items BETWEEN 5 AND 7""".stripMargin),

    // q51 shape: two per-series cumulative windows FULL OUTER JOINed on
    // (group, date), then a comparison of the running totals. Exact
    // integer cents keep the cumulative comparison engine-stable; each
    // series aggregates then windows inside ONE (brand) partitioning;
    // the full join keys on (brand, day) so the window output
    // co-partitions into it.
    sqlQ("ds_cumulative_compare",
      """WITH a AS (
        |  SELECT p_brand, l_shipdate AS d,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'A' GROUP BY p_brand, l_shipdate),
        |r AS (
        |  SELECT p_brand, l_shipdate AS d,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'R' GROUP BY p_brand, l_shipdate),
        |ac AS (SELECT p_brand, d,
        |  sum(rev_c) OVER (PARTITION BY p_brand ORDER BY d) AS cum_a FROM a),
        |rc AS (SELECT p_brand, d,
        |  sum(rev_c) OVER (PARTITION BY p_brand ORDER BY d) AS cum_r FROM r),
        |j AS (
        |  SELECT coalesce(ac.p_brand, rc.p_brand) AS brand,
        |    coalesce(ac.cum_a, 0) AS cum_a, coalesce(rc.cum_r, 0) AS cum_r
        |  FROM ac FULL OUTER JOIN rc ON ac.p_brand = rc.p_brand AND ac.d = rc.d)
        |SELECT brand, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(CASE WHEN cum_a > cum_r THEN 1 ELSE 0 END) AS BIGINT) AS a_ahead_days
        |FROM j GROUP BY brand""".stripMargin),

    // q95 shape: a CHAIN of semi-joins on the same key — orders whose
    // lines ship from at least two distinct suppliers (correlated
    // EXISTS with an inequality against another alias of the same
    // fact) AND that have a returned line (second EXISTS). Both
    // EXISTS plan as left-semi hash joins keyed on l_orderkey/
    // o_orderkey, so all three fact scans share ONE hash
    // distribution — the multi-warehouse reachability plan q95 wants
    // (no fact row is ever duplicated the way an IN-to-inner-join
    // rewrite would).
    sqlQ("ds_reachability_semi",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total
        |FROM orders
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l1
        |    WHERE l1.l_orderkey = o_orderkey AND EXISTS (
        |      SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey
        |        AND l2.l_suppkey <> l1.l_suppkey))
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem lr
        |    WHERE lr.l_orderkey = o_orderkey AND lr.l_returnflag = 'R')
        |GROUP BY o_orderpriority""".stripMargin),

    // q23 shape: a "frequent items" CTE (first aggregation pass sets a
    // membership threshold) gates the second fact pass via semi-join,
    // which then aggregates per customer and keeps the heavy hitters.
    // Two full fact passes, each ONE agg shuffle; the membership probe
    // is a semi-join on l_partkey (broadcastable: frequent-item sets
    // are small by construction at any scale because the threshold
    // scales with the data).
    sqlQ("ds_frequent_items",
      """WITH counts AS (
        |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY l_partkey),
        |freq AS (
        |  SELECT l_partkey FROM counts
        |  WHERE cnt > (SELECT avg(cnt) FROM counts)),
        |spend AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_partkey IN (SELECT l_partkey FROM freq)
        |  GROUP BY o_custkey)
        |SELECT o_custkey, CAST(cents AS DOUBLE) / 100 AS freq_spend
        |FROM spend
        |WHERE cents > 500 * 100 * 100""".stripMargin),

    // q38/q87 shape: multi-channel customer-set INTERSECT — the set
    // operation over DISTINCT projections of the same fact filtered
    // three ways (returnflag partitions stand in for the
    // store/catalog/web channels). INTERSECT plans as two semi-join
    // stages over hash-distinct inputs sharing the (c_custkey) hash
    // distribution; the count is exact set cardinality, not a join
    // fan-out.
    sqlQ("ds_channel_intersect",
      """SELECT CAST(count(*) AS BIGINT) AS hot_customers
        |FROM (
        |  SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'A'
        |  INTERSECT
        |  SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'N'
        |  INTERSECT
        |  SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R') t""".stripMargin),

    // q67 proper: the WIDE rollup — six grouping columns spanning the
    // part hierarchy (brand, type), the date hierarchy (year, quarter,
    // month) and an order attribute, i.e. a 7-level Expand over a
    // fact-dim-dim join, then rank() per top-level category over the
    // whole rollup output, top-10. ds_rollup_topk pins the narrow
    // (3-col) variant; this one exercises what q67 actually stresses —
    // the Expand multiplies the fact ONCE (one shuffle on the expanded
    // keys, partial aggs below it), NOT one aggregation pass per level,
    // so adding rollup depth adds rows-in-flight, never extra fact
    // scans. Rank order is total (exact integer sums, then gid + every
    // grouping column, NULLS FIRST pinned).
    sqlQ("ds_wide_rollup_rank",
      """WITH agg AS (
        |  SELECT p_brand, p_type, year(l_shipdate) AS yr, quarter(l_shipdate) AS qoy,
        |    month(l_shipdate) AS moy, o_orderpriority AS prio,
        |    CAST(grouping(p_brand) * 32 + grouping(p_type) * 16 +
        |         grouping(year(l_shipdate)) * 8 + grouping(quarter(l_shipdate)) * 4 +
        |         grouping(month(l_shipdate)) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |    sum(CAST(l_quantity AS BIGINT)) AS qty,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  WHERE p_size <= 20
        |  GROUP BY ROLLUP (p_brand, p_type, year(l_shipdate), quarter(l_shipdate),
        |                   month(l_shipdate), o_orderpriority))
        |SELECT p_brand, p_type, yr, qoy, moy, prio, gid,
        |  CAST(qty AS DOUBLE) AS sum_qty, n, rk
        |FROM (
        |  SELECT *, CAST(rank() OVER (
        |      PARTITION BY coalesce(p_brand, 'ALL')
        |      ORDER BY qty DESC, gid, p_type NULLS FIRST, yr NULLS FIRST,
        |               qoy NULLS FIRST, moy NULLS FIRST, prio NULLS FIRST)
        |    AS BIGINT) AS rk
        |  FROM agg) t
        |WHERE rk <= 10""".stripMargin),

    // q14 shape: cross-channel CTE reuse — cross_items (parts present
    // in ALL three channels, via INTERSECT of DISTINCT projections) and
    // a global threshold CTE are BOTH referenced by each of the three
    // per-channel aggregate branches of a UNION ALL. The threshold
    // compare is exact DECIMAL(38,0) arithmetic (group cents * total
    // count > total cents * 50 — BIGINT products would overflow around
    // sf1) so membership cannot flip on float drift between engines.
    //
    // Engine side is deliberately NOT the inlined SQL: Presto inlines
    // WITH bodies, and Spark's InferFiltersFromConstraints then copies
    // the cross_items semi-join onto BOTH join sides — the oracle text
    // replans the INTERSECT six times (~21 fact scans). The Spark-first
    // plan materializes the small cross-items set ONCE (cache), reuses
    // it as a broadcast semi-join probe in every branch, and joins the
    // one-row stats aggregate instead of a re-executed scalar subquery:
    // 7 fact scans total (1 stats + 3 intersect + 3 branches), flat in
    // branch count. The DuckDB oracle runs the equivalent inlined SQL.
    // Kept as a hand plan: its grouped partials hold total_c to >= 1 EB, where the text's one BIGINT sum nears int64 at ~300 TB;
    // the text itself measured no slower at sf0.1 or sf1, so this headroom is the only reason.
    Q("ds_cross_channel_cte",
      """WITH cross_items AS (
        |  SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
        |  INTERSECT
        |  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
        |stats AS (
        |  SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS total_c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem)
        |SELECT channel, p_brand, n, CAST(cents AS DOUBLE) / 100 AS amt
        |FROM (
        |  SELECT 'returned' AS channel, p_brand, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'A' AND l_partkey IN (SELECT item FROM cross_items)
        |  GROUP BY p_brand
        |  HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0))
        |       * (SELECT cnt FROM stats) > CAST((SELECT total_c FROM stats) AS DECIMAL(38,0)) * 50
        |  UNION ALL
        |  SELECT 'regular', p_brand, CAST(count(*) AS BIGINT),
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'N' AND l_partkey IN (SELECT item FROM cross_items)
        |  GROUP BY p_brand
        |  HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0))
        |       * (SELECT cnt FROM stats) > CAST((SELECT total_c FROM stats) AS DECIMAL(38,0)) * 50
        |  UNION ALL
        |  SELECT 'refunded', p_brand, CAST(count(*) AS BIGINT),
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_returnflag = 'R' AND l_partkey IN (SELECT item FROM cross_items)
        |  GROUP BY p_brand
        |  HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DECIMAL(38,0))
        |       * (SELECT cnt FROM stats) > CAST((SELECT total_c FROM stats) AS DECIMAL(38,0)) * 50) u""".stripMargin) { (s, _) =>
      copyOut(crossChannelPlan(s))
    },

    // q72 stress shape (the heaviest SF10 assignment in the reference's
    // tpcds.yaml): fact-to-fact join — the order fact against an
    // inventory-style per-(item, month) stock aggregate — with a
    // quantity inequality on the inventory side, a ship-lag date
    // inequality, and the promotion LEFT JOIN anti-pattern check
    // (count(*) vs count(promo)). The fixture has no inventory table,
    // so the stock side is DERIVED from lineitem (one agg shuffle on
    // (partkey, month)) exactly the way inventory is item x date_bucket
    // x on_hand. Scale plan (EngineSpecs pins it): lineitem-orders is
    // one fact shuffle per side on orderkey; the joined fact reshuffles
    // ONCE on (partkey, month) against the inventory aggregate; part
    // and promo broadcast; no cartesian anywhere. All inequality
    // predicates are post-join filters on equi-joined rows, never join
    // conditions that would degrade to NLJ.
    sqlQ("ds_inventory_gap",
      """WITH inventory AS (
        |  SELECT l_partkey AS inv_partkey,
        |    year(l_shipdate) * 100 + month(l_shipdate) AS inv_mo,
        |    sum(CAST(l_quantity AS BIGINT)) AS on_hand
        |  FROM lineitem
        |  GROUP BY l_partkey, year(l_shipdate) * 100 + month(l_shipdate)),
        |promo AS (SELECT p_partkey AS promo_part FROM part WHERE p_size <= 2)
        |SELECT p_brand, year(o_orderdate) AS yr,
        |  CAST(count(*) AS BIGINT) AS gap_lines,
        |  CAST(count(promo_part) AS BIGINT) AS promo_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN inventory ON l_partkey = inv_partkey
        |  AND year(o_orderdate) * 100 + month(o_orderdate) = inv_mo
        |JOIN part ON l_partkey = p_partkey
        |LEFT JOIN promo ON l_partkey = promo_part
        |WHERE on_hand < CAST(l_quantity AS BIGINT) * 4
        |  AND l_shipdate > o_orderdate + INTERVAL 20 DAY
        |GROUP BY p_brand, year(o_orderdate)""".stripMargin),

    // q4/q11 shape: year-over-year growth — one per-(customer, year)
    // spend CTE SELF-JOINED on the shifted year key, exact-decimal
    // delta, global top-20 by rank. The plan must materialize `spend`
    // ONCE (ReusedExchange on the self-join's second side — both sides
    // share the (cust, yr) aggregate exchange) and the rk <= 20
    // predicate must ride WindowGroupLimit so no partition fully
    // materializes the sort. Deltas/ranks are DECIMAL-exact with an
    // all-integer tiebreak (cust, yr) — no float drift can flip a rank
    // between engines. At scale: two shuffles total (agg, then the rank
    // merge over 20-row partial tops).
    sqlQ("ds_yoy_growth",
      """WITH spend AS (
        |  SELECT o_custkey AS cust, year(o_orderdate) AS yr,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total
        |  FROM orders GROUP BY o_custkey, year(o_orderdate)),
        |yoy AS (
        |  SELECT c.cust, c.yr, p.total AS prev_total, c.total AS cur_total,
        |    c.total - p.total AS delta
        |  FROM spend c JOIN spend p ON c.cust = p.cust AND c.yr = p.yr + 1)
        |SELECT cust AS custkey, yr, CAST(prev_total AS DOUBLE) / 100 AS prev_spend,
        |  CAST(cur_total AS DOUBLE) / 100 AS cur_spend, CAST(delta AS DOUBLE) / 100 AS spend_delta, rk
        |FROM (SELECT *, CAST(rank() OVER (ORDER BY delta DESC, cust, yr) AS BIGINT) AS rk
        |      FROM yoy WHERE delta > 0) t
        |WHERE rk <= 20""".stripMargin),

    // q95 shape (tpcds/q95.sql "ws_wh"): ONE CTE (orders whose lines came
    // from more than one supplier — q95's two-warehouse web orders)
    // referenced TWICE — once as a plain IN-filter, once re-joined with
    // the returns set inside the second IN — plus a distinct-agg HAVING.
    // The reference plan materializes ws_wh once; naive CTE inlining
    // computes the expensive distinct-supplier aggregate over the fact
    // TWICE (and Spark's own inliner does exactly that — the second
    // reference picks up an extra isnotnull pushdown that defeats
    // ReusedExchange), so the Spark side pins the materialization with
    // an explicit cache, the same remedy as ds_cross_channel_cte.
    // Both filters reach the orders scan as broadcast semi joins.
    // Kept as a hand plan: 2.54 s wall / 2.18 s CPU vs the text's 2.71 s / 3.83 s (sf0.1), 6.5 s / 18 s vs 9.3 s / 31 s (sf1).
    Q("ds_order_returns",
      """WITH multi_supp AS (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1),
        |returned AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        |SELECT year(o_orderdate) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price
        |FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM multi_supp)
        |  AND o_orderkey IN (SELECT m.l_orderkey FROM multi_supp m
        |                     JOIN returned r ON m.l_orderkey = r.l_orderkey)
        |GROUP BY year(o_orderdate)""".stripMargin) { (s, _) =>
      copyOut(orderReturnsPlan(s))
    },

    // q23 shape (tpcds/q23.sql "with frequent_ss_items / best_ss_customer"):
    // two filtering CTEs — high-frequency items (HAVING count > N over a
    // multi-year join) and top-spending customers (spend above a fraction
    // of the MAX spend, i.e. an aggregate-of-aggregate scalar subquery) —
    // both applied as IN-semijoins to the final fact scan. Plan contract
    // (EngineSpecs): both filter sides broadcast as LeftSemi hash joins
    // (they are aggressively selective — never shuffle the fact on their
    // account) and the scalar max(total) is a one-row subquery, not a
    // join. All comparisons DECIMAL-exact; the 0.5*max threshold is a
    // decimal product so membership cannot flip on float drift. At 100 TB
    // the fact is scanned once per CTE + once for the final agg, each a
    // linear pass; the semijoin sides are dimension-bounded.
    sqlQ("ds_frequent_buyers",
      """WITH frequent_parts AS (
        |  SELECT l_partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE year(o_orderdate) BETWEEN 1995 AND 1997
        |  GROUP BY l_partkey
        |  HAVING count(*) > 18),
        |spend AS (
        |  SELECT o_custkey AS cust, sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total
        |  FROM orders GROUP BY o_custkey),
        |best_customers AS (
        |  SELECT cust FROM spend
        |  WHERE total * 2 > (SELECT max(total) FROM spend))
        |SELECT year(o_orderdate) AS yr,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000 AS net_sales
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_partkey IN (SELECT l_partkey FROM frequent_parts)
        |  AND o_custkey IN (SELECT cust FROM best_customers)
        |GROUP BY year(o_orderdate)""".stripMargin),

    // q93 shape (tpcds/q93.sql): returns reconciliation — the sales fact
    // LEFT JOINed to its returns on the COMPOUND line key, a reason-dim
    // equality in the WHERE that silently turns the outer join inner
    // (null-extended rows can't satisfy reason_sk = n_nationkey — the
    // reference has exactly this quirk), and a CASE that nets returned
    // quantity out of the sale when the return row carries one. Returns
    // are the 'R' lines (ret qty NULL on every third line so BOTH CASE
    // branches stay live, as sr_return_quantity IS NULL does in DS data).
    // Plan: sales-returns is one compound-key shuffle join, nation
    // broadcasts, one agg shuffle on custkey, TopK merge for the LIMIT.
    // All money decimal-exact; (custkey) tiebreak makes the limit edge
    // deterministic.
    sqlQ("ds_returns_reconcile",
      """WITH returns AS (
        |  SELECT l_orderkey AS r_orderkey, l_linenumber AS r_linenumber,
        |    CASE WHEN l_linenumber % 3 = 0 THEN NULL
        |         ELSE CAST(floor(l_quantity / 2) AS BIGINT) END AS ret_qty,
        |    CAST(l_partkey % 25 AS BIGINT) AS reason_sk
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |per_cust AS (
        |  SELECT o_custkey, sum(act_sales) AS sales_dec
        |  FROM (
        |    SELECT o_custkey,
        |      CASE WHEN ret_qty IS NOT NULL
        |        THEN (CAST(l_quantity AS BIGINT) - ret_qty)
        |             * CAST(round(l_extendedprice * 100) AS BIGINT)
        |        ELSE CAST(l_quantity AS BIGINT)
        |             * CAST(round(l_extendedprice * 100) AS BIGINT) END AS act_sales
        |    FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    LEFT JOIN returns ON r_orderkey = l_orderkey AND r_linenumber = l_linenumber
        |    CROSS JOIN nation
        |    WHERE reason_sk = n_nationkey AND n_name = 'NATION_18') t
        |  GROUP BY o_custkey)
        |SELECT o_custkey, CAST(sales_dec AS DOUBLE) / 100 AS sumsales
        |FROM per_cust
        |ORDER BY sales_dec, o_custkey
        |LIMIT 100""".stripMargin),

    // q78 shape (tpcds/q78.sql): three per-(year, item, customer)
    // channel aggregates, EACH with left-join-null anti semantics
    // against the returns set (the q78 "no returned sales" gate), the
    // store channel LEFT JOINed to the other two, kept only where both
    // exist, with a cross-channel quantity ratio. Channels = line-band
    // partitions (the ds_channel_union convention — returnflag is
    // date-skewed here, A/R stop mid-corpus, and q78 needs the SAME
    // (year, item, customer) key live in all three channels); item/
    // customer are coarse key surrogates for the same reason — the DS
    // schema has three independent facts sharing dim keys, this fixture
    // derives all three channels from one. "Returns" = the
    // discount-heavy lines. Plan: each channel is one
    // (year,item,customer) agg shuffle over an anti join; the final two
    // LEFT JOINs co-partition on the same compound key. The ratio is a
    // plain IEEE division of exact BIGINTs (no round()) so it is
    // bit-identical across engines; (year, item, customer) is unique
    // per row, so ORDER+LIMIT is total.
    sqlQ("ds_three_channel_ratio",
      """WITH rets AS (
        |  SELECT l_orderkey AS r_ok, l_partkey AS r_pk FROM lineitem
        |  WHERE l_discount >= 0.06),
        |ss AS (
        |  SELECT year(l_shipdate) AS sold_year, l_partkey % 10 AS item_sk,
        |    o_custkey % 10 AS customer_sk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS wc_c,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50
        |      - (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) % 100) / 100 AS BIGINT) AS sp_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  LEFT JOIN rets ON r_ok = l_orderkey AND r_pk = l_partkey
        |  WHERE l_linenumber = 1 AND r_ok IS NULL
        |  GROUP BY year(l_shipdate), l_partkey % 10, o_custkey % 10),
        |ws AS (
        |  SELECT year(l_shipdate) AS sold_year, l_partkey % 10 AS item_sk,
        |    o_custkey % 10 AS customer_sk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS wc_c,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50
        |      - (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) % 100) / 100 AS BIGINT) AS sp_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  LEFT JOIN rets ON r_ok = l_orderkey AND r_pk = l_partkey
        |  WHERE l_linenumber IN (2, 3) AND r_ok IS NULL
        |  GROUP BY year(l_shipdate), l_partkey % 10, o_custkey % 10),
        |cs AS (
        |  SELECT year(l_shipdate) AS sold_year, l_partkey % 10 AS item_sk,
        |    o_custkey % 10 AS customer_sk,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS wc_c,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50
        |      - (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * (100 - CAST(round(l_discount * 100) AS BIGINT))) + 50) % 100) / 100 AS BIGINT) AS sp_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  LEFT JOIN rets ON r_ok = l_orderkey AND r_pk = l_partkey
        |  WHERE l_linenumber >= 4 AND r_ok IS NULL
        |  GROUP BY year(l_shipdate), l_partkey % 10, o_custkey % 10)
        |SELECT ss.item_sk, ss.customer_sk,
        |  CAST(ss.qty AS DOUBLE) / coalesce(ws.qty + cs.qty, 1) AS ratio,
        |  ss.qty AS store_qty,
        |  CAST(ss.wc_c AS DOUBLE) / 100 AS store_wholesale,
        |  CAST(ss.sp_c AS DOUBLE) / 100 AS store_sales_price,
        |  coalesce(ws.qty, 0) + coalesce(cs.qty, 0) AS other_chan_qty,
        |  CAST(coalesce(ws.wc_c, 0) + coalesce(cs.wc_c, 0) AS DOUBLE) / 100
        |    AS other_chan_wholesale,
        |  CAST(coalesce(ws.sp_c, 0) + coalesce(cs.sp_c, 0) AS DOUBLE) / 100
        |    AS other_chan_sales_price
        |FROM ss
        |LEFT JOIN ws ON ws.sold_year = ss.sold_year AND ws.item_sk = ss.item_sk
        |  AND ws.customer_sk = ss.customer_sk
        |LEFT JOIN cs ON cs.sold_year = ss.sold_year AND cs.item_sk = ss.item_sk
        |  AND cs.customer_sk = ss.customer_sk
        |WHERE coalesce(ws.qty, 0) > 0 AND coalesce(cs.qty, 0) > 0
        |  AND ss.sold_year = 1995
        |ORDER BY ss.item_sk, ss.customer_sk
        |LIMIT 100""".stripMargin),

    // q9 shape (tpcds/q09.sql): five quantity-banded CASE probes, each
    // choosing between two per-band averages on a count threshold, all
    // hung off a ONE-ROW dim scan (q9's `FROM reason WHERE r_reason_sk
    // = 1`). The reference text is FIFTEEN scalar subqueries = 15 fact
    // scans; the scale-correct restatement (the ds_multi_band_scan /
    // q88 precedent) folds them into ONE conditional-aggregation pass
    // with FILTER clauses — same result, 15x less IO. Averages are
    // exact-decimal sums divided as doubles (IEEE-deterministic); the
    // thresholds are literals like q9's, so which branch fires varies
    // with SF — both engines agree at each SF, and the sf ladder
    // exercises both branches.
    // r17 (VERDICT r16 item 1): the band sums are GLOBAL, and a global
    // ×10⁴ price·discount sum reaches ~3e18 at 100 TB — only ~3× inside
    // int64. TWO-LEVEL SUM: per-(l_orderkey % 4096) BIGINT partials
    // (per-group ceiling = int64 → total boundary ~4096×9.2e18 product
    // units ≈ 1.2 EB-equivalent rows), merged in DECIMAL(38,0) over the
    // 4096 group rows (decimal cost is per-merge-row, not per fact
    // row). Same integers, same correctly-rounded doubles: addition is
    // associative over any grouping, and CAST(DECIMAL(38,0) AS DOUBLE)
    // of the same integer equals CAST(BIGINT AS DOUBLE).
    sqlQ("ds_case_bucket_probe",
      """WITH p AS (
        |  SELECT l_orderkey % 4096 AS g,
        |    CAST(count(*) FILTER (WHERE l_quantity BETWEEN 1 AND 10) AS BIGINT) AS n1,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 1 AND 10) AS BIGINT) AS price1,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 1 AND 10) AS BIGINT) AS disc1,
        |    CAST(count(*) FILTER (WHERE l_quantity BETWEEN 11 AND 20) AS BIGINT) AS n2,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 11 AND 20) AS BIGINT) AS price2,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 11 AND 20) AS BIGINT) AS disc2,
        |    CAST(count(*) FILTER (WHERE l_quantity BETWEEN 21 AND 30) AS BIGINT) AS n3,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 21 AND 30) AS BIGINT) AS price3,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 21 AND 30) AS BIGINT) AS disc3,
        |    CAST(count(*) FILTER (WHERE l_quantity BETWEEN 31 AND 40) AS BIGINT) AS n4,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 31 AND 40) AS BIGINT) AS price4,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 31 AND 40) AS BIGINT) AS disc4,
        |    CAST(count(*) FILTER (WHERE l_quantity BETWEEN 41 AND 50) AS BIGINT) AS n5,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 41 AND 50) AS BIGINT) AS price5,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))
        |      FILTER (WHERE l_quantity BETWEEN 41 AND 50) AS BIGINT) AS disc5
        |  FROM lineitem
        |  GROUP BY l_orderkey % 4096),
        |b AS (
        |  SELECT
        |    CAST(coalesce(sum(n1), 0) AS BIGINT) AS n1,
        |    sum(CAST(price1 AS DECIMAL(38,0))) AS price1,
        |    sum(CAST(disc1 AS DECIMAL(38,0))) AS disc1,
        |    CAST(coalesce(sum(n2), 0) AS BIGINT) AS n2,
        |    sum(CAST(price2 AS DECIMAL(38,0))) AS price2,
        |    sum(CAST(disc2 AS DECIMAL(38,0))) AS disc2,
        |    CAST(coalesce(sum(n3), 0) AS BIGINT) AS n3,
        |    sum(CAST(price3 AS DECIMAL(38,0))) AS price3,
        |    sum(CAST(disc3 AS DECIMAL(38,0))) AS disc3,
        |    CAST(coalesce(sum(n4), 0) AS BIGINT) AS n4,
        |    sum(CAST(price4 AS DECIMAL(38,0))) AS price4,
        |    sum(CAST(disc4 AS DECIMAL(38,0))) AS disc4,
        |    CAST(coalesce(sum(n5), 0) AS BIGINT) AS n5,
        |    sum(CAST(price5 AS DECIMAL(38,0))) AS price5,
        |    sum(CAST(disc5 AS DECIMAL(38,0))) AS disc5
        |  FROM p)
        |SELECT r_name,
        |  CASE WHEN n1 > 2000 THEN CAST(price1 AS DOUBLE) / 100 / n1
        |       ELSE CAST(disc1 AS DOUBLE) / 10000 / n1 END AS bucket1,
        |  CASE WHEN n2 > 5000 THEN CAST(price2 AS DOUBLE) / 100 / n2
        |       ELSE CAST(disc2 AS DOUBLE) / 10000 / n2 END AS bucket2,
        |  CASE WHEN n3 > 8000 THEN CAST(price3 AS DOUBLE) / 100 / n3
        |       ELSE CAST(disc3 AS DOUBLE) / 10000 / n3 END AS bucket3,
        |  CASE WHEN n4 > 11000 THEN CAST(price4 AS DOUBLE) / 100 / n4
        |       ELSE CAST(disc4 AS DOUBLE) / 10000 / n4 END AS bucket4,
        |  CASE WHEN n5 > 14000 THEN CAST(price5 AS DOUBLE) / 100 / n5
        |       ELSE CAST(disc5 AS DOUBLE) / 10000 / n5 END AS bucket5
        |FROM b CROSS JOIN region
        |WHERE r_regionkey = 1""".stripMargin),

    // q1 shape (tpcds/q01.sql): per-customer return totals compared
    // against 1.2x the average over the customer's OWN group — a
    // CORRELATED scalar aggregate over a CTE, referenced from the CTE's
    // own rows. The reference compares ctr > 1.2 * avg(ctr); restated
    // integer-exact by cross-multiplying with the correlated count and
    // sum (ret*10*n > 12*sum == ret > 1.2*sum/n), so membership can't
    // flip on avg() float drift. Plans as two aggregate-subquery joins
    // on nat (dimension-bounded); customer broadcasts; c_name is unique
    // so ORDER+LIMIT is total.
    sqlQ("ds_above_avg_returns",
      """WITH ctr AS (
        |  SELECT o_custkey AS cust, c_nationkey AS nat,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ret_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R'
        |  GROUP BY o_custkey, c_nationkey)
        |SELECT c_name, CAST(ctr1.ret_c AS DOUBLE) / 100 AS total_returns
        |FROM ctr ctr1
        |JOIN customer ON ctr1.cust = c_custkey
        |WHERE CAST(ctr1.ret_c AS DECIMAL(38,0)) * 10
        |      * (SELECT count(*) FROM ctr ctr2 WHERE ctr2.nat = ctr1.nat)
        |    > 12 * (SELECT CAST(sum(ret_c) AS DECIMAL(38,0)) FROM ctr ctr3
        |            WHERE ctr3.nat = ctr1.nat)
        |ORDER BY c_name
        |LIMIT 100""".stripMargin),

    // q10/q35 shape (tpcds/q10.sql, q35.sql): the demographic profile of
    // customers active in a base channel AND in ANY of two others — an
    // EXISTS conjoined with an OR of two more EXISTS. The disjunctive
    // correlated EXISTS is the planning stress: it cannot become a plain
    // left-semi join; Spark plans ExistenceJoins whose boolean outputs
    // feed the OR filter (no row duplication, unlike an IN->inner
    // rewrite). All three probes hash on o_custkey. Aggregates are
    // count + exact-decimal acctbal sums per (segment, nation).
    sqlQ("ds_exists_any_channel",
      """SELECT c_mktsegment, n_name, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal,
        |  CAST(max(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS max_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE EXISTS (
        |    SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |  AND (EXISTS (
        |      SELECT 1 FROM orders o2 JOIN lineitem l2 ON l2.l_orderkey = o2.o_orderkey
        |      WHERE o2.o_custkey = c_custkey AND l2.l_returnflag = 'A')
        |    OR EXISTS (
        |      SELECT 1 FROM orders o3 JOIN lineitem l3 ON l3.l_orderkey = o3.o_orderkey
        |      WHERE o3.o_custkey = c_custkey AND l3.l_returnflag = 'R'))
        |GROUP BY c_mktsegment, n_name""".stripMargin),

    // q58 shape (tpcds/q58.sql): cross-channel parity — items whose
    // revenue in EACH of the three channels sits inside a band around
    // the three-channel average. Three aggregates of the same fact
    // joined on the item key, with six band predicates. One
    // (brand, flag) agg shuffle feeds all three sides (disjoint filter
    // slices of one aggregate); the band test is integer-exact
    // (12*rev BETWEEN 3*sum AND 5*sum == rev/avg in [0.75, 1.25]) so
    // the parity set is engine-stable; projected ratios are IEEE
    // divisions of exact cents.
    sqlQ("ds_channel_parity",
      """WITH by_flag AS (
        |  SELECT p_brand, l_returnflag AS flag,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, l_returnflag),
        |a AS (SELECT p_brand, rev_c FROM by_flag WHERE flag = 'A'),
        |n AS (SELECT p_brand, rev_c FROM by_flag WHERE flag = 'N'),
        |r AS (SELECT p_brand, rev_c FROM by_flag WHERE flag = 'R')
        |SELECT a.p_brand,
        |  CAST(a.rev_c AS DOUBLE) / 100 AS a_rev,
        |  CAST(n.rev_c AS DOUBLE) / 100 AS n_rev,
        |  CAST(r.rev_c AS DOUBLE) / 100 AS r_rev,
        |  CAST(a.rev_c + n.rev_c + r.rev_c AS DOUBLE) / 300 AS avg_rev
        |FROM a
        |JOIN n ON a.p_brand = n.p_brand
        |JOIN r ON a.p_brand = r.p_brand
        |WHERE CAST(a.rev_c AS DECIMAL(38,0)) * 12
        |        BETWEEN (a.rev_c + n.rev_c + r.rev_c) * 3
        |            AND (a.rev_c + n.rev_c + r.rev_c) * 5
        |  AND CAST(n.rev_c AS DECIMAL(38,0)) * 12
        |        BETWEEN (a.rev_c + n.rev_c + r.rev_c) * 3
        |            AND (a.rev_c + n.rev_c + r.rev_c) * 5
        |  AND CAST(r.rev_c AS DECIMAL(38,0)) * 12
        |        BETWEEN (a.rev_c + n.rev_c + r.rev_c) * 3
        |            AND (a.rev_c + n.rev_c + r.rev_c) * 5
        |ORDER BY a.p_brand""".stripMargin),

    // q97 shape (tpcds/q97.sql): cross-channel customer-item overlap —
    // two DISTINCT (customer, item) channel projections FULL JOINed on
    // the compound key, three CASE-flag sums (store-only / catalog-only
    // / both) off the join's null pattern. Channels = line bands.
    // r17 (VERDICT r16 item 5, guide §2.4): the literal text pays the
    // lineitem⋈orders fact join TWICE (one per CTE), two distinct
    // shuffles on (cust, item), and a full-outer SMJ of the two distinct
    // sets (18.9 CPU-s steady at sf0.1). The FULL JOIN's null pattern is
    // just the per-(cust, item) channel membership, so the Spark plan
    // computes it in ONE fact pass: join once, aggregate per (cust,
    // item) with two boolean channel flags (partial agg below the
    // exchange — the distinct pass collapsed into it), then one global
    // flag-count row. Identical partition of the pair set only while
    // o_custkey and l_partkey are NOT NULL (groupBy equates NULL keys,
    // the FULL JOIN never matches them) — asserted over every fixture
    // by the EngineSpecs "ds_channel_overlap keys are NOT NULL" spec;
    // strictcheck-pinned like every hand plan. The oracle
    // replays the literal two-CTE text — same counts.
    // Kept as a hand plan: its rewrite holds only under the NOT NULL keys its spec asserts.
    Q("ds_channel_overlap",
      """WITH ssci AS (
        |  SELECT DISTINCT o_custkey AS customer_sk, l_partkey AS item_sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_linenumber = 1),
        |csci AS (
        |  SELECT DISTINCT o_custkey AS customer_sk, l_partkey AS item_sk
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_linenumber >= 2)
        |SELECT
        |  CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NULL
        |       THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
        |  CAST(sum(CASE WHEN ssci.customer_sk IS NULL AND csci.customer_sk IS NOT NULL
        |       THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
        |  CAST(sum(CASE WHEN ssci.customer_sk IS NOT NULL AND csci.customer_sk IS NOT NULL
        |       THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
        |FROM ssci
        |FULL JOIN csci ON ssci.customer_sk = csci.customer_sk
        |  AND ssci.item_sk = csci.item_sk""".stripMargin) { (s, _) =>
      val flags = s.table("lineitem")
        .select(col("l_orderkey"), col("l_partkey"), col("l_linenumber"))
        .join(s.table("orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey").as("customer_sk"), col("l_partkey").as("item_sk"))
        .agg(max(col("l_linenumber") === 1).as("in_store"),
          max(col("l_linenumber") >= 2).as("in_catalog"))
      flags.agg(
        sum(when(col("in_store") && !col("in_catalog"), 1L).otherwise(0L))
          .cast("long").as("store_only"),
        sum(when(!col("in_store") && col("in_catalog"), 1L).otherwise(0L))
          .cast("long").as("catalog_only"),
        sum(when(col("in_store") && col("in_catalog"), 1L).otherwise(0L))
          .cast("long").as("store_and_catalog"))
    },

    // q39 shape (tpcds/q39_1.sql): inventory coefficient-of-variation —
    // per-(warehouse, item, month) stddev/mean over quantities, a cov
    // gate, then a SELF-JOIN on adjacent months. The float hazard is
    // the gate: stddev_samp's accumulation order differs between
    // engines, so the filter is restated INTEGER-EXACT over BIGINT
    // power sums (quantities are integers): stdev/mean > 0.6 ==
    // 25*n*(n*Q - S^2) > 9*(n-1)*S^2. (The reference's cov > 1 is
    // tuned to skewed DS inventory; this fixture's uniform quantities
    // concentrate cov at ~0.57, so the band sits just above typical —
    // same selectivity role.) The projected cov is sqrt/division of
    // exact-int-derived doubles — IEEE-correctly-rounded both engines,
    // no round() needed. Warehouse = supplier, item = a part group
    // (the month-adjacency join needs co-occupied cells at small SF).
    // r16: the literal WITH text computes the fact aggregate TWICE (both
    // engines inline CTEs; the two self-join references pick up different
    // pushed predicates, defeating ReusedExchange — the ds_order_returns
    // disease). The Spark side pins the cov frame ONCE (localCheckpoint,
    // eager, inside the timing window) and self-joins the pinned frame:
    // one fact aggregate instead of two. The oracle replays the literal
    // inlined text — same rows.
    // Kept as a hand plan: 1.12 s wall / 1.13 s CPU vs the text's 1.31 s / 1.47 s (sf0.1).
    Q("ds_inventory_cov",
      """WITH inv AS (
        |  SELECT l_suppkey AS w, l_partkey % 50 AS item, month(l_shipdate) AS moy,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
        |    CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
        |  FROM lineitem
        |  GROUP BY l_suppkey, l_partkey % 50, month(l_shipdate)
        |  HAVING count(*) >= 2),
        |cov AS (
        |  SELECT w, item, moy,
        |    CAST(s AS DOUBLE) / n AS mean,
        |    sqrt(CAST(n * q - s * s AS DOUBLE) / (n * (n - 1))) / (CAST(s AS DOUBLE) / n) AS cov
        |  FROM inv
        |  WHERE 25 * n * (n * q - s * s) > 9 * (n - 1) * s * s)
        |SELECT inv1.w, inv1.item, inv1.moy AS moy1, inv1.mean AS mean1, inv1.cov AS cov1,
        |  inv2.moy AS moy2, inv2.mean AS mean2, inv2.cov AS cov2
        |FROM cov inv1
        |JOIN cov inv2 ON inv1.item = inv2.item AND inv1.w = inv2.w
        |  AND inv2.moy = inv1.moy + 1
        |ORDER BY inv1.w, inv1.item, inv1.moy""".stripMargin) { (s, _) =>
      val q = col("l_quantity").cast("long")
      val inv = s.table("lineitem")
        .groupBy(col("l_suppkey").as("w"), (col("l_partkey") % 50).as("item"),
          month(col("l_shipdate")).as("moy"))
        .agg(count(lit(1)).cast("long").as("n"),
          sum(q).cast("long").as("s"),
          sum(q * q).cast("long").as("q"))
        .filter(col("n") >= 2)
      val cov = inv
        .filter(lit(25L) * col("n") * (col("n") * col("q") - col("s") * col("s")) >
          lit(9L) * (col("n") - 1) * col("s") * col("s"))
        .select(col("w"), col("item"), col("moy"),
          (col("s").cast("double") / col("n")).as("mean"),
          (sqrt((col("n") * col("q") - col("s") * col("s")).cast("double") /
            (col("n") * (col("n") - 1))) /
            (col("s").cast("double") / col("n"))).as("cov"))
        .pinned() // one fact aggregate; both self-join sides below
      val c2 = cov.select(col("w").as("w2"), col("item").as("item2"),
        col("moy").as("moy2"), col("mean").as("mean2"), col("cov").as("cov2"))
      cov.join(c2, col("item") === col("item2") && col("w") === col("w2") &&
          col("moy2") === col("moy") + 1)
        .select(col("w"), col("item"), col("moy").as("moy1"),
          col("mean").as("mean1"), col("cov").as("cov1"),
          col("moy2"), col("mean2"), col("cov2"))
        .orderBy("w", "item", "moy1")
    },

    // q65 shape (tpcds/q65.sql): items selling BELOW a tenth of their
    // store's average item revenue — a per-(store, item) revenue
    // aggregate consumed twice: once re-aggregated per store (the
    // aggregate-of-aggregate), once row-wise against that average.
    // Membership is integer-exact (rev * 10 * n <= tot cross-multiplied
    // in DECIMAL(38,0), never 0.1 * avg in floats); store/item dims
    // broadcast onto the survivors. (store, item) unique -> total
    // ORDER+LIMIT.
    // r16: sc is referenced twice (the row side and the per-store
    // re-aggregate) — inlined, that is two full fact aggregates. The
    // Spark side pins sc once (the ds_inventory_cov remedy); the oracle
    // replays the literal inlined text — same rows.
    // Kept as a hand plan: 1.42 s wall / 1.57 s CPU vs the text's 2.02 s / 3.07 s (sf0.1).
    Q("ds_below_store_avg",
      """WITH sc AS (
        |  SELECT l_suppkey AS store_sk, l_partkey AS item_sk,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem GROUP BY l_suppkey, l_partkey),
        |sb AS (
        |  SELECT store_sk, CAST(sum(rev_c) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS n
        |  FROM sc GROUP BY store_sk)
        |SELECT s_name, p_name, CAST(sc.rev_c AS DOUBLE) / 100 AS revenue,
        |  CAST(sb.tot AS DOUBLE) / (100 * sb.n) AS store_avg
        |FROM sc
        |JOIN sb ON sc.store_sk = sb.store_sk
        |JOIN supplier ON sc.store_sk = s_suppkey
        |JOIN part ON sc.item_sk = p_partkey
        |WHERE CAST(sc.rev_c AS DECIMAL(38,0)) * 10 * sb.n <= sb.tot
        |ORDER BY s_name, p_name, sc.item_sk
        |LIMIT 100""".stripMargin) { (s, _) =>
      val sc = s.table("lineitem")
        .groupBy(col("l_suppkey").as("store_sk"), col("l_partkey").as("item_sk"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_c"))
        .pinned() // one fact aggregate; the row side and sb both read it
      val sb = sc.groupBy("store_sk")
        .agg(sum("rev_c").cast("long").as("tot"), count(lit(1)).cast("long").as("n"))
      sc.join(sb, "store_sk")
        .join(s.table("supplier"), col("store_sk") === col("s_suppkey"))
        .join(s.table("part"), col("item_sk") === col("p_partkey"))
        .filter(col("rev_c").cast("decimal(38,0)") * 10 * col("n") <= col("tot"))
        .select(col("s_name"), col("p_name"),
          (col("rev_c").cast("double") / 100).as("revenue"),
          (col("tot").cast("double") / (lit(100) * col("n"))).as("store_avg"),
          col("item_sk"))
        .orderBy(col("s_name"), col("p_name"), col("item_sk"))
        .limit(100)
        .drop("item_sk")
    },

    // q49 shape (tpcds/q49.sql): per-channel return ratios with DUAL
    // global ranks (quantity ratio and currency ratio), rank <= 10 OR
    // rank <= 10 kept, channels UNIONed (set semantics — the reference
    // text uses UNION, not UNION ALL). Ratios are IEEE divisions of
    // exact cents/quantities (the reference's DECIMAL(15,4) division
    // rounds at engine-specific scales — the double form is
    // bit-identical across engines). Items are bounded surrogates
    // (l_partkey % 1000) so the global rank windows run over a
    // dimension-bounded frame at any corpus size — the q49 semantic
    // (rank items, items << corpus).
    sqlQ("ds_return_ratio_rank",
      """WITH rets AS (
        |  SELECT l_orderkey AS r_ok, l_partkey AS r_pk,
        |    sum(CAST(l_quantity AS BIGINT)) AS rq,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) + 50
        |      - (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) + 50) % 100) / 100 AS BIGINT) AS ra_c
        |  FROM lineitem WHERE l_discount >= 0.06
        |  GROUP BY l_orderkey, l_partkey),
        |chan AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN 'store'
        |              WHEN l_linenumber IN (2, 3) THEN 'web'
        |              ELSE 'catalog' END AS channel,
        |    l_partkey % 1000 AS item,
        |    CAST(sum(coalesce(rq, 0)) AS BIGINT) AS ret_qty,
        |    sum(CAST(l_quantity AS BIGINT)) AS qty,
        |    CAST(sum(coalesce(ra_c, 0)) AS BIGINT) AS ret_c,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS paid_c
        |  FROM lineitem
        |  LEFT JOIN rets ON r_ok = l_orderkey AND r_pk = l_partkey
        |  GROUP BY CASE WHEN l_linenumber = 1 THEN 'store'
        |                WHEN l_linenumber IN (2, 3) THEN 'web'
        |                ELSE 'catalog' END, l_partkey % 1000),
        |ranked AS (
        |  SELECT channel, item,
        |    CAST(ret_qty AS DOUBLE) / qty AS return_ratio,
        |    CAST(rank() OVER (PARTITION BY channel
        |      ORDER BY CAST(ret_qty AS DOUBLE) / qty, item) AS BIGINT) AS return_rank,
        |    CAST(rank() OVER (PARTITION BY channel
        |      ORDER BY CAST(ret_c AS DOUBLE) / paid_c, item) AS BIGINT) AS currency_rank
        |  FROM chan)
        |SELECT channel, item, return_ratio, return_rank, currency_rank
        |FROM ranked
        |WHERE return_rank <= 10 OR currency_rank <= 10
        |ORDER BY channel, return_rank, currency_rank, item""".stripMargin),

    // q2/q59 shape (tpcds/q02.sql, q59.sql): period-over-period pivot —
    // per-period aggregates spread into per-subperiod COLUMNS (FILTER
    // aggs; the reference pivots weekly sales into 7 weekday columns),
    // SELF-JOINed on the shifted period key, one ratio column per
    // subperiod. Periods are year*12+month (weekofyear straddles year
    // boundaries differently across engines; month arithmetic is
    // identical), subperiods are four day-of-month bands. Ratios are
    // IEEE divisions of exact cents. One agg shuffle + one self-join on
    // the 1-shifted key (the spend-CTE ReusedExchange family). Inlined,
    // monthly is aggregated twice (m1, m2); pinning it once measured
    // within noise of this text at sf0.1, so both engines run the text.
    sqlQ("ds_period_pivot_ratio",
      """WITH monthly AS (
        |  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS mo,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         FILTER (WHERE day(l_shipdate) <= 7) AS wk1_c,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         FILTER (WHERE day(l_shipdate) BETWEEN 8 AND 14) AS wk2_c,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         FILTER (WHERE day(l_shipdate) BETWEEN 15 AND 21) AS wk3_c,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         FILTER (WHERE day(l_shipdate) >= 22) AS wk4_c
        |  FROM lineitem GROUP BY year(l_shipdate) * 12 + month(l_shipdate))
        |SELECT m1.mo AS mo,
        |  CAST(m2.wk1_c AS DOUBLE) / m1.wk1_c AS wk1_ratio,
        |  CAST(m2.wk2_c AS DOUBLE) / m1.wk2_c AS wk2_ratio,
        |  CAST(m2.wk3_c AS DOUBLE) / m1.wk3_c AS wk3_ratio,
        |  CAST(m2.wk4_c AS DOUBLE) / m1.wk4_c AS wk4_ratio
        |FROM monthly m1 JOIN monthly m2 ON m2.mo = m1.mo + 1
        |WHERE m1.wk1_c > 0 AND m1.wk2_c > 0 AND m1.wk3_c > 0 AND m1.wk4_c > 0
        |ORDER BY m1.mo""".stripMargin),

    // q46/q68 shape (tpcds/q46.sql): dimension-mismatch tickets — sales
    // whose ship-side dim differs from the customer's home dim (the
    // reference's "bought in a city other than where they live"),
    // aggregated per ticket, then joined back to the customer for
    // output. The mismatch is an INEQUALITY BETWEEN TWO DIM ALIASES
    // (supplier nation vs customer nation) riding equi-joins — never a
    // join condition. Per-ticket agg keys on the orders join key (one
    // shared hash distribution); customer/supplier/nation broadcast.
    sqlQ("ds_dim_mismatch_tickets",
      """WITH t AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(count(*) AS BIGINT) AS cross_lines,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS amt_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY o_orderkey, o_custkey
        |  HAVING count(*) >= 3)
        |SELECT c_name, o_orderkey, cross_lines, CAST(amt_c AS DOUBLE) / 100 AS amount
        |FROM t JOIN customer ON o_custkey = c_custkey
        |ORDER BY c_name, o_orderkey
        |LIMIT 100""".stripMargin),

    // q64 shape (tpcds/q64.sql): the double self-joined multi-channel
    // star — a HAVING-gated reconciliation CTE (catalog sales whose
    // refunds stay under half the sale) gates a WIDE star aggregate
    // (fact through part, supplier, nation, orders, customer), which is
    // then SELF-JOINED across adjacent years on (item, store) with the
    // q64 cnt <= cnt monotonicity predicate. Each self-join side pushes
    // its own syear literal INTO its star copy (partition-pruned scans
    // beat a ReusedExchange that would scan all years). Dims broadcast;
    // the reconciliation gate is a semi-joinable aggregate keyed on the
    // fact's own join key. (item, store) is unique per side, so
    // ORDER+LIMIT is total.
    sqlQ("ds_double_self_join_star",
      """WITH reconciled AS (
        |  SELECT l_partkey AS item_sk
        |  FROM lineitem WHERE l_returnflag = 'R'
        |  GROUP BY l_partkey
        |  HAVING sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100
        |       > 2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_discount * 100) AS BIGINT))),
        |cross_sales AS (
        |  SELECT p_name AS product_name, p_partkey AS item_sk, s_name AS store_name,
        |    n_name AS store_nation, year(l_shipdate) AS syear,
        |    CAST(count(*) AS BIGINT) AS cnt,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s1_c,
        |    sum(CAST(l_quantity AS BIGINT)) * 100 AS s2_c,
        |    CAST((sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) + 50
        |      - (sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |         * CAST(round(l_discount * 100) AS BIGINT)) + 50) % 100) / 100 AS BIGINT) AS s3_c
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN reconciled ON l_partkey = reconciled.item_sk
        |  WHERE p_size <= 40
        |  GROUP BY p_name, p_partkey, s_name, n_name, year(l_shipdate))
        |SELECT cs1.product_name, cs1.item_sk, cs1.store_name, cs1.store_nation,
        |  cs1.cnt AS cnt1, cs2.cnt AS cnt2,
        |  CAST(cs1.s1_c AS DOUBLE) / 100 AS s11,
        |  CAST(cs1.s2_c AS DOUBLE) / 100 AS s21,
        |  CAST(cs1.s3_c AS DOUBLE) / 100 AS s31,
        |  CAST(cs2.s1_c AS DOUBLE) / 100 AS s12,
        |  CAST(cs2.s2_c AS DOUBLE) / 100 AS s22,
        |  CAST(cs2.s3_c AS DOUBLE) / 100 AS s32
        |FROM cross_sales cs1
        |JOIN cross_sales cs2
        |  ON cs1.item_sk = cs2.item_sk AND cs1.store_name = cs2.store_name
        |WHERE cs1.syear = 1995 AND cs2.syear = 1996 AND cs2.cnt <= cs1.cnt
        |ORDER BY cs1.item_sk, cs1.store_name
        |LIMIT 100""".stripMargin),

    // q31 shape (tpcds/q31.sql): share-of-growth — county-quarter
    // aggregates for two channels, SIX aliases of them joined on county,
    // keeping counties where the web channel out-grew the store channel
    // in BOTH adjacent quarter transitions. The literal text re-scans
    // the fact six times (Presto inlines WITH; so does Spark) — the
    // Spark side aggregates ONCE and self-joins the cached
    // dimension-bounded result (see shareOfGrowthPlan; the same
    // cache-pin precedent as ds_cross_channel_cte). Growth comparisons
    // are decimal cross-multiplications; ratios are IEEE divisions of
    // exact cents.
    // Kept as a hand plan: 2.57 s wall / 2.52 s CPU vs the text's 3.41 s / 6.19 s (sf1); at sf0.1 the text's wall is lower (1.56 s vs 2.45 s).
    Q("ds_share_of_growth",
      """WITH sales AS (
        |  SELECT n_name AS county, quarter(o_orderdate) AS qoy, l_returnflag AS flag,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  WHERE year(o_orderdate) = 1995 AND l_returnflag IN ('N', 'A')
        |  GROUP BY n_name, quarter(o_orderdate), l_returnflag)
        |SELECT ss1.county,
        |  CAST(ws2.rev_c AS DOUBLE) / ws1.rev_c AS web_q1_q2_increase,
        |  CAST(ss2.rev_c AS DOUBLE) / ss1.rev_c AS store_q1_q2_increase,
        |  CAST(ws3.rev_c AS DOUBLE) / ws2.rev_c AS web_q2_q3_increase,
        |  CAST(ss3.rev_c AS DOUBLE) / ss2.rev_c AS store_q2_q3_increase
        |FROM sales ss1, sales ss2, sales ss3, sales ws1, sales ws2, sales ws3
        |WHERE ss1.flag = 'N' AND ss1.qoy = 1
        |  AND ss2.flag = 'N' AND ss2.qoy = 2 AND ss2.county = ss1.county
        |  AND ss3.flag = 'N' AND ss3.qoy = 3 AND ss3.county = ss1.county
        |  AND ws1.flag = 'A' AND ws1.qoy = 1 AND ws1.county = ss1.county
        |  AND ws2.flag = 'A' AND ws2.qoy = 2 AND ws2.county = ss1.county
        |  AND ws3.flag = 'A' AND ws3.qoy = 3 AND ws3.county = ss1.county
        |  AND CAST(ws2.rev_c AS DECIMAL(38,0)) * ss1.rev_c
        |    > CAST(ss2.rev_c AS DECIMAL(38,0)) * ws1.rev_c
        |  AND CAST(ws3.rev_c AS DECIMAL(38,0)) * ss2.rev_c
        |    > CAST(ss3.rev_c AS DECIMAL(38,0)) * ws2.rev_c
        |ORDER BY ss1.county""".stripMargin) { (s, _) =>
      copyOut(shareOfGrowthPlan(s))
    },

    // q88 shape (tpcds/q88.sql): the reference text is EIGHT scalar
    // subqueries over the same fact — one per time band, identical
    // dimensional predicate — cross-joined into a single row. A
    // Presto-style plan runs eight scans. The Spark-first re-expression
    // is ONE conditional-aggregation pass: band membership becomes a
    // sum(CASE), so the fact is read once and there is no join at all
    // (EngineSpecs pins: exactly one scan of events, zero joins). The
    // oracle runs the reference's literal eight-subquery cross-join
    // form — same result, which is exactly the point: the rewrite is
    // semantics-preserving. At 100 TB this is 8x less IO and no
    // single-row join chain.
    {
      val bandFilter = "event_type IN ('click','view') AND " +
        "(value BETWEEN 0 AND 5 OR value BETWEEN 10 AND 15 OR value BETWEEN 20 AND 25)"
      val bands = Seq((0, 3), (3, 6), (6, 9), (9, 12), (12, 15), (15, 18), (18, 21), (21, 24))
      val sub = bands.zipWithIndex.map { case ((lo, hi), i) =>
        s"""(SELECT count(*)::BIGINT c FROM events
           |  WHERE hour(ts) >= $lo AND hour(ts) < $hi AND $bandFilter) s${i + 1}""".stripMargin
      }
      val cols = bands.zipWithIndex
        .map { case ((lo, hi), i) => s"s${i + 1}.c AS h${lo}_$hi" }.mkString(", ")
      // Kept as a hand plan: 0.14 s wall / 0.03 s CPU vs the text's 0.41 s / 0.24 s (sf0.1).
      Q("ds_multi_band_scan",
        s"SELECT $cols FROM\n${sub.mkString(",\n")}") { (s, _) =>
        import org.apache.spark.sql.functions._
        val keep = col("event_type").isin("click", "view") &&
          (col("value").between(0, 5) || col("value").between(10, 15) ||
            col("value").between(20, 25))
        val h = hour(col("ts"))
        val aggs = bands.map { case (lo, hi) =>
          sum(when(keep && h >= lo && h < hi, 1L).otherwise(0L)).as(s"h${lo}_$hi")
        }
        s.table("events").agg(aggs.head, aggs.tail: _*)
      }
    },

    // q44 shape (tpcds/q44.sql): best/worst performers — one per-item
    // aggregate, TWO rank windows over it (ascending and descending),
    // joined ON RANK, top-10, each side re-joined to the item dim for
    // names. Rank order is total (exact cents, then partkey), so the
    // best/worst pairing is engine-stable. Scale: the windows run over
    // the ITEM-LEVEL aggregate (dimension-bounded, not the fact), the
    // rk <= 10 filter hits the window-group-limit fast path, and both
    // part joins broadcast.
    sqlQ("ds_best_worst_rank_join",
      """WITH perf AS (
        |  SELECT l_partkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem GROUP BY l_partkey),
        |best AS (
        |  SELECT l_partkey, CAST(rank() OVER (ORDER BY rev_c DESC, l_partkey) AS BIGINT) AS rnk
        |  FROM perf),
        |worst AS (
        |  SELECT l_partkey, CAST(rank() OVER (ORDER BY rev_c ASC, l_partkey) AS BIGINT) AS rnk
        |  FROM perf)
        |SELECT b.rnk AS rnk, pb.p_name AS best_performing, pw.p_name AS worst_performing
        |FROM best b JOIN worst w ON b.rnk = w.rnk
        |JOIN part pb ON b.l_partkey = pb.p_partkey
        |JOIN part pw ON w.l_partkey = pw.p_partkey
        |WHERE b.rnk <= 10
        |ORDER BY b.rnk""".stripMargin),

    // q32/q92 shape: "excess discount" — fact rows whose discount
    // exceeds 1.3x the average discount of THAT item over the same
    // period (a correlated scalar average in the reference text). The
    // restatement joins the fact to its own per-item aggregate: both
    // sides hash on l_partkey, so ONE distribution serves the agg and
    // the join. Membership is integer-exact (discount hundredths x 10 x
    // count > 13 x sum), so no row flips on float drift.
    // r17 (VERDICT r16 item 1): the excess-revenue sum is GLOBAL cents —
    // ~3.2e18 at 100 TB, thin inside int64. TWO-LEVEL SUM keyed on
    // l_partkey: the per-partkey partial rides the SAME hash
    // distribution the join/davg already established (no extra fact
    // exchange — per-partkey row counts are corpus-bounded constants),
    // and the final merge over the partkey rows is DECIMAL(38,0).
    // Identical integers; CAST(DECIMAL AS DOUBLE) of the same integer ==
    // CAST(BIGINT AS DOUBLE); coalesce pins the empty-input n_lines to
    // the 0 the old count(*) produced.
    sqlQ("ds_excess_discount",
      """WITH davg AS (
        |  SELECT l_partkey AS dp,
        |    CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_sum_c,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM lineitem
        |  WHERE l_shipdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'
        |  GROUP BY l_partkey),
        |ex AS (
        |  SELECT dp,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem JOIN davg ON l_partkey = dp
        |  WHERE l_shipdate BETWEEN DATE '1994-01-01' AND DATE '1994-12-31'
        |    AND CAST(round(l_discount * 100) AS BIGINT) * 10 * cnt > 13 * disc_sum_c
        |  GROUP BY dp)
        |SELECT CAST(sum(CAST(rev_c AS DECIMAL(38,0))) AS DOUBLE) / 100 AS excess_revenue,
        |  CAST(coalesce(sum(n), 0) AS BIGINT) AS n_lines
        |FROM ex""".stripMargin),

    // q16/q94 shape: the semi + ANTI chain — orders shipped by at least
    // two distinct suppliers (EXISTS against another alias of the same
    // fact) that were NEVER returned (NOT EXISTS). The anti-join is what
    // ds_reachability_semi does not cover: both subqueries key on
    // l_orderkey/o_orderkey, so the semi, the anti and the outer fact
    // share ONE hash distribution; neither EXISTS duplicates order rows
    // the way an IN-to-inner rewrite would.
    sqlQ("ds_semi_anti_chain",
      """SELECT year(o_orderdate) AS yr, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS total_price
        |FROM orders
        |WHERE EXISTS (
        |    SELECT 1 FROM lineitem l1
        |    WHERE l1.l_orderkey = o_orderkey AND EXISTS (
        |      SELECT 1 FROM lineitem l2
        |      WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey))
        |  AND NOT EXISTS (
        |    SELECT 1 FROM lineitem lr
        |    WHERE lr.l_orderkey = o_orderkey AND lr.l_returnflag = 'R')
        |GROUP BY year(o_orderdate)""".stripMargin),

    // q36/q70/q86 shape: rank WITHIN the rollup hierarchy — a two-level
    // ROLLUP whose rank() partitions on (lochierarchy, parent): leaf
    // rows rank against siblings under the same p_type, the p_type
    // subtotals rank against each other. One Expand + one agg shuffle +
    // one window shuffle; rank keys are exact cents with a total
    // tie-break, so sibling order is engine-stable.
    sqlQ("ds_hierarchy_rank",
      """WITH agg AS (
        |  SELECT p_type, p_brand,
        |    CAST(grouping(p_type) + grouping(p_brand) AS BIGINT) AS lochierarchy,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_size <= 15
        |  GROUP BY ROLLUP (p_type, p_brand))
        |SELECT p_type, p_brand, lochierarchy, CAST(rev_c AS DOUBLE) / 100 AS revenue,
        |  rank_within_parent
        |FROM (
        |  SELECT *, CAST(rank() OVER (
        |      PARTITION BY lochierarchy, CASE WHEN lochierarchy = 0 THEN p_type END
        |      ORDER BY rev_c DESC, p_brand NULLS FIRST, p_type NULLS FIRST)
        |    AS BIGINT) AS rank_within_parent
        |  FROM agg) t
        |WHERE rank_within_parent <= 5""".stripMargin),

    // q12/q20/q98 shape: revenue share within class — a (class, item)
    // aggregate, then each item's share of its class total via
    // sum() OVER (PARTITION BY class). The share is a final-projection
    // division of exact cents rounded to 6dp; the window runs over the
    // dimension-bounded aggregate, partitioned (no global window).
    sqlQ("ds_class_share_window",
      """WITH itemrev AS (
        |  SELECT p_type, p_brand,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1995-01-31'
        |  GROUP BY p_type, p_brand)
        |SELECT p_type, p_brand, CAST(rev_c AS DOUBLE) / 100 AS itemrevenue,
        |  round(CAST(rev_c AS DOUBLE) * 100 /
        |    CAST(sum(rev_c) OVER (PARTITION BY p_type) AS DOUBLE), 6) AS revenueratio
        |FROM itemrev""".stripMargin),

    // q47/q57 proper (beyond ds_moving_avg's centered ROWS frame): the
    // NEIGHBOR columns — lag/lead of the monthly series next to a
    // full-partition year average, keeping months deviating >10% from
    // their year mean and reporting the preceding/following months.
    // Membership is integer cross-multiplication; two window specs
    // (brand-ordered and brand-year) over ONE dimension-bounded
    // aggregate.
    sqlQ("ds_lag_lead_neighbors",
      """WITH monthly AS (
        |  SELECT p_brand, year(l_shipdate) AS yr, month(l_shipdate) AS moy,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) * 100 AS BIGINT) AS qty_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY p_brand, year(l_shipdate), month(l_shipdate)),
        |v AS (
        |  SELECT p_brand, yr, moy, qty_c,
        |    lag(qty_c) OVER (PARTITION BY p_brand ORDER BY yr, moy) AS psum,
        |    lead(qty_c) OVER (PARTITION BY p_brand ORDER BY yr, moy) AS nsum,
        |    sum(qty_c) OVER (PARTITION BY p_brand, yr) AS ysum,
        |    CAST(count(*) OVER (PARTITION BY p_brand, yr) AS BIGINT) AS ymonths
        |  FROM monthly)
        |SELECT p_brand, yr, moy, qty_c,
        |  CAST(psum AS BIGINT) AS psum, CAST(nsum AS BIGINT) AS nsum,
        |  round(CAST(qty_c * ymonths AS DOUBLE) / CAST(ysum AS DOUBLE), 6) AS ratio_to_year_avg
        |FROM v
        |WHERE psum IS NOT NULL AND nsum IS NOT NULL
        |  AND abs(qty_c * ymonths - ysum) * 10 > ysum""".stripMargin),

    // q21 shape: before/after a pivot date — per (supplier, brand)
    // quantity shipped in the window before vs after, kept when the two
    // sides are within a 2/3..3/2 band (integer cross-multiplication).
    // ONE scan with conditional sums (no self-join); supplier and part
    // broadcast.
    sqlQ("ds_stock_before_after",
      """SELECT s_name, p_brand, qty_before_c, qty_after_c
        |FROM (
        |  SELECT s_name, p_brand,
        |    CAST(sum(CASE WHEN l_shipdate < DATE '1995-06-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 100 AS BIGINT) AS qty_before_c,
        |    CAST(sum(CASE WHEN l_shipdate >= DATE '1995-06-01'
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) * 100 AS BIGINT) AS qty_after_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate BETWEEN DATE '1995-03-01' AND DATE '1995-09-01'
        |  GROUP BY s_name, p_brand) t
        |WHERE qty_before_c > 0
        |  AND qty_after_c * 2 <= qty_before_c * 3
        |  AND qty_after_c * 3 >= qty_before_c * 2""".stripMargin),

    // q17/q25/q29 shape: the sold -> returned -> re-bought chain —
    // three aggregates of the same fact keyed on the SAME composite
    // (customer-nation, item) key, 3-way inner join, rolled up per
    // brand. All three aggs and both joins share one (nation, partkey)
    // hash distribution (the fixture's A/R flags live pre-mid-1994 and
    // N after, so the three flags ARE a temporal chain); part
    // broadcasts into the final rollup.
    sqlQ("ds_repeat_return_chain",
      """WITH sold AS (
        |  SELECT c_nationkey AS nk, l_partkey AS pk,
        |    sum(CAST(l_quantity AS BIGINT)) * 100 AS sold_q_c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'A' GROUP BY c_nationkey, l_partkey),
        |returned AS (
        |  SELECT c_nationkey AS nk, l_partkey AS pk,
        |    sum(CAST(l_quantity AS BIGINT)) * 100 AS ret_q_c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'R' GROUP BY c_nationkey, l_partkey),
        |rebought AS (
        |  SELECT c_nationkey AS nk, l_partkey AS pk,
        |    sum(CAST(l_quantity AS BIGINT)) * 100 AS rebuy_q_c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  WHERE l_returnflag = 'N' GROUP BY c_nationkey, l_partkey)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_chains,
        |  CAST(sum(s.sold_q_c) AS BIGINT) AS sold_q_c,
        |  CAST(sum(r.ret_q_c) AS BIGINT) AS returned_q_c,
        |  CAST(sum(b.rebuy_q_c) AS BIGINT) AS rebought_q_c
        |FROM sold s
        |JOIN returned r ON s.nk = r.nk AND s.pk = r.pk
        |JOIN rebought b ON s.nk = b.nk AND s.pk = b.pk
        |JOIN part ON s.pk = p_partkey
        |GROUP BY p_brand""".stripMargin),

    // q28 shape: per-band count / DISTINCT count / exact sum over ONE
    // scan — the mixed distinct-and-plain aggregate set that drives
    // Spark's RewriteDistinctAggregates Expand (the reference text is
    // six scalar subqueries; the fold is the q9/q88 precedent). Sums
    // are coalesced so an empty band reads 0, not NULL, in both
    // engines.
    sqlQ("ds_band_distinct_probe",
      """SELECT
        |  CAST(count(*) FILTER (WHERE l_quantity BETWEEN 1 AND 10) AS BIGINT) AS b1_cnt,
        |  CAST(count(DISTINCT l_extendedprice) FILTER (WHERE l_quantity BETWEEN 1 AND 10) AS BIGINT) AS b1_prices,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_quantity BETWEEN 1 AND 10), 0) AS BIGINT) AS b1_rev_c,
        |  CAST(count(*) FILTER (WHERE l_quantity BETWEEN 11 AND 20) AS BIGINT) AS b2_cnt,
        |  CAST(count(DISTINCT l_extendedprice) FILTER (WHERE l_quantity BETWEEN 11 AND 20) AS BIGINT) AS b2_prices,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_quantity BETWEEN 11 AND 20), 0) AS BIGINT) AS b2_rev_c,
        |  CAST(count(*) FILTER (WHERE l_quantity BETWEEN 21 AND 35) AS BIGINT) AS b3_cnt,
        |  CAST(count(DISTINCT l_extendedprice) FILTER (WHERE l_quantity BETWEEN 21 AND 35) AS BIGINT) AS b3_prices,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_quantity BETWEEN 21 AND 35), 0) AS BIGINT) AS b3_rev_c,
        |  CAST(count(*) FILTER (WHERE l_quantity BETWEEN 36 AND 50) AS BIGINT) AS b4_cnt,
        |  CAST(count(DISTINCT l_extendedprice) FILTER (WHERE l_quantity BETWEEN 36 AND 50) AS BIGINT) AS b4_prices,
        |  CAST(coalesce(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_quantity BETWEEN 36 AND 50), 0) AS BIGINT) AS b4_rev_c
        |FROM lineitem""".stripMargin),

    // q66 shape: the WIDE month pivot — 12 conditional cent-sums per
    // (warehouse=supplier, carrier=line-band, year) in ONE pass (the
    // reference text unions two carrier-filtered copies; the fold is
    // the q76 precedent — partials push below everything, one agg
    // shuffle regardless of pivot width).
    sqlQ("ds_carrier_month_pivot",
      """SELECT s_name,
        |  CASE WHEN l_linenumber = 1 THEN 'DIAMOND' ELSE 'GERBIL' END AS carrier,
        |  year(l_shipdate) AS yr,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 1 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS jan_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 2 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS feb_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 3 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS mar_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 4 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS apr_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 5 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS may_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 6 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS jun_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 7 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS jul_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 8 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS aug_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 9 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS sep_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 10 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS oct_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 11 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS nov_c,
        |  CAST(sum(CASE WHEN month(l_shipdate) = 12 THEN CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS dec_c
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name, CASE WHEN l_linenumber = 1 THEN 'DIAMOND' ELSE 'GERBIL' END,
        |  year(l_shipdate)""".stripMargin),

    // q54 shape: customer revenue segmentation — a per-customer
    // aggregate re-aggregated into $5,000 revenue bands. Two stacked
    // aggs: one fact shuffle on custkey, then a tiny shuffle on the
    // band. The band edge is floor() of an exact-cents double
    // (cents < 2^53 keeps it exact in both engines).
    sqlQ("ds_customer_value_band",
      """WITH per_cust AS (
        |  SELECT o_custkey,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev_c
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY o_custkey)
        |SELECT CAST(floor(CAST(rev_c AS DOUBLE) / 500000) AS BIGINT) AS segment,
        |  CAST(count(*) AS BIGINT) AS num_customers
        |FROM per_cust
        |GROUP BY 1""".stripMargin),

    // q6 shape: items priced above their category average — the
    // reference's correlated scalar AVG over the item dim (q6 uses
    // 1.2x; the fixture's retail prices sit within ~1% of their type
    // mean, so the premium band here is 1.005x = 201/200 — same shape,
    // non-degenerate selectivity). The average lives entirely in the
    // DIMENSION (part), so the threshold frame is a per-type aggregate
    // of part alone — tiny, broadcast into the fact scan; the test is
    // integer cross-multiplication.
    sqlQ("ds_category_premium",
      """WITH type_avg AS (
        |  SELECT p_type AS t_type,
        |    CAST(sum(CAST(round(p_retailprice * 100) AS BIGINT)) AS BIGINT) AS price_sum_c,
        |    CAST(count(*) AS BIGINT) AS n_items
        |  FROM part GROUP BY p_type)
        |SELECT n_name, CAST(count(*) AS BIGINT) AS n_premium_lines,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100 AS premium_revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN type_avg ON p_type = t_type
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(round(p_retailprice * 100) AS BIGINT) * 200 * n_items > 201 * price_sum_c
        |GROUP BY n_name""".stripMargin),

    // q5/q77/q80 shape: per-channel profit-and-loss — sales and returns
    // aggregated separately per (channel, location), FULL OUTER joined
    // (a location can have returns with no sales in-window), then a
    // ROLLUP over the joined frame for channel and grand totals.
    // Exactly two fact passes (one per side), each ONE agg shuffle; the
    // outer join and rollup run over dimension-bounded frames.
    sqlQ("ds_channel_profit_rollup",
      """WITH sales AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN 'first_line'
        |              WHEN l_linenumber <= 3 THEN 'mid_lines' ELSE 'tail_lines' END AS channel,
        |    CAST(s_nationkey AS BIGINT) AS loc,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sales_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_returnflag <> 'R' GROUP BY 1, 2),
        |rets AS (
        |  SELECT CASE WHEN l_linenumber = 1 THEN 'first_line'
        |              WHEN l_linenumber <= 3 THEN 'mid_lines' ELSE 'tail_lines' END AS channel,
        |    CAST(s_nationkey AS BIGINT) AS loc,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS returns_c
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE l_returnflag = 'R' GROUP BY 1, 2),
        |j AS (
        |  SELECT coalesce(s.channel, r.channel) AS channel, coalesce(s.loc, r.loc) AS loc,
        |    coalesce(s.sales_c, 0) AS sales_c, coalesce(r.returns_c, 0) AS returns_c
        |  FROM sales s FULL OUTER JOIN rets r ON s.channel = r.channel AND s.loc = r.loc)
        |SELECT channel, loc,
        |  CAST(grouping(channel) * 2 + grouping(loc) AS BIGINT) AS gid,
        |  CAST(sum(sales_c) AS BIGINT) AS sales_c,
        |  CAST(sum(returns_c) AS BIGINT) AS returns_c,
        |  CAST(sum(sales_c) - sum(returns_c) AS BIGINT) AS profit_c
        |FROM j GROUP BY ROLLUP (channel, loc)""".stripMargin),

    // q50 shape: return-lag buckets — returned lines bucketed by how
    // long after the order they shipped (30/60/90/120/120+ days), per
    // supplier. The lag test is date-vs-date+INTERVAL (portable, no
    // datediff dialect split); one fact-dim join and one agg shuffle,
    // supplier broadcast.
    sqlQ("ds_return_lag_buckets",
      """SELECT s_name,
        |  CAST(count(*) FILTER (WHERE l_shipdate <= o_orderdate + INTERVAL 30 DAY) AS BIGINT) AS d30,
        |  CAST(count(*) FILTER (WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
        |    AND l_shipdate <= o_orderdate + INTERVAL 60 DAY) AS BIGINT) AS d60,
        |  CAST(count(*) FILTER (WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
        |    AND l_shipdate <= o_orderdate + INTERVAL 90 DAY) AS BIGINT) AS d90,
        |  CAST(count(*) FILTER (WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |    AND l_shipdate <= o_orderdate + INTERVAL 120 DAY) AS BIGINT) AS d120,
        |  CAST(count(*) FILTER (WHERE l_shipdate > o_orderdate + INTERVAL 120 DAY) AS BIGINT) AS d120plus
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE l_returnflag = 'R'
        |GROUP BY s_name""".stripMargin))
}
