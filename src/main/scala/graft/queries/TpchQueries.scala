package graft.queries

import graft.engine.Engine.PinOps

/** TPC-H-style headline queries restated for the driver's fixture schema
  * (FIXTURES.md — no partsupp, fewer columns). These are the reference's
  * own benchmark queries (presto-benchto-benchmarks/src/main/resources/
  * sql/presto/tpch/q01..q22.sql; hand-coded Q1/Q6 in
  * presto-benchmark/.../HandTpchQuery1.java, HandTpchQuery6.java).
  *
  * Spark runs each query's oracle text (`sqlQ`), except the five partsupp
  * readers (`psQ`, whose text lacks only the oracle's partsupp CTE) and
  * q15, a hand plan for the reason stated beside it. Catalyst handles
  * pushdown, partial aggregation, and join strategy (broadcast for
  * dims). At 100 TB:
  * lineitem/orders shuffle on their join keys once; nation/region/
  * customer/supplier are broadcast — verified via .explain in the specs.
  */
object TpchQueries extends QueryModule {

  /** Queries expressible identically in Spark SQL and DuckDB run the
    * same text on both engines.
    */
  private def sqlQ(name: String, sql: String): Q = Q.sameSql(name, sql)

  private def extendedQueries: Seq[Q] = Seq(

    // Q4: order priority checking — EXISTS against lineitem (commit/
    // receipt dates absent; restated as late shipping vs order date).
    sqlQ("q4_order_priority",
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin),

    // Q7: volume shipping between two nations, by year.
    sqlQ("q7_volume_shipping",
      """SELECT supp_nation, cust_nation, l_year, sum(volume) AS revenue
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        year(l_shipdate) AS l_year,
        |        l_extendedprice * (1 - l_discount) AS volume
        |      FROM supplier, lineitem, orders, customer, nation n1, nation n2
        |      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        |        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        |        AND c_nationkey = n2.n_nationkey
        |        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |        AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1997-12-31') t
        |GROUP BY supp_nation, cust_nation, l_year""".stripMargin),

    // Q8: national market share within a region for a part type.
    sqlQ("q8_market_share",
      """SELECT o_year,
        |  sum(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) / sum(volume) AS mkt_share
        |FROM (SELECT year(o_orderdate) AS o_year,
        |        l_extendedprice * (1 - l_discount) AS volume,
        |        n2.n_name AS nation
        |      FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
        |      WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
        |        AND l_orderkey = o_orderkey AND o_custkey = c_custkey
        |        AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
        |        AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
        |        AND p_type = 'ECONOMY') t
        |GROUP BY o_year""".stripMargin),

    // Q13: distribution of order counts per customer (outer join with an
    // extra ON predicate).
    sqlQ("q13_customer_distribution",
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY c_custkey) t
        |GROUP BY c_count""".stripMargin),

    // Q15: top supplier by quarterly revenue. The textbook form joins on
    // exact floating-point equality between two evaluations of the same
    // CTE — Spark may plan the CTE twice with different partial-agg
    // orders and silently drop the top supplier. The r6 rank() fix
    // evaluated it once but ranked over an UNPARTITIONED window: a
    // single-task global sort of |suppliers| rows (the one remaining
    // WindowExec "No Partition Defined" in the bench). Restated: the
    // per-supplier revenue is materialized ONCE (localCheckpoint —
    // executor-resident, |suppliers| rows, no driver collect), its max
    // is a 1-row aggregate, and membership is a broadcast join against
    // that max over the SAME materialized values — return-all-ties, one
    // evaluation, no global sort. The oracle keeps the rank() SQL
    // (equivalent set; DuckDB has no double-evaluation hazard).
    Q("q15_top_supplier",
      """WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |         sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT supplier_no, total_revenue,
        |         rank() OVER (ORDER BY total_revenue DESC) AS rn
        |  FROM revenue)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN ranked ON s_suppkey = supplier_no
        |WHERE rn = 1""".stripMargin) { (s, _) =>
      import org.apache.spark.sql.functions._
      val revenue = s.table("lineitem")
        .filter(expr("l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'"))
        .groupBy(col("l_suppkey"))
        .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_revenue"))
        .pinned()
      val mx = revenue.agg(max(col("total_revenue")).as("mx"))
      val top = revenue.join(broadcast(mx), col("total_revenue") === col("mx")).drop("mx")
      s.table("supplier").join(top, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },

    // Q17: small-quantity-order revenue (correlated scalar average).
    sqlQ("q17_small_quantity",
      """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
        |                    FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""".stripMargin),

    // Q21-style: suppliers who were the last to ship in multi-supplier
    // finalized orders (EXISTS + NOT EXISTS correlated pair).
    sqlQ("q21_waiting_supplier",
      """SELECT s_name, CAST(count(DISTINCT l1.l_orderkey) AS BIGINT) AS numwait
        |FROM supplier
        |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |WHERE o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_shipdate > l1.l_shipdate)
        |GROUP BY s_name""".stripMargin),

    // Q22-style: wealthy customers with no orders, by nation (phone
    // country codes absent; nationkey plays that role).
    sqlQ("q22_global_sales_opportunity",
      """SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust,
        |  sum(c_acctbal) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey""".stripMargin))

  /** The fixture has no partsupp table; `Engine.registerTables`
    * materializes the synthesized stand-in ONCE per fixture dir as a
    * cached table (see `Engine.partsuppSelect` for the derivation and the
    * scale rationale). The Spark side of the five consumers (Q2/Q9/Q11/
    * Q16/Q20) reads `partsupp` like any other table; the DuckDB oracle —
    * which sees only the raw parquet fixtures — replays the identical
    * definition as this CTE prefix. Values are byte-identical because the
    * SQL text is shared.
    */
  private val partsuppCte: String =
    "WITH partsupp AS (\n" +
      graft.engine.Engine.partsuppSelect.linesIterator.map("  " + _).mkString("\n") +
      ")"

  /** Query over partsupp: Spark runs `body` against the registered table;
    * the oracle gets the CTE prefix spliced in. `body` must start with
    * either `SELECT` or a CTE list (`name AS (...)`) — flagged by
    * `moreCtes`.
    */
  private def psQ(name: String, body: String, moreCtes: Boolean = false): Q = {
    val sparkSql = if (moreCtes) s"WITH $body" else body
    val oracleSql = if (moreCtes) s"$partsuppCte,\n$body" else s"$partsuppCte\n$body"
    Q(name, oracleSql)((s, _) => s.sql(sparkSql))
  }

  private def partsuppQueries: Seq[Q] = Seq(

    // Q2: minimum-cost supplier — correlated min over a 5-way join
    // (q02.sql). The correlated scalar subquery decorrelates to an
    // aggregate join on ps_partkey (high-cardinality, scale-safe).
    psQ("q2_min_cost_supplier", moreCtes = true, body =
      """europe AS (
        |  SELECT ps_partkey, ps_supplycost, s_acctbal, s_name, n_name
        |  FROM partsupp, supplier, nation, region
        |  WHERE s_suppkey = ps_suppkey AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey AND r_name = 'EUROPE')
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_brand
        |FROM part, europe
        |WHERE p_partkey = ps_partkey AND p_size IN (15, 25, 35) AND p_type LIKE '%ARD'
        |  AND ps_supplycost = (SELECT min(e2.ps_supplycost) FROM europe e2
        |                       WHERE e2.ps_partkey = p_partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin),

    // Q9: product-type profit rollup over a 6-way join (q09.sql).
    psQ("q9_product_profit",
      """SELECT nation, o_year, sum(amount) AS sum_profit
        |FROM (SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |        l_extendedprice * (1 - l_discount) - ps_supplycost * l_quantity AS amount
        |      FROM part, supplier, lineitem, partsupp, orders, nation
        |      WHERE s_suppkey = l_suppkey AND ps_suppkey = l_suppkey
        |        AND ps_partkey = l_partkey AND p_partkey = l_partkey
        |        AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
        |        AND p_name LIKE '%red%') profit
        |GROUP BY nation, o_year""".stripMargin),

    // Q11: important stock — same aggregate appears grouped and as a
    // global scalar-subquery threshold (q11.sql). Values stay BIGINT
    // (cost units × qty) so the HAVING boundary is exact; DuckDB's
    // HUGEINT sum is cast back to BIGINT.
    psQ("q11_important_stock", moreCtes = true, body =
      """germany AS (
        |  SELECT ps_partkey, ps_costunits * ps_availqty AS v
        |  FROM partsupp, supplier, nation
        |  WHERE ps_suppkey = s_suppkey AND s_nationkey = n_nationkey
        |    AND n_name IN ('NATION_7', 'NATION_8', 'NATION_13'))
        |SELECT ps_partkey, CAST(sum(v) AS BIGINT) AS value_units
        |FROM germany
        |GROUP BY ps_partkey
        |HAVING CAST(sum(v) AS BIGINT) >
        |  (SELECT CAST(sum(v) AS BIGINT) FROM germany) / 1000.0""".stripMargin),

    // Q16: parts/supplier relationship — anti-join (NOT IN) + grouped
    // count(DISTINCT) (q16.sql; supplier comment filter restated over
    // s_acctbal since the fixture has no comment column).
    psQ("q16_parts_supplier",
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT ps_suppkey) AS BIGINT) AS supplier_cnt
        |FROM partsupp, part
        |WHERE p_partkey = ps_partkey
        |  AND p_brand <> 'Brand#13'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (49, 14, 23, 45, 19, 3, 36, 9)
        |  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin),

    // Q20: potential promotion — nested semi-joins with a correlated
    // scalar half-sum threshold (q20.sql; name/address output restated
    // to the fixture's columns).
    psQ("q20_potential_promotion",
      """SELECT s_suppkey, s_name
        |FROM supplier, nation
        |WHERE s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (SELECT 0.5 * sum(l_quantity) FROM lineitem
        |                         WHERE l_partkey = ps_partkey
        |                           AND l_suppkey = ps_suppkey
        |                           AND l_shipdate >= TIMESTAMP '1996-01-01'
        |                           AND l_shipdate < TIMESTAMP '1997-01-01'))
        |  AND s_nationkey = n_nationkey AND n_name IN ('NATION_3', 'NATION_14')""".stripMargin))

  def queries: Seq[Q] = extendedQueries ++ partsuppQueries ++ Seq(

    sqlQ("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_base_price,
        |  sum(l_extendedprice*(1-l_discount)) AS sum_disc_price,
        |  sum(l_extendedprice*(1-l_discount)*(1+l_tax)) AS sum_charge,
        |  avg(l_quantity) AS avg_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  avg(l_discount) AS avg_disc,
        |  CAST(count(*) AS BIGINT) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),

    sqlQ("q6_forecast_revenue",
      """SELECT sum(l_extendedprice*l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    sqlQ("q3_shipping_priority",
      """SELECT l_orderkey,
        |  sum(l_extendedprice*(1-l_discount)) AS revenue,
        |  o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin),

    sqlQ("q5_local_supplier_volume",
      """SELECT n_name, sum(l_extendedprice*(1-l_discount)) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name""".stripMargin),

    sqlQ("q10_returned_items",
      """SELECT c_custkey, c_name,
        |  sum(l_extendedprice*(1-l_discount)) AS revenue,
        |  c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // Q12-style: shipping-mode restated over orderpriority buckets
    sqlQ("q12_priority_shipping",
      """SELECT l_linestatus,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_linestatus""".stripMargin),

    // Q14-style: promo revenue share (part join + conditional agg)
    sqlQ("q14_promo_effect",
      """SELECT 100.0 * sum(CASE WHEN p_type = 'PROMO' THEN l_extendedprice*(1-l_discount) ELSE 0 END)
        |    / sum(l_extendedprice*(1-l_discount)) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin),

    // Q18-style: large-volume customers (agg + having + semi-join shape)
    sqlQ("q18_large_volume_customer",
      """SELECT c_custkey, c_name, o_orderkey, o_totalprice,
        |  sum(l_quantity) AS total_qty
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150)
        |GROUP BY c_custkey, c_name, o_orderkey, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin),

    // Q19-style: bracketed disjunctive predicates over part join
    sqlQ("q19_discounted_revenue",
      """SELECT sum(l_extendedprice*(1-l_discount)) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)""".stripMargin))
}
