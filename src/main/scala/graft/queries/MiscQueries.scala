package graft.queries

import org.apache.spark.sql.functions._

/** Comparison/type-system semantics (SURVEY §2.9 comparison ops & casts,
  * §7.4 deltas): NULLS FIRST/LAST ordering, IS DISTINCT FROM, LIKE with
  * ESCAPE, struct (row) comparison, decimal arithmetic, year-month
  * interval arithmetic.
  *
  * Reference: type operator classes FR:499-560 (RowComparisonOperator,
  * IS DISTINCT FROM), LikeFunctions.java:39, DecimalType /
  * UnscaledDecimal128Arithmetic.java, DateTimeOperators.java.
  */
object MiscQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    // NULLS FIRST / NULLS LAST with a computed nullable key.
    Q.sameSql("misc_orderby_nulls",
      """SELECT o_orderkey, nullif(o_orderstatus, 'O') AS nullable_status
        |FROM orders
        |ORDER BY nullable_status NULLS FIRST, o_orderkey
        |LIMIT 100""".stripMargin),

    // IS [NOT] DISTINCT FROM — null-safe comparison (Spark <=>).
    Q.sameSql("misc_is_distinct",
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'O') IS DISTINCT FROM 'F' AS d1,
        |  nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL AS d2
        |FROM orders WHERE o_orderkey <= 1000""".stripMargin),

    // LIKE with ESCAPE — LikeFunctions.java compiled LIKE.
    Q.sameSql("misc_like_escape",
      """SELECT p_partkey, p_type,
        |  p_type LIKE '%MEDIUM%' AS has_medium,
        |  concat(p_brand, '%') LIKE 'Brand#1!%' ESCAPE '!' AS ends_pct_after_1
        |FROM part""".stripMargin),

    // Row/struct comparison — RowComparisonOperator.java.
    Q("misc_struct_compare",
      """SELECT l_orderkey, l_linenumber,
        |  {'a': l_returnflag, 'b': l_linestatus} = {'a': 'R', 'b': 'F'} AS is_rf,
        |  {'a': l_quantity, 'b': l_extendedprice} < {'a': 25.0, 'b': 0.0} AS below
        |FROM lineitem WHERE l_orderkey <= 200""".stripMargin) { (s, _) =>
      s.table("lineitem").filter(col("l_orderkey") <= 200).select(
        col("l_orderkey"), col("l_linenumber"),
        (struct(col("l_returnflag").as("a"), col("l_linestatus").as("b")) ===
          struct(lit("R").as("a"), lit("F").as("b"))).as("is_rf"),
        (struct(col("l_quantity").as("a"), col("l_extendedprice").as("b")) <
          struct(lit(25.0).as("a"), lit(0.0).as("b"))).as("below"))
    },

    // Decimal(p,s) arithmetic — exact sums where double would drift. The
    // aggregation runs in decimal on both engines; only the FINAL value is
    // cast to double because the verifier's pandas bridge renders DuckDB
    // decimals as float64 (Decimal "x.9310" vs float "x.931" never hashes
    // equal with trailing zeros).
    Q.sameSql("misc_decimal",
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS exact_sum,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(5,2))) AS DOUBLE) AS exact_disc,
        |  CAST(CAST(avg(CAST(l_quantity AS DECIMAL(10,2))) AS DECIMAL(16,6)) AS DOUBLE) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // char(n) fixed-length semantics — presto-spi Chars.java / CharType
    // .java: cast truncates to n and pads with spaces, length() of a
    // char(n) value is n, comparisons pad both sides to the wider length
    // (so char(12) vs char(20) of the same text are EQUAL), and a char
    // value is NOT equal to its unpadded varchar form. The oracle
    // restates the padded model in portable SQL (DuckDB's CHAR is plain
    // VARCHAR, no padding).
    Q("misc_char_padding",
      """SELECT c_custkey,
        |  rpad(substr(c_mktsegment, 1, 12), 12, ' ') AS seg_char12,
        |  length(rpad(substr(c_mktsegment, 1, 12), 12, ' ')) AS char_len,
        |  rpad(substr(c_mktsegment, 1, 4), 4, ' ') AS seg_char4,
        |  true AS eq_cross_width,
        |  rpad(substr(c_mktsegment, 1, 12), 12, ' ') = c_mktsegment AS eq_varchar,
        |  rpad(substr(c_mktsegment, 1, 12), 15, ' ') < rpad('FURNITURE', 15, ' ') AS lt_furniture,
        |  concat(rpad('AB', 4, ' '), rpad(substr(c_mktsegment, 1, 12), 12, ' ')) AS concat_chars
        |FROM customer WHERE c_custkey <= 500""".stripMargin) { (s, _) =>
      import graft.functions.Fns
      val seg = col("c_mktsegment")
      val seg12 = Fns.charCast(seg, 12)
      s.table("customer").filter(col("c_custkey") <= 500).select(
        col("c_custkey"),
        seg12.as("seg_char12"),
        length(seg12).cast("long").as("char_len"),
        Fns.charCast(seg, 4).as("seg_char4"),
        Fns.charEq(seg12, Fns.charCast(seg, 20)).as("eq_cross_width"),
        (seg12 === seg).as("eq_varchar"),
        Fns.charLt(seg12, Fns.charCast(lit("FURNITURE"), 15)).as("lt_furniture"),
        concat(Fns.charCast(lit("AB"), 4), seg12).as("concat_chars"))
    },

    // Decimal edge cases — UnscaledDecimal128Arithmetic.java semantics:
    // division + round at a tie (HALF_UP, away from zero — NOT banker's),
    // downcast rounding (Presto/Spark round HALF_UP on cast; DuckDB
    // TRUNCATES, so the oracle restates the cast as an explicit round —
    // that asymmetry is the documented delta), negative-scale round, and
    // p=38 arithmetic near the top of the range (true overflow ERRORS in
    // all three engines — pinned by a spec, not oracle-comparable).
    // Every output renders through an explicit DECIMAL(p,s) -> VARCHAR
    // so scale is pinned and no float bridge is involved.
    Q("misc_decimal2",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) / 7, 4) AS DECIMAL(18,4)) AS VARCHAR) AS div_round4,
        |  CAST(CAST(round(CAST(l_quantity AS DECIMAL(10,1)) / CAST(2 AS DECIMAL(2,0)), 0) AS DECIMAL(12,0)) AS VARCHAR) AS half_tie,
        |  CAST(CAST(round(CAST(l_quantity AS DECIMAL(10,1)) * -1 / CAST(2 AS DECIMAL(2,0)), 0) AS DECIMAL(12,0)) AS VARCHAR) AS neg_half_tie,
        |  CAST(CAST(round(CAST(l_quantity AS DECIMAL(10,1)) + CAST(0.025 AS DECIMAL(4,3)), 2) AS DECIMAL(10,2)) AS VARCHAR) AS downcast_halfup,
        |  CAST(CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), -2) AS DECIMAL(18,0)) AS VARCHAR) AS round_negscale,
        |  CAST(CAST(CAST(l_extendedprice AS DECIMAL(38,2)) * CAST(1000000000 AS DECIMAL(38,0)) AS DECIMAL(38,2)) AS VARCHAR) AS p38_mul
        |FROM lineitem WHERE l_orderkey <= 400""".stripMargin) { (s, _) =>
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val qty = col("l_quantity").cast("decimal(10,1)")
      s.table("lineitem").filter(col("l_orderkey") <= 400).select(
        col("l_orderkey"), col("l_linenumber"),
        round(price / lit(7), 4).cast("decimal(18,4)").cast("string").as("div_round4"),
        round(qty / lit(2).cast("decimal(2,0)"), 0).cast("decimal(12,0)").cast("string").as("half_tie"),
        round(qty * lit(-1) / lit(2).cast("decimal(2,0)"), 0).cast("decimal(12,0)").cast("string").as("neg_half_tie"),
        // Spark-side downcast is a bare CAST — the HALF_UP rounding is
        // the engine's (matching the reference); only DuckDB needs the
        // explicit round() in the oracle text above.
        (qty + lit(0.025).cast("decimal(4,3)")).cast("decimal(10,2)").cast("string").as("downcast_halfup"),
        round(price, -2).cast("decimal(18,0)").cast("string").as("round_negscale"),
        (price.cast("decimal(38,2)") * lit(1000000000L).cast("decimal(38,0)"))
          .cast("decimal(38,2)").cast("string").as("p38_mul"))
    },

    // Year-month interval arithmetic — DateTimeOperators.java.
    Q.sameSql("misc_interval_ym",
      """SELECT o_orderkey,
        |  o_orderdate + INTERVAL 3 MONTH AS plus_3m,
        |  o_orderdate - INTERVAL 1 YEAR AS minus_1y
        |FROM orders WHERE o_orderkey <= 1000""".stripMargin))
}
