package graft.queries

/** Set operations (SURVEY §2.7). The reference lowers INTERSECT/EXCEPT to
  * union + marker aggregation (ImplementIntersectAndExceptAsUnion.java:105,
  * DISTINCT semantics only — INTERSECT ALL / EXCEPT ALL are rejected by
  * that fork); Catalyst does the same via ReplaceIntersectWithSemiJoin /
  * ReplaceExceptWithAntiJoin. UNION is plan-level concat (UnionNode).
  */
object SetOpQueries extends QueryModule {

  def queries: Seq[Q] = Seq(

    Q.sameSql("setop_union_all",
      """SELECT c_custkey AS key, 'customer' AS src FROM customer
        |UNION ALL
        |SELECT o_custkey AS key, 'order' AS src FROM orders""".stripMargin),

    Q.sameSql("setop_union_distinct",
      """SELECT c_nationkey AS nk FROM customer
        |UNION
        |SELECT s_nationkey AS nk FROM supplier""".stripMargin),

    Q.sameSql("setop_intersect",
      """SELECT c_custkey AS key FROM customer
        |INTERSECT
        |SELECT o_custkey AS key FROM orders""".stripMargin),

    Q.sameSql("setop_except",
      """SELECT c_custkey AS key FROM customer
        |EXCEPT
        |SELECT o_custkey AS key FROM orders""".stripMargin),

    // Spark extension beyond the reference (which rejects INTERSECT ALL /
    // EXCEPT ALL): multiset semantics, free via Catalyst.
    Q.sameSql("setop_except_all",
      """SELECT l_partkey AS key FROM lineitem WHERE l_quantity > 10
        |EXCEPT ALL
        |SELECT l_partkey AS key FROM lineitem WHERE l_quantity > 40""".stripMargin))
}
