package graft.tools

import org.apache.spark.sql.SparkSession

/** Plan-determinism sweep — the reference's TestQueryPlanDeterminism /
  * PlanDeterminismChecker.java analog (presto-tests): every corpus query
  * is planned TWICE, each time in a fresh child session (fresh temp
  * views, fresh per-session caches), and the canonicalized optimized +
  * pre-execution physical plans must be identical. Nondeterministic
  * rule behavior (iteration over unordered sets, id-dependent rewrites,
  * time-dependent constant folding) shows up here as a plan diff long
  * before it becomes a flaky wrong-plan regression at scale.
  *
  * Canonicalization strips run-specific identifiers that legitimately
  * differ between plannings of the SAME statement: expression ids,
  * plan/stage/subquery ids, cached/checkpointed RDD ids, object
  * addresses, generated query ids, and filesystem paths (DDL targets
  * embed per-run temp dirs). Everything else — operator tree, join
  * strategies, pushed filters, partitioning — must match byte-for-byte.
  *
  * Output: one JSON file, {query: {optimized_match, executed_match,
  * err}}, written to args(1) (default PLAN_DETERMINISM.json).
  */
object PlanDeterminism {

  private[tools] def canon(s: String): String = s
    .replaceAll("#\\d+", "#x")                       // expression ids
    // lambda variable names carry a GLOBAL (JVM-wide, not per-session)
    // counter suffix: `lambda x_65` vs `lambda x_134` for the same
    // higher-order function — id noise, not plan nondeterminism
    .replaceAll("\\b([A-Za-z]+)_\\d+#", "$1_N#")
    .replaceAll("_common_expr_\\d+", "_common_expr_N") // CSE aliases share a JVM-global counter
    .replaceAll("plan_id=\\d+", "plan_id=x")
    .replaceAll("\\[id=#?\\d+\\]", "[id=x]")          // exchange/stage ids
    .replaceAll("exprId=\\d+", "exprId=x")
    .replaceAll("ExistingRDD\\[\\d+\\]", "ExistingRDD[x]")
    .replaceAll("(?i)\\brdd_\\d+", "rdd_x")
    .replaceAll("Scan ExistingRDD[^\\n]*", "Scan ExistingRDD x") // checkpoint scans carry rdd ids + callsites
    .replaceAll("@[0-9a-fA-F]{4,}", "@x")            // object identity hashes
    .replaceAll("\\d{8}_\\d{6}_\\d{5}_graft", "qid") // generated query ids
    .replaceAll("(file|hdfs):[^,\\]\\s)]+", "path")  // per-run temp/warehouse paths
    .replaceAll("/[-A-Za-z0-9_./]*/(tmp|target|warehouse)[-A-Za-z0-9_./]*", "path")
    .replaceAll("Statistics\\([^)]*\\)", "Statistics(x)")
    // FileScan renders DataFilters truncated at a fixed CHARACTER width;
    // differing id digit-widths (x_65 vs x_134) shift the cut point, so
    // the partial token before "..." differs — strip it (the full
    // predicate is still compared via the optimized plan)
    .replaceAll("\\S*\\.\\.\\.", "TRUNC")
    // ...and when the width shift moves the cut across a whole token
    // boundary, the visible predicate LIST differs too ("(a >= x), (a <
    // TRUNC" vs "(a TRUNC") — canon the entire truncated filter list,
    // the optimized plan still compares every predicate in full
    .replaceAll("Filters: \\[[^\\n\\]]*TRUNC", "Filters: TRUNC")
    .replaceAll("cachedcolumnbuffers[^\\n]*", "cachedcolumnbuffers x")
    .replaceAll("Location: [^\\n]*", "Location: x")

  /** Known, verified-benign variances (the reference checker's
    * "expected differences" allowance): Spark's
    * RewriteDistinctAggregates assigns the Expand's grouping ids by
    * iterating a map keyed on expression-id hashes, so two plannings
    * of a multi-column DISTINCT aggregate can swap gid 1/2 between the
    * distinct groups — the FILTER (WHERE gid = n) predicates and the
    * Expand projections swap CONSISTENTLY, so results are identical.
    * Spark-internal rule behavior, not a graft rewrite. */
  private val expectedVariance: Map[String, String] = Map(
    "agg_distinct" -> ("RewriteDistinctAggregates gid assignment iterates an " +
      "expr-id-keyed map (Spark-internal); gids swap consistently between " +
      "Expand and FILTER, results unchanged"),
    // Same Spark-internal gid lottery, surfaced by the r17 sf0.1 sweep
    // (expr-id dependent, so which queries show it varies with session
    // history): the two count-distinct branches swap gid 1<->2 between
    // plannings, consistently across Expand and FILTER. Results proven
    // identical by the VERIFY_CONFIG sf0.1 sweep + oracle hash.
    "ev_retention" -> ("RewriteDistinctAggregates gid assignment iterates an " +
      "expr-id-keyed map (Spark-internal); gids swap consistently between " +
      "Expand and FILTER, results unchanged"))

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outPath = if (args.length > 1) args(1) else "PLAN_DETERMINISM.json"
    val spark = graft.engine.Engine.session(s"local[${graft.engine.Engine.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

    def planOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, String) = {
      // fresh child session: per-session temp views, conf, caches — the
      // checker's "plan the same statement in a new context" contract
      val s = spark.newSession()
      val df = fn(s, sfDir)
      val qe = df.queryExecution
      (canon(qe.optimizedPlan.toString), canon(qe.executedPlan.toString))
    }

    val results = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
        val verdict =
          try {
            val (o1, e1) = planOnce(fn)
            val (o2, e2) = planOnce(fn)
            val om = o1 == o2
            val em = e1 == e2
            val expected = (!om || !em) && expectedVariance.contains(name)
            if (!om || !em) {
              if (expected)
                System.err.println(s"[plandet] $name expected variance: ${expectedVariance(name)}")
              else {
                System.err.println(s"[plandet] $name MISMATCH (optimized=$om executed=$em)")
                if (!om) System.err.println(firstDiff(o1, o2))
                else System.err.println(firstDiff(e1, e2))
              }
            }
            if (expected)
              s"""{"optimized_match": $om, "executed_match": $em, "variance_expected": true, "note": "${expectedVariance(name)}", "err": null}"""
            else
              s"""{"optimized_match": $om, "executed_match": $em, "err": null}"""
          } catch {
            case e: Throwable =>
              val msg = Option(e.getMessage).getOrElse(e.toString)
                .replace("\\", "\\\\").replace("\"", "'").replaceAll("[\\n\\r\\t]", " ")
              s"""{"optimized_match": false, "executed_match": false, "err": "$msg"}"""
          }
        name -> verdict
      }
    val json = results.map { case (k, v) => s"""  "$k": $v""" }
      .mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), json)
    val bad = results.count(r =>
      !r._2.contains("\"optimized_match\": true, \"executed_match\": true") &&
        !r._2.contains("\"variance_expected\": true"))
    val variances = results.count(_._2.contains("\"variance_expected\": true"))
    println(s"[plandet] ${results.size - bad - variances}/${results.size} deterministic" +
      s" + $variances documented variances; $bad mismatches -> $outPath")
    spark.stop()
  }

  /** First differing line pair, for the mismatch log. */
  private def firstDiff(a: String, b: String): String = {
    val la = a.linesIterator.toSeq; val lb = b.linesIterator.toSeq
    la.zipAll(lb, "<eof>", "<eof>").zipWithIndex
      .find { case ((x, y), _) => x != y }
      .map { case ((x, y), i) => s"  line $i:\n    A: $x\n    B: $y" }
      .getOrElse("  (no line diff — whitespace?)")
  }
}
