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

  /** Spark's RewriteDistinctAggregates numbers the distinct groups of a
    * multi-DISTINCT aggregate (`gid`) by iterating a map keyed on
    * expression-id hashes, so two plannings of the same statement can
    * number the groups differently, depending on how many expression ids
    * earlier queries used. The renumbering moves the gid values in the
    * Expand rows and in each `FILTER (WHERE gid = n)`, and the order of
    * the group columns in every list that carries `gid`. Two plans pass
    * only if they are equal once each gid value is named by the Expand row
    * it selects, so the FILTERs must follow the same renumbering as the
    * Expand, and once the lists that carry `gid` are read as sets. */
  private[graft] def sameModuloGid(a: String, b: String): Boolean = {
    val na = gidNormalized(a)
    na.isDefined && na == gidNormalized(b)
  }

  /** `plan` with every gid value replaced by the content of its Expand
    * row, every Expand written as a set of rows of (column, value) pairs
    * and every other list holding `gid#x` sorted; None if the plan has no
    * gid, a gid value no Expand row defines, or one value naming two rows. */
  private def gidNormalized(plan: String): Option[String] = {
    val expands = "Expand \\[".r.findAllMatchIn(plan).toSeq.map { m =>
      val (rows, afterRows) = listAt(plan, m.start + 7)
      val (outs, end) = listAt(plan, afterRows + 2)
      val outNames = outs.map(text(plan, _))
      val canonRows = rows.map(r => listAt(plan, r._1)._1.map(text(plan, _)))
        .map(vals => outNames.zip(vals).partition(_._1 == "gid#x"))
        .collect { case (Seq((_, gid)), cols) =>
          gid -> cols.map { case (o, v) => s"$o=$v" }.sorted.mkString("{", ", ", "}") }
      (m.start, end, outNames, canonRows)
    }.filter(_._3.contains("gid#x"))
    val names = expands.flatMap(_._4).distinct
    if (names.isEmpty || names.map(_._1).distinct.size != names.size) None
    else {
      val name = names.toMap
      val expandText = expands.foldRight(plan) { case ((from, to, outs, rows), p) =>
        p.substring(0, from) + "Expand " + rows.map(_._2).sorted.mkString("{", ", ", "}") +
          " -> " + outs.sorted.mkString("{", ", ", "}") + p.substring(to)
      }
      val filters = "gid#x = (\\d+)".r
      if (filters.findAllMatchIn(expandText).exists(m => !name.contains(m.group(1)))) None
      else {
        val named = filters.replaceAllIn(expandText,
          m => scala.util.matching.Regex.quoteReplacement(s"gid#x = ${name(m.group(1))}"))
        val lists = named.indices.filter(i => named(i) == '[' || named(i) == '(')
          .map(i => (i, listAt(named, i)))
          .collect { case (i, (elems, end)) if elems.exists(text(named, _) == "gid#x") =>
            (i, end, elems.map(text(named, _)).sorted) }
        Some(lists.foldRight(named) { case ((from, to, elems), p) =>
          p.substring(0, from + 1) + elems.mkString(", ") + p.substring(to - 1)
        })
      }
    }
  }

  private def text(s: String, span: (Int, Int)): String = s.substring(span._1, span._2)

  /** The trimmed top-level elements of the comma-separated list whose
    * `[` or `(` is at `open`, and the index just past its closing bracket
    * (no elements if no list opens there). */
  private def listAt(s: String, open: Int): (Seq[(Int, Int)], Int) =
    if (open >= s.length || (s(open) != '[' && s(open) != '(')) (Nil, open)
    else {
      val out = Seq.newBuilder[(Int, Int)]
      var (depth, from, i) = (0, open + 1, open)
      def element(end: Int): Unit = {
        var (a, b) = (from, end)
        while (a < b && s(a) == ' ') a += 1
        while (b > a && s(b - 1) == ' ') b -= 1
        if (b > a) out += ((a, b))
      }
      while (i < s.length && (i == open || depth > 0)) {
        s(i) match {
          case '[' | '(' | '{' => depth += 1
          case ']' | ')' | '}' =>
            depth -= 1
            if (depth == 0) element(i)
          case ',' if depth == 1 => element(i); from = i + 1
          case _ =>
        }
        i += 1
      }
      (out.result(), i)
    }

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
            val renumbered = (!om || !em) && sameModuloGid(o1 + "\n" + e1, o2 + "\n" + e2)
            if (renumbered)
              System.err.println(s"[plandet] $name equal after one gid renumbering")
            else if (!om || !em) {
              System.err.println(s"[plandet] $name MISMATCH (optimized=$om executed=$em)")
              if (!om) System.err.println(firstDiff(o1, o2))
              else System.err.println(firstDiff(e1, e2))
            }
            if (renumbered)
              s"""{"optimized_match": $om, "executed_match": $em, "gid_renumbered": true, "err": null}"""
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
    val renumbered = results.count(_._2.contains("\"gid_renumbered\": true"))
    val bad = results.count(r =>
      !r._2.contains("\"optimized_match\": true, \"executed_match\": true")) - renumbered
    println(s"[plandet] ${results.size - bad - renumbered}/${results.size} deterministic" +
      s" + $renumbered equal after a gid renumbering; $bad mismatches -> $outPath")
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
