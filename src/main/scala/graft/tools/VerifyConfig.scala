package graft.tools

import org.apache.spark.sql.{Row, SparkSession}

/** Cross-configuration verifier — the reference's presto-verifier
  * contract (presto-verifier/.../Validator.java: replay a query corpus
  * against a control and a test configuration, compare checksums/row
  * counts, emit a per-query verdict) applied to the WHOLE oracle corpus
  * rather than a hand-picked subset.
  *
  * Control = the engine session the benchmark times. Each test
  * configuration is that same session plus its overrides, e.g. the
  * forced-spill configuration from SpillSpecs (every blocking operator
  * pushed to disk: sorter force-spill thresholds, operator buffer spill
  * thresholds, object-agg sort fallback, broadcast disabled so joins
  * take the spilling sort-merge path). Same shuffle partition count on
  * both sides so partition-seeded operators (sampling) see identical
  * inputs.
  *
  * What this pins at 100 TB: a production run WILL spill and WILL lose
  * broadcast eligibility on some joins — every query's results must be
  * independent of those physical choices. Row multisets compare
  * pairwise after a canonical sort; double/float values at relative
  * tolerance (spilling legitimately reorders float accumulation).
  *
  * Usage: sbt "runMain graft.tools.VerifyConfig [sfDir] [outJson]"
  * Writes one JSON object with per-query {rows, match} + a summary.
  */
object VerifyConfig {

  private def sortKey(v: Any): String = v match {
    case d: Double => "%.6e".format(d)
    case f: Float  => "%.4e".format(f)
    case r: Row    => r.toSeq.map(sortKey).mkString("[", ",", "]")
    case s: Seq[_] => s.map(sortKey).mkString("[", ",", "]")
    case other     => String.valueOf(other)
  }

  private def valuesMatch(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) =>
      (a.isNaN && b.isNaN) || a == b ||
        math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))
    case (a: Float, b: Float) =>
      (a.isNaN && b.isNaN) || a == b ||
        math.abs(a - b) <= 1e-5f * math.max(math.abs(a), math.abs(b))
    case (a: Row, b: Row) =>
      a.length == b.length && a.toSeq.zip(b.toSeq).forall(t => valuesMatch(t._1, t._2))
    case (a: Seq[_], b: Seq[_]) =>
      a.length == b.length && a.zip(b).forall(t => valuesMatch(t._1, t._2))
    case (a: Array[_], b: Array[_]) =>
      a.length == b.length && a.zip(b).forall(t => valuesMatch(t._1, t._2))
    case (a, b) => String.valueOf(a) == String.valueOf(b)
  }

  /** Row-multiset checksum: MD5 over canonically rendered, sorted rows
    * (floats at 6 significant digits — the INFORMATIONAL fingerprint;
    * the verdict itself is the tolerance-based pairwise compare). */
  private def checksum(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(sortKey(r).getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def runCorpus(spark: SparkSession, sfDir: String)
      : Map[String, Either[String, Array[Row]]] = {
    graft.engine.Engine.registerTables(spark, sfDir)
    // dev convenience mirroring Verify: SPARK_GRAFT_ONLY=prefix1,prefix2
    // sweeps only matching queries (the driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
      .map { case (name, fn) =>
      name -> (try Right(fn(spark, sfDir).collect().sortBy(sortKey))
        catch { case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.toString).take(300)) })
    }.toMap
  }

  /** The swept test configurations. forced-spill/broadcast-off exercises
    * every disk-degradation path; aqe-off pins that no result depends on
    * adaptive re-planning (skew splits, dynamic coalescing, runtime
    * join-strategy switches) — both WILL differ between a laptop and a
    * 1000-executor run. */
  private val testConfigs: Seq[(String, Map[String, String])] = Seq(
    "forced_spill" -> Map(
      "spark.shuffle.spill.numElementsForceSpillThreshold" -> "2000",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2",
      "spark.sql.windowExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.windowExec.buffer.spill.threshold" -> "128",
      "spark.sql.sortMergeJoinExec.buffer.in.memory.threshold" -> "64",
      "spark.sql.sortMergeJoinExec.buffer.spill.threshold" -> "128",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"),
    "aqe_off" -> Map(
      "spark.sql.adaptive.enabled" -> "false"))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("VERIFY_CONFIG.json")

    // every configuration gets a fresh context (several knobs are core
    // SparkConf settings, not session-level SQLConf)
    def sweep(overrides: Map[String, String]) = {
      val s = graft.engine.Engine.session(
        s"local[${graft.engine.Engine.cores}]", overrides = overrides)
      try runCorpus(s, sfDir) finally s.stop()
    }
    val controlResults = sweep(Map.empty)
    val testResults: Seq[(String, Map[String, Either[String, Array[Row]]])] =
      testConfigs.map { case (label, confs) => label -> sweep(confs) }

    def js(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\n\\r\\t]", " ") + "\""
    def matches(ctl: Either[String, Array[Row]], tst: Either[String, Array[Row]]): Boolean =
      (ctl, tst) match {
        case (Right(c), Right(t)) =>
          c.length == t.length && c.zip(t).forall { case (a, b) => valuesMatch(a, b) }
        case _ => false
      }
    val names = controlResults.keys.toSeq.sorted
    val perQuery = names.map { name =>
      val ctl = controlResults(name)
      val per = testResults.map { case (label, res) =>
        (ctl, res(name)) match {
          case (Right(_), Right(t)) =>
            s"${js(label)}: {\"rows\": ${t.length}, \"checksum\": ${js(checksum(t))}, " +
              s"\"match\": ${matches(ctl, res(name))}}"
          case (_, Left(e)) => s"${js(label)}: {\"match\": false, \"error\": ${js(e)}}"
          case (Left(e), _) => s"${js(label)}: {\"match\": false, \"error_control\": ${js(e)}}"
        }
      }.mkString(", ")
      val base = ctl match {
        case Right(c) => s"\"rows\": ${c.length}, \"checksum\": ${js(checksum(c))}"
        case Left(e) => s"\"error_control\": ${js(e)}"
      }
      s"${js(name)}: {$base, $per}"
    }
    val mismatches = names.filter(n =>
      testResults.exists { case (_, res) => !matches(controlResults(n), res(n)) })
    val nConfigs = testResults.size
    val json = new StringBuilder
    json.append("{\"harness\": \"presto-verifier analog (Validator.java contract)\",\n")
    json.append(s""" "sf": ${js(sfDir)},""")
    json.append(s""" "test_configs": [${testConfigs.map(c => js(c._1)).mkString(", ")}],""")
    json.append(s""" "n_queries": ${names.size},""")
    json.append(s""" "n_match_all_configs": ${names.size - mismatches.size},""")
    json.append(s""" "mismatches": [${mismatches.map(js).mkString(", ")}],\n""")
    // Hand-translated plans (Spark build != literal oracle SQL): the set
    // tools/strictcheck.py must driver-exact-pass every round (VERDICT
    // r16 item 9). Published here so the gate's coverage is auditable.
    json.append(s""" "hand_plan_queries": [${
      graft.SparkEntry.handPlanQueries.map(js).mkString(", ")}],\n""")
    json.append(" \"queries\": {\n  ")
    json.append(perQuery.mkString(",\n  "))
    json.append("\n }}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    println(s"wrote $out: ${names.size - mismatches.size}/${names.size} match across $nConfigs configs" +
      (if (mismatches.nonEmpty) s"; MISMATCHES: ${mismatches.mkString(", ")}" else ""))
  }
}
