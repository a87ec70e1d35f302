package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // the configuration the benchmark times, so the oracle checks it
    val spark = engine.Engine.session(s"local[${engine.Engine.cores}]")
    new java.io.File(outDir).mkdirs()
    // Dev convenience: SPARK_GRAFT_ONLY=q1,q2 limits the dump to named
    // queries (the driver never sets it, so its gate is unaffected).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Standing strictcheck gate (VERDICT r16 item 9): the set of queries
    // whose Spark build is a hand translation of the oracle SQL. The
    // round's verification runs tools/strictcheck.py over exactly this
    // list so Spark-vs-oracle drift in a hand plan cannot hide behind
    // the non-strict comparator.
    Files.writeString(Paths.get(s"$outDir/hand_plans.json"),
      SparkEntry.handPlanQueries.map(q).mkString("[", ",", "]"))
    spark.stop()
  }
}
