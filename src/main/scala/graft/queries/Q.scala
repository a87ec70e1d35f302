package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable query: a Spark-side builder plus (optionally) the
  * equivalent ANSI SQL for the DuckDB oracle. Column names/aliases MUST
  * match between the two — the driver's comparator sorts columns by name
  * before hashing.
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    benchBuild: Option[(SparkSession, String) => DataFrame] = None,
    isSameSql: Boolean = false) {
  def run(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.Engine.registerTables(spark, dir)
    build(spark, dir)
  }

  /** Engine-side-only pipeline for Bench. Contract queries verify a
    * sketch/approximation against an exact recomputation; that exact
    * side is verification scaffolding, not engine work, and timing it
    * misstates the operator's cost forever. Verify still runs the full
    * contract via `build`.
    */
  def withBench(f: (SparkSession, String) => DataFrame): Q = copy(benchBuild = Some(f))

  /** A Spark plan that is not the literal oracle SQL runs somewhere: the
    * build is a hand translation, or the bench path swaps in its own
    * build. The strictcheck gate (`SparkEntry.handPlanQueries`) covers
    * exactly these. */
  def isHandPlan: Boolean = oracle.isDefined && (!isSameSql || benchBuild.isDefined)

  def runBench(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.Engine.registerTables(spark, dir)
    benchBuild.getOrElse(build)(spark, dir)
  }
}

object Q {
  /** Query with a DuckDB oracle. */
  def apply(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, Some(oracle))

  /** Query with only a rows>0 check (non-SQL-expressible op). */
  def noOracle(name: String)(build: (SparkSession, String) => DataFrame): Q =
    Q(name, build, None)

  /** The SAME SQL text runs on Spark and DuckDB — the strongest oracle
    * form (any dialect shim or semantic delta fails the hash).
    */
  def sameSql(name: String, sql: String): Q =
    Q(name, sql)((s, _) => s.sql(sql)).copy(isSameSql = true)
}

/** A module of queries (one per SURVEY §2 area). */
trait QueryModule {
  def queries: Seq[Q]
}
