package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._
import graft.llm.{CurationQueries, LlmQueries, MultimodalQueries, PipelineQueries, TextIndexQueries}
import graft.sql.DdlQueries
import graft.sources.SourceQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates every implemented operator's query from the module registry;
  * each query has a DuckDB-oracle SQL twin unless the op is not
  * SQL-expressible (sketches, sampling), which get rows-only checks.
  */
object SparkEntry {

  /** All query modules (one per SURVEY §2 area). */
  def modules: Seq[QueryModule] = Seq(
    TpchQueries, TpcdsShapeQueries, JoinQueries, AggQueries, WindowQueries, SetOpQueries, ShapeQueries,
    FuncQueries, GeoQueries, MlQueries, EventQueries, SketchQueries, LlmQueries, MultimodalQueries,
    PipelineQueries, CurationQueries, TextIndexQueries, DdlQueries, MetaQueries, SourceQueries,
    MiscQueries)

  private lazy val all: Seq[Q] = modules.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    all.head.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> ((s: SparkSession, dir: String) => q.run(s, dir))).toMap

  /** Bench-time variants: contract queries (sketch-vs-exact checks) run
    * only their engine-side pipeline; everything else is identical to
    * `queries`.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> ((s: SparkSession, dir: String) => q.runBench(s, dir))).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> o)).toMap

  /** Hand-translated plans (`Q.isHandPlan`): queries whose Spark build,
    * or bench build, is NOT the literal oracle SQL text. The oracle hash
    * verifies the SQL; the strictcheck gate (tools/strictcheck.py over
    * this list, VERDICT r16 item 9) is what pins the hand translation to
    * driver-exact equality every round. Verify dumps the list alongside
    * oracle_sql.json so the gate's coverage is auditable from artifacts.
    */
  def handPlanQueries: Seq[String] =
    all.filter(_.isHandPlan).map(_.name).sorted
}
