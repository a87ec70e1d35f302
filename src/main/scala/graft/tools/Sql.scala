package graft.tools

/** CLI runner — the graft analog of presto-cli over the REST lifecycle
  * (SURVEY §3.2: our engine exposes spark.sql + a CLI runner; no HTTP
  * layer is rebuilt — Spark's driver IS the coordinator).
  *
  * Usage:
  *   sbt "runMain graft.tools.Sql <sfDir> <sql...>"
  *   sbt "runMain graft.tools.Sql /root/testdata/sf0.001 SELECT count(*) FROM lineitem"
  *
  * SQL is interpreted through the Presto-dialect front door
  * (graft.sql.PrestoSql), so Presto-named functions and TRY() work.
  */
object Sql {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Sql <sfDir> <sql...>")
    val sfDir = args.head
    val sqlText = args.tail.mkString(" ")
    val spark = graft.engine.Engine.session(s"local[${graft.engine.Engine.cores}]")
    graft.engine.Engine.registerTables(spark, sfDir)
    graft.sql.PrestoSql.sql(spark, sqlText).show(100, truncate = false)
    spark.stop()
  }
}
